package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainUtils, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Measurement tooling for the optimization rounds (guide §1): dumps the
  * formatted explain of named query keys' EXECUTED plans to files so plan
  * claims (Exchange counts, join strategies, PushedFilters) are checkable
  * without running Spark. Session config matches [[Bench]] exactly —
  * the captured plan is the benched plan.
  *
  * Each key's frame first runs to completion through its own executed
  * plan, its rows dropped as the `noop` sink drops them. The dump is then
  * AQE's final plan, without the initial plan beside it: runtime changes
  * (broadcast conversion, coalesced reads) show, and a subtree read twice
  * shows once plus a `ReusedExchange`.
  *
  * Usage: PlanDump <outDir> <suffix> key1 key2 ...
  * Writes <outDir>/<key>_<suffix>.txt.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val keys = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (key <- keys) {
      spark.sparkContext.setJobDescription(s"plandump: $key")
      val qe = SparkEntry.queries(key)(spark, sfDir).queryExecution
      SQLExecution.withNewExecutionId(qe, Some(s"plandump: $key")) {
        qe.executedPlan.execute().foreach(_ => ())
      }
      val finalPlan = qe.executedPlan.transformUpWithSubqueries {
        case a: AdaptiveSparkPlanExec => a.executedPlan
      }
      val txt = new StringBuilder("== Physical Plan ==\n")
      ExplainUtils.processPlan(finalPlan, s => { txt.append(s); () })
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${key}_$suffix.txt"),
        txt.toString.getBytes("UTF-8"))
      // free any checkpoint blocks the construction pinned
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      println(s"[plandump] wrote ${key}_$suffix.txt")
    }
    spark.stop()
  }
}
