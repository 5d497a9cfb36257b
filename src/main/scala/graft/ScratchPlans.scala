package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev-only plan inspector for optimization rounds: dumps
  * `.explain("formatted")` of INTERNAL subchains (the pieces hidden
  * behind localCheckpoint boundaries in the gated keys' final plans)
  * so exchange/join claims can be checked where PlanDump cannot see.
  * Not part of the query map or the bench contract.
  *
  * Usage: ScratchPlans <what> [outFile]
  */
object ScratchPlans {
  def main(args: Array[String]): Unit = {
    val what = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = what match {
      case "tpe_feats" =>
        graft.ml.TpePointwise.drawFeatures(spark, sfDir)._1
      case "recsys_truth" =>
        // the evaluate() truth-distinct subchain
        import org.apache.spark.sql.functions._
        val factRows = ParquetMeta.rowCount(spark, s"$sfDir/lineitem.parquet")
        val p = Checkpoints.pinWide(
          Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
            .join(Tables.orders(spark, sfDir)
              .select("o_orderkey", "o_custkey", "o_orderdate"),
              col("o_orderkey") === col("l_orderkey"))
            .select(col("o_custkey").as("cust"), col("l_partkey").as("item"),
              col("o_orderdate").as("d")), factRows * 56L)
        p.filter(col("d") >= lit("1999-01-01").cast("date"))
          .select(col("cust").as("u"), col("item").as("j")).distinct()
      case "recsys_perUser" =>
        // evaluate()'s marked→window→perUser subchain, checkpoint-free,
        // over the real recsysEval recs
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val dir = sfDir
        val factRows = ParquetMeta.rowCount(spark, s"$dir/lineitem.parquet")
        val p = Checkpoints.pinWide(
          Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
            .join(Tables.orders(spark, dir)
              .select("o_orderkey", "o_custkey", "o_orderdate"),
              col("o_orderkey") === col("l_orderkey"))
            .select(col("o_custkey").as("cust"), col("l_partkey").as("item"),
              col("o_orderdate").as("d")), factRows * 56L)
        val train = p.filter(col("d") < lit("1999-01-01").cast("date"))
        val test = p.filter(col("d") >= lit("1999-01-01").cast("date"))
        val partRows = ParquetMeta.rowCount(spark, s"$dir/part.parquet")
        val (covisit, covisitRows) = Checkpoints.pinCounted(
          graft.operators.Covisitation.covisitTopM(train, "cust", "item",
            graft.operators.Covisitation.M,
            parts = 32),
          partRows * 10 * 48L)
        val recs = graft.operators.Covisitation.recommend(train, covisit,
          covisitRows, "cust", "item", graft.operators.Covisitation.K,
          parts = 32) // the real recsysEval's scoreParts bound
        val t = test.select(col("cust").as("u"), col("item").as("j"))
          .distinct().localCheckpoint(true)
        val marked = recs
          .select(col("cust").as("u"), col("item").as("j"), col("rk"))
          .join(t.withColumn("__hit", lit(1L)), Seq("u", "j"), "left")
          .na.fill(0L, Seq("__hit"))
          .withColumn("__hits_le", sum(col("__hit")).over(
            Window.partitionBy(col("u")).orderBy(col("rk"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val nRel = t.groupBy("u").agg(count(lit(1)).as("n_rel"))
        marked.groupBy("u")
          .agg(sum(when(col("rk") <= 20, col("__hit"))).as("h"),
            sum(when(col("__hit") === 1L && col("rk") <= 20,
              expr("(1000000 * __hits_le) div rk")).otherwise(lit(0L))).as("a"))
          .join(nRel, Seq("u"))
      case other => sys.error(s"unknown: $other")
    }
    val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // execute through the noop sink so AQE finalizes, then dump the
    // EXECUTED adaptive plan too — coalesced reads and runtime join
    // strategy changes are invisible in the static explain. The write
    // runs its own QueryExecution, so capture it via listener.
    val planBuf = new StringBuilder
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          planBuf.synchronized {
            planBuf.append(s"\n--- executed ($funcName) ---\n")
            planBuf.append(qe.executedPlan.toString)
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    df.write.format("noop").mode("overwrite").save()
    // listener fires synchronously on the action thread for QE
    // listeners routed via ExecutionListenerManager; a short bounded
    // wait covers the async path
    var waited = 0
    while (planBuf.synchronized(planBuf.isEmpty) && waited < 5000) {
      Thread.sleep(100); waited += 100
    }
    val fin = "\n\n=== FINAL ADAPTIVE PLAN (after execution) ===\n" +
      planBuf.synchronized(planBuf.toString)
    if (args.length > 1)
      java.nio.file.Files.write(java.nio.file.Paths.get(args(1)),
        (txt + fin).getBytes("UTF-8"))
    else println(txt + fin)
    spark.stop()
  }
}
