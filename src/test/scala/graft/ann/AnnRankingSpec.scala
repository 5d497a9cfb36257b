package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[Ranking.partialTopK]]: one `query_id` exchange with the partial
  * top-k below it, and the rows of the per-(query, partition) two-phase
  * form it replaced. */
class AnnRankingSpec extends SparkSpec {

  /** Every node of an executed plan, through adaptive plans and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def hashKeys(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
    case h: HashPartitioning => h.expressions.map {
      case a: AttributeReference => a.name
      case other => other.sql
    }
    case _ => Nil
  }

  test("ann_bruteforce runs one query_id hash exchange, with a WindowGroupLimit under it") {
    val df = BruteForceKnn.annBruteforce(spark, sfDir)
    assert(df.collect().nonEmpty)
    val hashed = nodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec if hashKeys(e).nonEmpty => e
    }
    assert(hashed.map(hashKeys) == Seq(Seq("query_id")), hashed.map(hashKeys))
    assert(nodes(hashed.head.child).exists(_.isInstanceOf[WindowGroupLimitExec]),
      hashed.head.treeString)
  }

  /** The per-(query, partition) then per-query form `partialTopK` replaced. */
  private def twoPhase(scored: DataFrame, k: Int, order: Seq[Column]): DataFrame = {
    val part = Window.partitionBy(col("query_id"), spark_partition_id()).orderBy(order: _*)
    val full = Window.partitionBy(col("query_id")).orderBy(order: _*)
    scored
      .withColumn("__pr", row_number().over(part)).filter(col("__pr") <= k)
      .withColumn("rank", row_number().over(full)).filter(col("rank") <= k)
      .drop("__pr")
  }

  test("partialTopK returns the two-phase rows when a query's candidates span every partition") {
    val parts = 8
    // three queries, every one present in all 8 partitions; scores tie
    // in blocks so the neighbor_id tie-break decides ranks
    val scored = spark.range(0, 4000, 1, parts)
      .select((col("id") % 3).as("query_id"), col("id").as("neighbor_id"),
        floor(col("id") * 7919 % 1009 / 4).cast("double").as("cos_sim"))
    val spans = scored.select(col("query_id"), spark_partition_id().as("p")).distinct()
      .groupBy("query_id").count().collect().map(_.getLong(1))
    assert(spans.toSeq == Seq.fill(3)(parts.toLong))
    val order = Seq(col("cos_sim").desc, col("neighbor_id"))
    for (k <- Seq(1, 5, 40)) {
      def rows(df: DataFrame) = df.select("query_id", "neighbor_id", "cos_sim", "rank")
        .collect().map(_.toSeq).toSet
      val got = rows(Ranking.partialTopK(scored, k, order))
      assert(got.size == 3 * k)
      assert(got == rows(twoPhase(scored, k, order)), s"k=$k")
    }
  }
}
