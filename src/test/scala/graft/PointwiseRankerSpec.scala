package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.ml.{LogRegStep, PointwiseRanker}
import graft.operators.RankMetrics

/** The pointwise fit step + leaderboard composition. */
class PointwiseRankerSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("planted signal: popularity separates labels, the step finds it") {
    // label 1 iff item_pop high; user_act pure noise. The Newton step's
    // w1 must be positive and dominate w2.
    val feats = Seq(
      (1L, 1L, 1, 90L, 5L), (1L, 2L, 1, 80L, 5L), (1L, 3L, 0, 10L, 5L),
      (2L, 1L, 1, 90L, 7L), (2L, 4L, 0, 20L, 7L), (2L, 5L, 0, 15L, 7L),
      (3L, 2L, 1, 80L, 3L), (3L, 6L, 0, 12L, 3L), (3L, 7L, 0, 18L, 3L))
      .toDF("user_id", "item_id", "label", "item_pop", "user_act")
    val w = LogRegStep.newtonStep(feats, col("label") === 1,
      col("item_pop"), col("user_act"), 10L, 10L).collect()(0)
    assert(w.getAs[Long]("w1_micros") > 0L)
    // contribution over each feature's observed range: popularity
    // (range ~80) must dominate the noise activity (range ~4)
    assert(w.getAs[Long]("w1_micros") * 80L >
      math.abs(w.getAs[Long]("w2_micros")) * 4L)
    // scoring by the fitted margin ranks every positive above every
    // negative within each user -> perfect nDCG for all 3 users
    val scored = feats.crossJoin(broadcast(
      LogRegStep.newtonStep(feats, col("label") === 1,
          col("item_pop"), col("user_act"), 10L, 10L)
        .select("w0_micros", "w1_micros", "w2_micros")))
      .select(col("user_id"), col("item_id"), col("label"),
        (col("w0_micros") + col("item_pop") * col("w1_micros")
          + col("user_act") * col("w2_micros")).as("m"))
    val metrics = RankMetrics.rankingMetrics(
      scored, "user_id", "item_id", "m", "label", k = 10, relevant = 1)
      .collect()
    assert(metrics.length === 3)
    assert(metrics.forall(_.getAs[Long]("ndcg_permicro") === 1000000L))
    assert(metrics.forall(_.getAs[Long]("rr_micros") === 1000000L))
  }

  test("gated fit: defined coefficients over the real labeled frame") {
    val r = PointwiseRanker.pointwiseFit(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("n") > 0L)
    assert(r.getAs[Long]("n_pos") > 0L && r.getAs[Long]("n_pos") < r.getAs[Long]("n"))
    assert(!r.isNullAt(r.fieldIndex("w1_micros")))
  }

  test("gated leaderboard: one row, metrics in range, deterministic") {
    val rows = PointwiseRanker.pointwiseEval(spark, sfDir).collect()
    assert(rows.length === 1)
    val r = rows(0)
    assert(r.getAs[String]("model") === "pointwise_logreg")
    assert(r.getAs[Long]("n_scored") > 0L)
    val ndcg = r.getAs[Long]("mean_ndcg_permicro")
    assert(ndcg > 0L && ndcg <= 1000000L)
    assert(r.getAs[Long]("mean_rr_micros") <= 1000000L)
    val again = PointwiseRanker.pointwiseEval(spark, sfDir).collect()(0)
    assert(r.toString === again.toString)
  }

  test("pointwise_fit: no build job or pin, one user exchange read twice, no anti-join") {
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    var fit: DataFrame = null
    assert(jobsDuring { fit = PointwiseRanker.pointwiseFit(spark, sfDir) } === 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet === pinned)
    fit.collect()
    val plan = fit.queryExecution.executedPlan
    def byUser(e: ShuffleExchangeExec) = e.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), _) => a.name == "user_id"
      case _ => false
    }
    val userExchanges = collect(plan) { case e: ShuffleExchangeExec if byUser(e) => e }
    assert(userExchanges.size === 1, plan.treeString)
    val reused = collect(plan) { case r: ReusedExchangeExec => r.child }
    assert(reused === userExchanges, plan.treeString)
    assert(collect(plan) { case j: BaseJoinExec if j.joinType == LeftAnti => j }
      .isEmpty, plan.treeString)
  }
}
