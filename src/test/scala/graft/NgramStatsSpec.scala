package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.functions.{NgramStats, TextScoring}

/** Gopher repetition signals as one projection over each document's
  * token array, against the explode/regroup form they replaced. */
class NgramStatsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The earlier form, kept as the reference: (doc, gram) counts, then
    * per-doc aggregates, bigram side left-joined and zero-filled. */
  private def regroupReference(docs: DataFrame): DataFrame = {
    val withToks = docs.select(col("doc_id"),
      TextScoring.tokens(col("text")).as("__ts"))
    val uniDoc = withToks.select(col("doc_id"), explode(col("__ts")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        max("c").as("top_token_n"))
    val bigDoc = withToks.filter(size(col("__ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(__ts) - 1), i -> named_struct(" +
          "'w1', element_at(__ts, i), 'w2', element_at(__ts, i + 1)))")).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("top_bigram_n"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).as("dup_bigram_types"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_bigram_n"))
    uniDoc.join(bigDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("top_bigram_n", "dup_bigram_types", "dup_bigram_n"))
  }

  private val docs = Seq(
    (1L, "b a b a c c"),                   // tied top tokens (a, b, c: 2 each)
    (2L, "x y x y x y z x y"),             // "x y" 4 times, "y x" twice
    (3L, "solo"),                          // one token: bigram columns 0
    (4L, ""),                              // no tokens: absent
    (5L, "!!! ..."),                       // punctuation only: absent
    (6L, "The the THE cat, the cat."),     // case folds, punctuation splits
    (7L, "a1 b2 a1 b2 a1 b2 a1")           // alternating: two long bigram runs
  ).toDF("doc_id", "text")

  test("one projection equals the explode/regroup reference") {
    val got = NgramStats.repetitionSignals(docs, "doc_id", "text")
    val want = regroupReference(docs)
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"${got.collect().toSeq} vs ${want.collect().toSeq}")
    val rows = got.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 6L, 7L))
    assert(rows(1L) == Seq(6L, 3L, 2L, 2L, 1L, 2L))
    assert(rows(2L) == Seq(9L, 3L, 4L, 4L, 2L, 6L))
    assert(rows(3L) == Seq(1L, 1L, 1L, 0L, 0L, 0L))
  }

  test("executed plan over an in-memory frame has no exchange and no aggregate") {
    val got = NgramStats.repetitionSignals(docs, "doc_id", "text")
    got.collect()
    val plan = got.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan.treeString)
    assert(collect(plan) { case a: BaseAggregateExec => a }.isEmpty, plan.treeString)
  }
}
