package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Checkpoints, Tables}
import graft.operators.Ranks

/** Isotonic (monotone) regression by pool-adjacent-violators — the
  * calibration fit that turns ranked scores into a monotone probability
  * map, the nonparametric upgrade of [[graft.operators.Calibration]]'s
  * reliability bins (Platt/isotonic calibration is the standard pairing
  * with the reference's classifier training,
  * /root/reference/DataEngineering/DataBricks/spark_randomforest.py).
  *
  * One PAVA STEP is relational: compare each adjacent pair of blocks by
  * EXACT cross-multiplied weighted means (pos_i·n_{i+1} vs
  * pos_{i+1}·n_i — no division), break the sequence at non-violating
  * boundaries, and pool each maximal violating run by summing (n, pos).
  * Repeating to a fixed point IS isotonic regression (classic PAVA);
  * [[iterate]] runs ≤ maxRounds steps with an every-round convergence
  * check, and the gated key pins ONE step in the DuckDB hash gate the
  * way `kmeans_step`/`gbt_stump` pin their iteration primitives.
  *
  * Scale: the step runs on the BLOCK table (starts at the bin/cell
  * cardinality — domain-bounded, not fact-bounded; the fact is touched
  * once to build bins upstream). Windows partition by the series key.
  * Block count strictly decreases every non-final round, so iterate
  * converges in ≤ initial-blocks rounds — in practice a handful.
  */
object Isotonic {

  /** One pooling pass over (keyCol, idx, n, pos) blocks: adjacent blocks
    * whose rate DECREASES (pos_i·n_{i+1} > pos_{i+1}·n_i) merge; output
    * re-indexed blocks (keyCol, idx, lo, hi, n, pos) where [lo, hi] is
    * the source-index span. Input blocks must carry lo/hi too (pass
    * idx=lo=hi for fresh bins). */
  def pavaStep(blocks: DataFrame, keyCol: String): DataFrame = {
    val k = col(keyCol)
    val wSeq = Window.partitionBy(k).orderBy(col("idx"))
    val flagged = blocks
      .withColumn("__pn", lag(col("pos"), 1).over(wSeq))
      .withColumn("__nn", lag(col("n"), 1).over(wSeq))
      // break (start new group) unless the PREVIOUS block violates
      // against this one: prev_rate > this_rate
      .withColumn("__brk",
        when(col("__pn").isNull, 1)
          .when(col("__pn") * col("n") > col("pos") * col("__nn"), 0)
          .otherwise(1))
      .withColumn("__grp", sum("__brk").over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(k, col("__grp"))
      .agg(min("lo").as("lo"), max("hi").as("hi"),
        sum("n").as("n"), sum("pos").as("pos"))
      .withColumn("idx", row_number().over(
        Window.partitionBy(k).orderBy(col("lo"))))
      .select(k, col("idx"), col("lo"), col("hi"), col("n"), col("pos"))
  }

  /** Run [[pavaStep]] to the monotone fixed point (≤ maxRounds).
    * Returns the final block table plus `rate_permicro` = exact
    * truncating 10⁶·pos div n. */
  def iterate(blocks: DataFrame, keyCol: String, maxRounds: Int = 32): DataFrame = {
    var (cur, curRows) = Checkpoints.pinCounted(blocks)
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val (next, nextRows) = Checkpoints.pinCounted(pavaStep(cur, keyCol))
      done = nextRows == curRows // pooling strictly shrinks
      cur = next
      curRows = nextRows
      round += 1
    }
    cur.withColumn("rate_permicro", expr("(1000000 * pos) div n"))
  }

  // ---- query-map entry (hash-gated) ----

  /** Gated instance: ONE PAVA pass over 20 equal-frequency value-score
    * bins of the events stream against the purchase label — the same
    * ranked surface [[graft.operators.Calibration.liftEvents]] reads,
    * entering the isotonic fit. */
  def isotonicStepEvents(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir).select(
      col("event_id").as("__id"),
      round(col("value") * 100).cast("long").as("__s"),
      (col("event_type") === "purchase").cast("long").as("__y"))
    val bins = Ranks.ntileExact(cells, Seq(col("__s"), col("__id")), 20, "bin")
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("__y").as("pos"))
      .select(lit("all").as("series"), col("bin").as("idx"),
        col("bin").as("lo"), col("bin").as("hi"), col("n"), col("pos"))
    pavaStep(bins, "series")
      .withColumn("rate_permicro", expr("(1000000 * pos) div n"))
  }

  def oracleSql: String =
    """WITH c AS (
      |  SELECT event_id AS id, CAST(round(value * 100) AS BIGINT) AS s,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events
      |), t AS (
      |  SELECT ntile(20) OVER (ORDER BY s, id) AS bin, y FROM c
      |), b AS (
      |  SELECT CAST(bin AS INT) AS idx, count(*) AS n,
      |    CAST(sum(y) AS BIGINT) AS pos
      |  FROM t GROUP BY bin
      |), flagged AS (
      |  SELECT idx, n, pos,
      |    lag(pos) OVER (ORDER BY idx) AS pn,
      |    lag(n) OVER (ORDER BY idx) AS nn
      |  FROM b
      |), brk AS (
      |  SELECT idx, n, pos,
      |    CASE WHEN pn IS NULL THEN 1
      |         WHEN pn * n > pos * nn THEN 0
      |         ELSE 1 END AS brkf
      |  FROM flagged
      |), grp AS (
      |  SELECT idx, n, pos,
      |    SUM(brkf) OVER (ORDER BY idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      |  FROM brk
      |), pooled AS (
      |  SELECT g, min(idx) AS lo, max(idx) AS hi,
      |    CAST(sum(n) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS pos
      |  FROM grp GROUP BY g
      |)
      |SELECT 'all' AS series,
      |  CAST(row_number() OVER (ORDER BY lo) AS INT) AS idx,
      |  lo, hi, n, pos,
      |  (1000000 * pos) // n AS rate_permicro
      |FROM pooled""".stripMargin
}
