package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{NegativeSample, RankMetrics}

/** Pointwise ranker over the prepared recsys frame — the missing fit
  * step between the engine's recsys data prep and its evaluation
  * harness (/root/reference/MachineLearning/Ray/recsys/
  * ray_train_pointwise.py trains a pointwise scorer on labeled
  * (user, item) pairs and reads a ranking scoreboard; here the
  * labeled pairs are the hash-gated [[NegativeSample]] dataset, the
  * scorer is the hash-gated [[LogRegStep]] Newton step, and the
  * scoreboard is the hash-gated [[RankMetrics]] machinery — three
  * already-gated primitives COMPOSED, each seam inside the gate).
  *
  * Features are relational recsys signals computed from the positives
  * themselves (the covisitation-family statistics a pointwise ranker
  * consumes): x₁ = item popularity (distinct purchasers), x₂ = user
  * activity (distinct items purchased) — exact BIGINTs, so the whole
  * fit inherits LogRegStep's rational-arithmetic gate with no new
  * approximation. The gbt_stump discipline: the gated keys pin the
  * STEP (one Newton iteration; one scored leaderboard), not a
  * converged loop.
  *
  * Scale shape: the labeled frame is [[NegativeSample]]'s per-user
  * baskets (one user-keyed exchange) and one generator per basket; a
  * row is as wide as one user's distinct items, uncapped because the
  * frame must be exact. user_act is the basket size; item_pop is an
  * explode of the same baskets grouped by item, which reads the user
  * exchange again through AQE's exchange reuse (no pin), joined back
  * at item cardinality; the fit is ONE map-side-combined aggregate
  * (nine BIGINT sums); scoring is a 1-row broadcast of the
  * coefficients; the scoreboard is per-user windows at per-user
  * candidate cardinality. Nothing quadratic.
  */
object PointwiseRanker {

  val ProbePop = 10L
  val ProbeAct = 10L
  val K = 10

  /** The labeled training frame with integer features:
    * (user_id, item_id, label, item_pop, user_act). */
  def labeledFeatures(spark: SparkSession, dir: String): DataFrame = {
    // both consumers read the baskets above the same user exchange,
    // which AQE runs once and reuses: no pin. A basket's items are
    // distinct, so item_pop counts distinct purchasers.
    val baskets = NegativeSample.orderBaskets(spark, dir)
    val itemPop = baskets.select(explode(col("items")).as("item_id"))
      .groupBy("item_id").agg(count(lit(1)).as("item_pop"))
    NegativeSample.labeledOrders(spark, dir, baskets)
      .join(itemPop, Seq("item_id"), "left")
      .select(col("user_id"), col("item_id"), col("label"),
        coalesce(col("item_pop"), lit(0L)).as("item_pop"),
        col("user_act"))
  }

  // ---- query-map entries (hash-gated) ----

  /** Gated fit step: the exact logistic Newton step over the labeled
    * pointwise frame — (n, n_pos, w0/w1/w2 micros, margin at the
    * (pop 10, act 10) probe). */
  def pointwiseFit(spark: SparkSession, dir: String): DataFrame =
    LogRegStep.newtonStep(labeledFeatures(spark, dir),
      label = col("label") === 1,
      x1 = col("item_pop"), x2 = col("user_act"),
      probeX1 = ProbePop, probeX2 = ProbeAct)

  /** Gated leaderboard row: the fitted scorer ranks each user's
    * labeled candidates by the exact integer margin
    * w₀ + w₁·pop + w₂·act (item-id tie-break), and the per-user
    * nDCG@10 / MRR / P@10 (relevance = label) aggregate to ONE
    * exact-mean row — the scoreboard entry ray_train_pointwise.py's
    * fit earns. */
  def pointwiseEval(spark: SparkSession, dir: String): DataFrame = {
    // consumed by the fit AND the scoring pass; widened so both scans
    // run at the session parallelism
    val feats = graft.Checkpoints.pinWide(labeledFeatures(spark, dir),
      graft.ParquetMeta.rowCount(spark, s"$dir/lineitem.parquet") * 4 * 48L)
    val fit = LogRegStep.newtonStep(feats, col("label") === 1,
        col("item_pop"), col("user_act"), ProbePop, ProbeAct)
      .select(col("w0_micros"), col("w1_micros"), col("w2_micros"))
    val scored = feats.crossJoin(broadcast(fit))
      .select(col("user_id"), col("item_id"), col("label"),
        (col("w0_micros") + col("item_pop") * col("w1_micros")
          + col("user_act") * col("w2_micros")).as("margin_micros"))
    RankMetrics.rankingMetrics(scored, "user_id", "item_id",
        "margin_micros", "label", k = K, relevant = 1)
      .agg(count(lit(1)).as("n_users"),
        count(col("ndcg_permicro")).as("n_scored"),
        expr("sum(ndcg_permicro) div count(ndcg_permicro)")
          .as("mean_ndcg_permicro"),
        expr("sum(rr_micros) div count(1)").as("mean_rr_micros"),
        expr("sum(prec_at_k_permicro) div count(1)")
          .as("mean_prec_permicro"))
      .select(lit("pointwise_logreg").as("model"), col("n_users"),
        col("n_scored"), col("mean_ndcg_permicro"),
        col("mean_rr_micros"), col("mean_prec_permicro"))
  }

  /** The labeled-frame + feature CTEs (composes NegativeSample's
    * gated chain verbatim). Shared with [[TpePointwise]]'s oracle. */
  private[ml] def featCtes: String =
    """pos AS (
      |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |), ni AS (
      |  SELECT max(p_partkey) AS n FROM part
      |), cand AS (
      |  SELECT DISTINCT user_id,
      |    ((user_id * 131071 + item_id * 524287 + j.v * 8191) % 1000003)
      |      % (SELECT n FROM ni) + 1 AS item_id
      |  FROM pos, unnest(generate_series(0, 2)) AS j(v)
      |), neg AS (
      |  SELECT c.user_id, c.item_id
      |  FROM cand c ANTI JOIN pos p
      |    ON p.user_id = c.user_id AND p.item_id = c.item_id
      |), labeled AS (
      |  SELECT user_id, item_id, 1 AS label FROM pos
      |  UNION ALL
      |  SELECT user_id, item_id, 0 AS label FROM neg
      |), ip AS (
      |  SELECT item_id, CAST(count(*) AS BIGINT) AS item_pop
      |  FROM pos GROUP BY 1
      |), ua AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS user_act
      |  FROM pos GROUP BY 1
      |), feat AS (
      |  SELECT l.user_id, l.item_id, l.label,
      |    coalesce(ip.item_pop, 0) AS item_pop,
      |    coalesce(ua.user_act, 0) AS user_act
      |  FROM labeled l
      |  LEFT JOIN ip ON ip.item_id = l.item_id
      |  LEFT JOIN ua ON ua.user_id = l.user_id
      |)""".stripMargin

  /** The nine-sufficient-sums CTE over `feat` (LogRegStep's stats with
    * z = 2·label − 1, x₁ = item_pop, x₂ = user_act) — shared with
    * [[TpePointwise]]'s ridge-regularized re-solve, which reuses these
    * λ-INDEPENDENT sums across its whole trial grid. */
  private[ml] def statsCte: String =
    """s AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(CASE WHEN z > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |    CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
      |    CAST(sum(z) AS HUGEINT) AS sz,
      |    CAST(sum(x1 * x1) AS HUGEINT) AS s11,
      |    CAST(sum(x1 * x2) AS HUGEINT) AS s12,
      |    CAST(sum(x2 * x2) AS HUGEINT) AS s22,
      |    CAST(sum(x1 * z) AS HUGEINT) AS s1z,
      |    CAST(sum(x2 * z) AS HUGEINT) AS s2z
      |  FROM (
      |    SELECT CASE WHEN label = 1 THEN 1 ELSE -1 END AS z,
      |      item_pop AS x1, user_act AS x2
      |    FROM feat
      |  )
      |)""".stripMargin

  /** The Newton-step Cramer chain (d, w) over the stats CTE. */
  private def fitCtes: String = statsCte + ",\n" +
    """d AS (
      |  SELECT CAST(n AS BIGINT) AS n, n_pos,
      |    (n * (s11 * s22 - s12 * s12)
      |     - s1 * (s1 * s22 - s12 * s2)
      |     + s2 * (s1 * s12 - s11 * s2)) AS det,
      |    (sz * (s11 * s22 - s12 * s12)
      |     - s1 * (s1z * s22 - s12 * s2z)
      |     + s2 * (s1z * s12 - s11 * s2z)) AS det0,
      |    (n * (s1z * s22 - s12 * s2z)
      |     - sz * (s1 * s22 - s12 * s2)
      |     + s2 * (s1 * s2z - s1z * s2)) AS det1,
      |    (n * (s11 * s2z - s1z * s12)
      |     - s1 * (s1 * s2z - s1z * s2)
      |     + sz * (s1 * s12 - s11 * s2)) AS det2
      |  FROM s
      |), w AS (
      |  SELECT n, n_pos,
      |    CASE WHEN det <> 0 THEN CAST((det0 * 2000000) // det AS BIGINT) END AS w0_micros,
      |    CASE WHEN det <> 0 THEN CAST((det1 * 2000000) // det AS BIGINT) END AS w1_micros,
      |    CASE WHEN det <> 0 THEN CAST((det2 * 2000000) // det AS BIGINT) END AS w2_micros
      |  FROM d
      |)""".stripMargin

  def fitOracleSql: String =
    s"""WITH $featCtes,
       |$fitCtes
       |SELECT n, n_pos, w0_micros, w1_micros, w2_micros,
       |  w0_micros + $ProbePop * w1_micros + $ProbeAct * w2_micros
       |    AS margin_probe_micros
       |FROM w""".stripMargin

  def evalOracleSql: String =
    s"""WITH $featCtes,
       |$fitCtes,
       |scored AS (
       |  SELECT f.user_id, f.item_id, f.label,
       |    w.w0_micros + f.item_pop * w.w1_micros
       |      + f.user_act * w.w2_micros AS margin
       |  FROM feat f CROSS JOIN w
       |), ranked AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY margin DESC, item_id ASC) AS pos,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY label DESC, item_id ASC) AS ipos
       |  FROM scored
       |), gains AS (
       |  SELECT user_id, label, pos,
       |    CASE WHEN pos <= $K
       |      THEN label * (${RankMetrics.discountSql(K)})[CAST(pos AS INT)]
       |      ELSE 0 END AS gain,
       |    CASE WHEN ipos <= $K
       |      THEN label * (${RankMetrics.discountSql(K)})[CAST(ipos AS INT)]
       |      ELSE 0 END AS igain
       |  FROM ranked
       |), per_user AS (
       |  SELECT user_id,
       |    CAST(sum(gain) AS BIGINT) AS dcg,
       |    CAST(sum(igain) AS BIGINT) AS idcg,
       |    min(CASE WHEN label >= 1 THEN pos END) AS first_rel,
       |    CAST(sum(CASE WHEN pos <= $K AND label >= 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits
       |  FROM gains GROUP BY user_id
       |), metrics AS (
       |  SELECT user_id,
       |    CASE WHEN idcg > 0 THEN (1000000 * dcg) // idcg END AS ndcg,
       |    coalesce(1000000 // first_rel, 0) AS rr,
       |    (1000000 * hits) // $K AS prec
       |  FROM per_user
       |)
       |SELECT 'pointwise_logreg' AS model,
       |  CAST(count(*) AS BIGINT) AS n_users,
       |  CAST(count(ndcg) AS BIGINT) AS n_scored,
       |  CAST(CAST(sum(ndcg) AS BIGINT) // count(ndcg) AS BIGINT)
       |    AS mean_ndcg_permicro,
       |  CAST(CAST(sum(rr) AS BIGINT) // count(*) AS BIGINT)
       |    AS mean_rr_micros,
       |  CAST(CAST(sum(prec) AS BIGINT) // count(*) AS BIGINT)
       |    AS mean_prec_permicro
       |FROM metrics""".stripMargin
}
