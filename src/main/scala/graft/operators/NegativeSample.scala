package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic negative sampling for pointwise ranking / contrastive
  * training data: each observed (user, item) positive spawns k
  * pseudo-random candidate items from the catalog, candidates that
  * collide with ANY of the user's positives are dropped, and the
  * survivors label 0 against the positives' 1 — the dataset shape a
  * pointwise ranker trains on (the reference's pointwise leg,
  * /root/reference/MachineLearning/Ray/recsys/ray_train_pointwise.py,
  * consumes exactly such labeled pairs; its repair-domain generator
  * builds positives only, so the sampler is the missing scale piece).
  *
  * Determinism: candidates come from integer LCG-style mixing of
  * (user, item, j) — no RNG state, so the sample is reproducible
  * across runs, engines, and partitionings, and the whole operator
  * hash-gates. Collisions simply yield fewer than k negatives for that
  * positive (rejection without resampling — the deterministic choice
  * both engines agree on).
  *
  * Scale shape: one user-keyed exchange builds each user's basket
  * ([[Covisitation.baskets]]); one generator per basket row then emits
  * the positives and the distinct candidates not in the basket — the
  * rows the oracle's `DISTINCT` + anti-join produce, with no join. A
  * row is as wide as one user's distinct items, and that width is not
  * capped, since the labeled frame must be exact; it is a behavioral
  * constant (~40 items here), not a corpus size. The catalog size
  * rides in as a broadcast scalar.
  */
object NegativeSample {

  /** Candidates drawn per positive by the gated instance. */
  val K = 3

  /** [[Covisitation.baskets]] of (user_id, item_id) purchases. A null
    * key fails the call, naming its column: `collect_list` would drop
    * the null item that a DISTINCT of the pairs keeps as a row. */
  def baskets(purchases: DataFrame, parts: Int = 0): DataFrame =
    Covisitation.baskets(
      purchases.select(nonNull("user_id"), nonNull("item_id")),
      "user_id", "item_id", parts)

  private def nonNull(c: String): Column =
    coalesce(col(c), raise_error(lit(s"NegativeSample: null $c"))).as(c)

  /** Every labeled row of each [[baskets]] row, from one generator:
    * (user_id, item_id, label, user_act). The positives are the basket
    * (label 1); the negatives (label 0) are the distinct candidates of
    * k draws per item against a catalog of `nItems` (items assumed
    * densely keyed 1..nItems, the TPC-H shape) minus the basket;
    * user_act is the basket size. */
  def labeled(baskets: DataFrame, nItems: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    def draw(i: Column, j: Int): Column =
      ((col("user_id") * 131071L + i * 524287L + j * 8191L) % 1000003L) %
        nItems + 1L
    val draws = flatten(transform(col("items"),
      i => array((0 until k).map(draw(i, _)): _*)))
    def rows(items: Column, label: Int): Column =
      transform(items, i => struct(i.as("item_id"), lit(label).as("label")))
    baskets.select(col("user_id"),
        size(col("items")).cast("long").as("user_act"),
        inline(concat(rows(col("items"), 1),
          rows(array_except(draws, col("items")), 0))))
      .select("user_id", "item_id", "label", "user_act")
  }

  // ---- query-map entry (hash-gated) ----

  /** The gated instance's baskets: distinct (customer, part) purchases
    * from orders⋈lineitem, at the footer-derived pairParts width. */
  private[graft] def orderBaskets(spark: SparkSession, dir: String): DataFrame =
    baskets(Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id")),
      Covisitation.pairParts(spark, dir))

  /** [[labeled]] over `baskets` against the part catalog, k = [[K]].
    * The catalog size is computed in-plan (single-row aggregate,
    * broadcast scalar attachment). */
  private[graft] def labeledOrders(spark: SparkSession, dir: String,
                                   baskets: DataFrame): DataFrame = {
    val ni = Tables.part(spark, dir).agg(max("p_partkey").as("__n"))
    labeled(baskets.crossJoin(broadcast(ni)), col("__n"), K)
  }

  /** Gated instance: purchases = distinct (customer, part) from
    * orders⋈lineitem, catalog = the part table, k = 3. */
  def negativeSampleOrders(spark: SparkSession, dir: String): DataFrame =
    labeledOrders(spark, dir, orderBaskets(spark, dir))
      .select("user_id", "item_id", "label")

  def oracleSql: String =
    """WITH pos AS (
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
      |)
      |SELECT user_id, item_id, CAST(1 AS INT) AS label FROM pos
      |UNION ALL
      |SELECT user_id, item_id, CAST(0 AS INT) AS label FROM neg""".stripMargin
}
