package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic negative sampling for pointwise ranking / contrastive
  * training data: each observed (user, item) positive spawns k
  * pseudo-random candidate items from the catalog, candidates that
  * collide with ANY of the user's positives are anti-joined away, and
  * the survivors label 0 against the positives' 1 — the dataset shape
  * a pointwise ranker trains on (the reference's pointwise leg,
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
  * Scale shape: positives are one distinct shuffle; candidates are a
  * map-side explode (×k); the collision filter is one anti-join on
  * (user, item). The catalog size rides in as a broadcast scalar.
  * Nothing quadratic, nothing driver-side.
  */
object NegativeSample {

  /** k deterministic non-colliding negatives per positive, as
    * (userCol, itemCol) rows. `nItems` is the catalog size (items are
    * assumed densely keyed 1..nItems, the TPC-H shape). */
  def negatives(positives: DataFrame, userCol: String, itemCol: String,
                nItems: Long, k: Int): DataFrame = {
    require(k >= 1 && nItems >= 1, "k and catalog size must be positive")
    val cands = positives.select(col(userCol), col(itemCol))
      .withColumn("__j", explode(sequence(lit(0), lit(k - 1))))
      .select(col(userCol),
        expr(s"(($userCol * 131071L + $itemCol * 524287L + __j * 8191L)" +
          s" % 1000003L) % ${nItems}L + 1L").as(itemCol))
      .distinct()
    cands.join(positives.select(userCol, itemCol),
      Seq(userCol, itemCol), "left_anti")
  }

  /** Labeled pointwise dataset: positives (label 1) ∪ sampled
    * negatives (label 0). */
  def pointwiseDataset(positives: DataFrame, userCol: String,
                       itemCol: String, nItems: Long, k: Int): DataFrame =
    positives.select(col(userCol), col(itemCol)).distinct()
      .withColumn("label", lit(1))
      .unionByName(
        negatives(positives.select(col(userCol), col(itemCol)).distinct(),
          userCol, itemCol, nItems, k)
          .withColumn("label", lit(0)))

  // ---- query-map entry (hash-gated) ----

  /** Gated instance: purchases = distinct (customer, part) from
    * orders⋈lineitem, catalog = the part table, k = 3. The catalog
    * size is computed in-plan (single-row aggregate, broadcast scalar
    * attachment). */
  def negativeSampleOrders(spark: SparkSession, dir: String): DataFrame = {
    // pos feeds the candidate explode, the anti-join AND the union's
    // positive branch (plus, via union pruning, PointwiseRanker's two
    // feature counts) — unpinned, the fact join + distinct executed
    // once per consumer (r20 profiled: four identical 599k-row 3-task
    // stages in pointwise_eval). One repartition(n, user_id) serves the
    // distinct, and the pin keeps that partitioning: the candidate
    // distinct and PointwiseRanker's user count read the pin where it
    // is, with no exchange (the (user, item) anti-join still re-keys
    // both sides: under the default requireAllClusterKeysForCoPartition
    // a user-only partitioning cannot co-partition a two-key join).
    // n is the footer-derived pairParts width (at least the session
    // parallelism, so the consumers run wide); 24 B/row = 2 longs +
    // row overhead, and the level adapts (SER/disk) at replica scale.
    val pos = graft.Checkpoints.pin(
      Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
        .repartition(Covisitation.pairParts(spark, dir), col("user_id"))
        .distinct(),
      graft.ParquetMeta.rowCount(spark, s"$dir/lineitem.parquet") * 24L)
    val ni = Tables.part(spark, dir).agg(max("p_partkey").as("__n"))
    val cands = pos.crossJoin(broadcast(ni))
      .withColumn("__j", explode(sequence(lit(0), lit(2))))
      .select(col("user_id"),
        expr("((user_id * 131071L + item_id * 524287L + __j * 8191L)" +
          " % 1000003L) % __n + 1L").as("item_id"))
      .distinct()
    val neg = cands.join(pos, Seq("user_id", "item_id"), "left_anti")
    pos.withColumn("label", lit(1))
      .unionByName(neg.withColumn("label", lit(0)))
  }

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
