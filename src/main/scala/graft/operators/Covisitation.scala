package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Co-visitation candidate generation + temporal-holdout evaluation —
  * the retrieval stage of a large-scale recommender, re-expressed as
  * declarative Spark plans. The reference trains pointwise rankers over
  * candidate lists (/root/reference/MachineLearning/Ray/recsys/
  * ray_train_pointwise.py, ray_train_recsys.py); co-visitation counts
  * are the industry-standard candidate generator those rankers re-rank,
  * and recall@k of the candidate list is the metric that decides
  * whether the ranker ever SEES the right item. [[RankMetrics]] grades
  * a given ranking; this builds the ranking end-to-end from behavior
  * and grades it against a future holdout.
  *
  * Pipeline: distinct (user, item) interactions before the split date
  * are the TRAIN history; co-visitation c(i,j) = #users who interacted
  * with both i and j; the matrix is capped to the top-M neighbors per
  * source item (count DESC, neighbor ASC — the production memory bound
  * AND the determinism contract); a user's candidate score for j is
  * Σ_{i ∈ history} c_capped(i,j) over items NOT already in history;
  * the top-K by (score DESC, item ASC) are the recommendations, graded
  * against the user's post-split purchases with exact hit counts and
  * truncating-division micro metrics (precision@k, recall@k, MAP@k).
  *
  * Scale: the pair build explodes per-user item arrays map-side (one
  * groupBy(user), no self-join shuffle) — volume is
  * Σᵤ nᵤ², quadratic in the per-user BASKET SIZE (a behavioral
  * constant, ~40 here) and linear in users; at 100 TB the guard is the
  * `maxBasket` cap (drop power-users above it, the standard
  * co-visitation bound — capped users are bots/outliers whose pairs
  * are noise anyway). Every shuffle key is uniform ((user), (i,j),
  * (user,j)); the top-M cap bounds the scoring fan-out to |history|·M
  * per user. Nothing is all-pairs across items.
  */
object Covisitation {

  /** Capped co-visitation matrix over distinct (userCol, itemCol)
    * interactions (item ids must be integral — at corpus scale item
    * keys are dictionary-encoded longs): (item_a, item_b, n_users,
    * rk) with rk ≤ m per item_a by (n_users DESC, item_b ASC).
    * Symmetric (both directions emitted). Users with more than
    * `maxBasket` distinct items are dropped whole (declared cap,
    * mirrored by the oracle).
    *
    * Plan notes: pairs are generated MAP-SIDE from per-user item
    * arrays (one groupBy(u), no self-join shuffle). The per-item cap
    * is a partitioned window rank, deliberately NOT the bounded
    * [[graft.functions.TopKAgg]] aggregate: measured head-to-head at
    * sf0.1 the udaf is ~2× slower, because ObjectHashAggregateExec
    * falls back to SORT-based aggregation past 128 groups per
    * partition — the same per-partition sort the window does, plus
    * per-row typed-buffer overhead. The window sort is distributed by
    * item_a, so no single task ever holds more than one hash
    * partition of items. */
  def covisitTopM(interactions: DataFrame, userCol: String, itemCol: String,
                  m: Int, maxBasket: Int = 1000, parts: Int = 0): DataFrame = {
    val pairs = symmetricPairs(interactions, userCol, itemCol, maxBasket, parts)
    pairs
      .withColumn("rk", row_number().over(Window.partitionBy(col("item_a"))
        .orderBy(col("n_users").desc, col("item_b").asc)))
      .filter(col("rk") <= m)
      .select(col("item_a"), col("item_b"), col("n_users"),
        col("rk").cast("long").as("rk"))
  }

  /** Symmetric UNCAPPED co-visitation counts over distinct (user,
    * item) interactions: (item_a, item_b, n_users) with both
    * directions emitted, power-users above `maxBasket` dropped whole.
    * The shared pair build under [[covisitTopM]]'s rank cap and
    * [[ItemSimilarity]]'s cosine normalization.
    *
    * Plan: pairs are generated MAP-SIDE from per-user sorted item
    * arrays (one groupBy(u), no self-join shuffle); only canonical
    * a<b pairs are exploded (halving volume), then mirrored. */
  def symmetricPairs(interactions: DataFrame, userCol: String,
                     itemCol: String, maxBasket: Int = 1000,
                     parts: Int = 0): DataFrame =
    symmetricPairsFromBaskets(
      cappedBaskets(interactions, userCol, itemCol, maxBasket, parts))

  /** [[baskets]] as (u, items) with long items, power-users above
    * `maxBasket` dropped whole — the ONE fact pass every
    * co-visitation consumer (pairs, degrees) derives from. Callers
    * that feed it to more than one consumer should `localCheckpoint`
    * the result. */
  def cappedBaskets(interactions: DataFrame, userCol: String,
                    itemCol: String, maxBasket: Int = 1000,
                    parts: Int = 0): DataFrame =
    baskets(interactions.select(col(userCol).as("u"),
        col(itemCol).cast("long").as("i")), "u", "i", parts)
      .filter(size(col("items")) <= maxBasket)

  /** Per-user sorted distinct item arrays: (userCol, items), one row
    * per user, uncapped. A null item is dropped by `collect_list`.
    *
    * Plan shape (r19 optimization round, guide §2.4/§2.5): the input
    * is hash-repartitioned BY the user with an EXPLICIT width up
    * front — partitioning on the user satisfies both the (user, item)
    * dedup and the per-user collect, so the whole basket build runs
    * off ONE exchange (was two), and the stage that EXPLODES the
    * baskets into pairs (the chain's hottest: 2.2 of covisit_topk's
    * 5.3 s, measured on the 2 partitions AQE had coalesced the small
    * aggregate down to — AQE cannot see the ~40× pair fan-out of the
    * next operator) runs at the requested width. `parts` comes
    * state-bound from the gated callers (fact footer rows); 0 = the
    * session parallelism. */
  def baskets(interactions: DataFrame, userCol: String, itemCol: String,
              parts: Int = 0): DataFrame = {
    val n = if (parts > 0) parts
      else interactions.sparkSession.sparkContext.defaultParallelism
    interactions.select(userCol, itemCol)
      .repartition(n, col(userCol))
      .distinct()
      .groupBy(userCol)
      .agg(sort_array(collect_list(col(itemCol))).as("items"))
  }

  /** State-bound width for the basket build/explode: one partition
    * per ~250k fact rows, floored at the session parallelism, capped
    * at 4096 (the pagerank_trade discipline — the pair fan-out tracks
    * the fact, so the bound must keep sizing up at replica scale). */
  private[graft] def pairParts(spark: SparkSession, dir: String): Int = {
    val factRows = graft.ParquetMeta.rowCount(spark, s"$dir/lineitem.parquet")
    math.max(spark.sparkContext.defaultParallelism,
      math.min(4096L, factRows / 250000L).toInt)
  }

  /** [[symmetricPairs]] from an already-built basket frame. Both
    * directions of each canonical pair come out of ONE `inline`
    * explode over the aggregate — not a union of the frame with its
    * column-swapped self, which needed a checkpoint to avoid computing
    * the pair aggregate twice and whose default in-heap pin was
    * pair-frame-sized (the uncapped distinct-co-purchase frame is the
    * LARGEST intermediate in the covisit chain; it OOM'd recsys_eval's
    * 100x replica, r19 measured). One pass, no pin, identical rows. */
  def symmetricPairsFromBaskets(baskets: DataFrame): DataFrame =
    baskets
      .select(posexplode(col("items")).as(Seq("__p", "item_a")),
        col("items"))
      .select(col("item_a"), explode(expr(
        "slice(items, __p + 2, size(items))")).as("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_users"))
      .select(inline(array(
        struct(col("item_a"), col("item_b"), col("n_users")),
        struct(col("item_b").as("item_a"), col("item_a").as("item_b"),
          col("n_users")))))

  /** How many covisit-matrix rows the scoring join will broadcast; a
    * (item_a, item_b, n_users) row hashes to well under 100 bytes, so
    * the cap stays inside a few-hundred-MB relation. */
  val BroadcastCovisitMaxRows = 4000000L

  /** Top-K recommendations per user from a capped co-visitation
    * matrix: score(u,j) = Σ_{i ∈ history(u)} n_users(i,j), items
    * already in history excluded, ranked (score DESC, item ASC).
    * Output: (user, item, score, rk ≤ k).
    *
    * The broadcast decision is MEASURED, never unconditional: the
    * matrix is |items|·m rows (catalog-scaled — it fits at retail
    * scale and outgrows any budget at the r16 100×-replica's catalog,
    * where the old unconditional hint OOM'd), so `covisitRows`, the
    * matrix row count, picks broadcast fan-out vs a plain shuffle join
    * on the item key. Callers count the matrix in the job that pins it
    * ([[graft.Checkpoints.pinCounted]]): a `.count()` of the pin would
    * run two more jobs. AQE
    * cannot make this call here: localCheckpoint hides size stats, so
    * an un-hinted plan stays sort-merge even at gate SF (the r16
    * interim regression). The already-seen anti join is never
    * broadcast: `scored` leaves the aggregate already partitioned by
    * (u, j), so the anti join only shuffles the history-sized probe
    * side. Per-user top-K is a user-partitioned window rank (see
    * [[covisitTopM]] for why the window beats the bounded udaf). */
  def recommend(history: DataFrame, covisit: DataFrame, covisitRows: Long,
                userCol: String, itemCol: String, k: Int,
                parts: Int = 0): DataFrame = {
    val hist = history
      .select(col(userCol).as("u"), col(itemCol).cast("long").as("i"))
      .distinct()
    val doBroadcast = covisitRows <= BroadcastCovisitMaxRows
    val anti = hist.withColumnRenamed("i", "j")
    // broadcast path: colocate each user's history BEFORE the fan-out —
    // the per-(u,j) partial aggregate then collapses the |history(u)|·M
    // candidate explosion inside the map task. Shuffle path: plain
    // item-key join; the (u,j) aggregate shuffle bounds what moves.
    // `parts` > the session partition count engages the pagerank_trade
    // state-bound discipline on the shuffle path: the scoring join's
    // output is |history|·m rows, so at a replica scale where the
    // session count would put tens of millions of rows in one task,
    // both join sides pre-partition on the join key (no extra
    // exchange — the repartition satisfies the join's distribution)
    // and the candidate fan-out re-hashes on (u, j) so the aggregate
    // runs complete-per-partition with a parts-bounded map instead of
    // an unbounded 32-way partial phase (r19: recsys_eval's 100x
    // replica OOM'd the candidate aggregate at the session count).
    val joined =
      if (doBroadcast) {
        // explicit width when the caller supplies a state bound (r20,
        // guide §2.5): REPARTITION_BY_COL is AQE-coalescible, and this
        // exchange is the LAST one the whole scoring→evaluation chain
        // reads — every later step (per-(u,j) aggregate, anti join,
        // WindowGroupLimit, rank window, the evaluate hit window and
        // per-user fold) is u-clustered, so once the downstream joins
        // go broadcast at runtime the entire pipeline runs at THIS
        // exchange's width. AQE coalesced it to ~3 partitions at gate
        // SF (profiled: 2.5-2.7 s of recsys_eval in 3-task stages); a
        // repartition(n, u) inserted anywhere downstream is ELIMINATED
        // by AQE's replan (child already u-clustered — measured, the
        // r19 "width mystery"), so the width has to be set here, on
        // the one exchange whose child is (u,i)-partitioned and
        // therefore cannot be elided. BY_NUM origin is exempt from
        // AQE coalescing; the bound is footer-derived so it sizes up
        // at replica scale.
        val h = if (parts > 0) hist.repartition(parts, col("u"))
                else hist.repartition(col("u"))
        h.join(broadcast(covisit), h("i") === covisit("item_a"))
      }
      else if (parts > 0) {
        val h = hist.repartition(parts, col("i"))
        val c = covisit.repartition(parts, col("item_a"))
        h.join(c, h("i") === c("item_a"))
          .repartition(parts, col("u"), col("item_b"))
      } else hist.join(covisit, hist("i") === covisit("item_a"))
    val scored = joined
      .groupBy(col("u"), col("item_b").as("j"))
      .agg(sum(col("n_users")).as("score"))
      .join(anti, Seq("u", "j"), "left_anti")
    scored
      .withColumn("rk", row_number().over(Window.partitionBy(col("u"))
        .orderBy(col("score").desc, col("j").asc)))
      .filter(col("rk") <= k)
      .select(col("u").as(userCol), col("j").as(itemCol),
        col("score"), col("rk").cast("long").as("rk"))
  }

  /** Holdout evaluation of `recs` (user, item, rk) against distinct
    * test-period (user, item) truths, for each cutoff in `ks`: one row
    * (k, n_users, n_hits, precision_permicro, recall_permicro,
    * map_permicro). Users evaluated = users with ≥1 truth AND ≥1
    * recommendation. Exact-integer discipline: AP@k per user is the
    * sum over hit ranks r of trunc(10⁶·hits≤r ∕ r), normalized by
    * min(k, |truth|) and mean-reduced — every division truncating,
    * both engines identical. */
  def evaluate(recs: DataFrame, truth: DataFrame,
               userCol: String, itemCol: String, ks: Seq[Int],
               truthRowsEst: Long = -1L): DataFrame = {
    // consumed per-k for hits AND for |truth(u)|; ADAPTIVE level (the
    // frame is holdout-fact-sized — ~20M rows at the 100x replica,
    // ~2GB deserialized, the third recsys_eval heap pin r19 measured —
    // but at bench SFs it is a few MB, and the old hardcoded
    // MEMORY_AND_DISK_SER paid a Java-serializer pass per pin write
    // and per scan for nothing): callers pass a row-count upper bound
    // (footer-derived) and Checkpoints picks deserialized / serialized
    // / disk against the heap.
    def level(bytesPerRow: Long) =
      if (truthRowsEst >= 0)
        graft.Checkpoints.adaptiveLevel(truthRowsEst * bytesPerRow)
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val t = truth.select(col(userCol).as("u"), col(itemCol).as("j")).distinct()
      .localCheckpoint(true, level(16L))
    val nRel = t.groupBy("u").agg(count(lit(1)).as("n_rel"))
    // NOTE on width (r20): a repartition(n, u) inserted here to widen
    // the hit-window chain is ELIMINATED by AQE's replan once the
    // truth join goes broadcast — the child is already u-clustered
    // from the scoring chain, and AQE drops user repartitions whose
    // child satisfies the clustering keys regardless of partition
    // count (measured; the r19 "width mystery"). The chain's width is
    // therefore set at its first non-elidable exchange, inside
    // [[recommend]]'s broadcast branch.
    val marked = recs
      .select(col(userCol).as("u"), col(itemCol).as("j"), col("rk"))
      .join(t.withColumn("__hit", lit(1L)), Seq("u", "j"), "left")
      .na.fill(0L, Seq("__hit"))
      .withColumn("__hits_le", sum(col("__hit")).over(
        Window.partitionBy(col("u")).orderBy(col("rk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // ONE per-user aggregation pass covering every cutoff via
    // conditional sums (a filter+groupBy per k re-shuffled the marked
    // frame |ks| times for identical results — every per-k term is a
    // function of (rk ≤ k), so the columns fold into one aggregate);
    // every user with ≥1 rec has a rk=1 row, so the per-k user set is
    // the same as the filtered form's
    val aggCols = ks.map { k =>
      sum(when(col("rk") <= k, col("__hit")).otherwise(lit(0L)))
        .as(s"hits_$k")
    } ++ ks.map { k =>
      sum(when(col("__hit") === 1L && col("rk") <= k,
        expr("(1000000 * __hits_le) div rk")).otherwise(lit(0L)))
        .as(s"apnum_$k")
    }
    val perUser = marked.groupBy("u")
      .agg(aggCols.head, aggCols.tail: _*)
      .join(nRel, Seq("u"))
      // user-domain frame, reused per cutoff readout; adaptive for
      // the same reason as `t`. 24 B/row against the TRUTH-row bound:
      // the frame has ~96 serialized bytes/row but one row per USER
      // (≥4x fewer than truth rows on any holdout with repeat
      // purchases), so the product stays an upper bound of the same
      // order as the old fixed SER choice at the 100x replica
      .localCheckpoint(true, level(24L))
    val perK = ks.map { k =>
      perUser
        .select(col("u"), col(s"hits_$k").as("hits"), col("n_rel"),
          expr(s"apnum_$k div (CASE WHEN n_rel < $k THEN n_rel ELSE $k END)")
            .as("ap_micro"))
        .agg(count(lit(1)).as("n_users"), sum(col("hits")).as("n_hits"),
          expr(s"(1000000 * sum(hits)) div (count(1) * $k)")
            .as("precision_permicro"),
          // per-user recall averaged in micros (truncating), then mean
          sum(expr("(1000000 * hits) div n_rel")).as("__rsum"),
          sum(col("ap_micro")).as("__apsum"))
        .select(lit(k.toLong).as("k"), col("n_users"), col("n_hits"),
          col("precision_permicro"),
          expr("__rsum div n_users").as("recall_permicro"),
          expr("__apsum div n_users").as("map_permicro"))
    }
    perK.reduce(_ union _)
  }

  // ---- query-map entries (hash-gated) ----

  /** Split date for the gated instances: interactions strictly before
    * are TRAIN, on/after are the holdout. */
  val SplitDate = "1999-01-01"
  /** Neighbors kept per item in the gated matrix. */
  val M = 10
  /** Recommendation list length for the gated evaluation. */
  val K = 20

  private def purchases(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
      // orders is the 1/4-size side but still FACT-scaled — no
      // broadcast hint; AQE broadcasts it at gate SF and shuffle-joins
      // once it outgrows the budget (it OOM'd hinted at the 100×
      // replica)
      .join(Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("item"),
        col("o_orderdate").as("d"))

  /** Gated instance: top-10 co-purchased parts per part over pre-split
    * customer baskets. */
  def covisitParts(spark: SparkSession, dir: String): DataFrame =
    covisitTopM(
      purchases(spark, dir).filter(col("d") < lit(SplitDate).cast("date")),
      "cust", "item", M, parts = pairParts(spark, dir))

  /** Gated instance: recall/precision/MAP at k ∈ {1,5,10,20} of the
    * co-visitation top-20 against post-split purchases. */
  def recsysEval(spark: SparkSession, dir: String): DataFrame = {
    // one orders-lineitem join feeds covisit build, scoring history,
    // and holdout truth — without the checkpoint each consumer replays
    // the scan+join (three fact passes for one). FACT-sized (one row
    // per lineitem — the orderkey join is 1:1 from the lineitem side),
    // so the pin level is chosen adaptively from the parquet-footer
    // count: the default deserialized level filled the unified pool at
    // the 100x replica until aggregates could not acquire their
    // initial maps (r19 measured; ~56B/row = three 8B cols + row
    // overhead, serialized)
    val factRows = graft.ParquetMeta.rowCount(spark, s"$dir/lineitem.parquet")
    // pinWide: the fact pin otherwise materializes at the handful of
    // AQE-coalesced blocks and serializes every consumer (train/test
    // filters, truth distinct) onto that many cores (r19 profiled)
    val p = graft.Checkpoints.pinWide(purchases(spark, dir), factRows * 56L)
    val train = p.filter(col("d") < lit(SplitDate).cast("date"))
    val test = p.filter(col("d") >= lit(SplitDate).cast("date"))
    // covisit build reused by all score partitions; item-domain times M
    // rows (~48B each serialized), so the pin level adapts off the part
    // catalog's footer count — the default in-heap level was the second
    // heap pin at the 100x replica
    val partRows = graft.ParquetMeta.rowCount(spark, s"$dir/part.parquet")
    // scoring-join state bound: ~M candidate rows per history row
    // (~1.5M rows per task target, cap 4096); stays at the session
    // count through gate SFs
    val sessionParts =
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val scoreParts = math.max(sessionParts,
      math.min(4096L, factRows * M / 1500000L).toInt)
    val (covisit, covisitRows) = graft.Checkpoints.pinCounted(
      covisitTopM(train, "cust", "item", M, parts = pairParts(spark, dir)),
      partRows * M * 48L)
    val recs = recommend(train, covisit, covisitRows, "cust", "item", K,
      // always pass the bound: the broadcast branch uses it as the
      // explicit width of the one exchange the whole scoring→eval
      // pipeline runs at (see recommend); the shuffle branch engages
      // it as before (identical value above the session count)
      parts = scoreParts)
    evaluate(recs, test, "cust", "item", Seq(1, 5, 10, 20),
      truthRowsEst = factRows)
  }

  private val purchasesSql =
    """SELECT o_custkey AS cust, l_partkey AS item, o_orderdate AS d
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin

  private def covisitSql(src: String): String =
    s"""ui AS (
      |  SELECT DISTINCT cust AS u, item AS i FROM $src
      |), bounded AS (
      |  SELECT u, i FROM (
      |    SELECT u, i, count(*) OVER (PARTITION BY u) AS n FROM ui)
      |  WHERE n <= 1000
      |), pairs AS (
      |  SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_users
      |  FROM bounded a JOIN bounded b ON a.u = b.u AND a.i <> b.i
      |  GROUP BY 1, 2
      |), capped AS (
      |  SELECT item_a, item_b, CAST(n_users AS BIGINT) AS n_users,
      |    CAST(row_number() OVER (PARTITION BY item_a
      |      ORDER BY n_users DESC, item_b ASC) AS BIGINT) AS rk
      |  FROM pairs
      |)""".stripMargin

  def covisitOracleSql: String =
    s"""WITH train AS (
      |  SELECT * FROM ($purchasesSql) WHERE d < DATE '$SplitDate'
      |), ${covisitSql("train")}
      |SELECT item_a, item_b, n_users, rk FROM capped WHERE rk <= $M""".stripMargin

  def evalOracleSql: String =
    s"""WITH p AS ($purchasesSql),
      |train AS (SELECT * FROM p WHERE d < DATE '$SplitDate'),
      |${covisitSql("train")},
      |cov AS (SELECT * FROM capped WHERE rk <= $M),
      |hist AS (SELECT DISTINCT cust AS u, item AS i FROM train),
      |scored AS (
      |  SELECT h.u, c.item_b AS j, CAST(sum(c.n_users) AS BIGINT) AS score
      |  FROM hist h JOIN cov c ON h.i = c.item_a
      |  GROUP BY 1, 2
      |), fresh AS (
      |  SELECT s.* FROM scored s
      |  LEFT JOIN hist h ON s.u = h.u AND s.j = h.i
      |  WHERE h.u IS NULL
      |), recs AS (
      |  SELECT u, j, row_number() OVER (PARTITION BY u
      |    ORDER BY score DESC, j ASC) AS rk
      |  FROM fresh QUALIFY rk <= $K
      |), truth AS (
      |  SELECT DISTINCT cust AS u, item AS j FROM p
      |  WHERE d >= DATE '$SplitDate'
      |), nrel AS (
      |  SELECT u, count(*) AS n_rel FROM truth GROUP BY u
      |), marked AS (
      |  SELECT r.u, r.rk, CASE WHEN t.u IS NULL THEN 0 ELSE 1 END AS hit,
      |    sum(CASE WHEN t.u IS NULL THEN 0 ELSE 1 END) OVER (
      |      PARTITION BY r.u ORDER BY r.rk) AS hits_le
      |  FROM recs r LEFT JOIN truth t ON r.u = t.u AND r.j = t.j
      |), per_k AS (
      |  SELECT k.k, m.u,
      |    sum(CASE WHEN m.rk <= k.k THEN m.hit ELSE 0 END) AS hits,
      |    sum(CASE WHEN m.rk <= k.k AND m.hit = 1
      |      THEN (1000000 * m.hits_le) // m.rk ELSE 0 END) AS ap_num_micro
      |  FROM marked m CROSS JOIN (SELECT unnest([1, 5, 10, 20]) AS k) k
      |  GROUP BY 1, 2
      |), joined AS (
      |  SELECT p.k, p.u, p.hits, n.n_rel,
      |    p.ap_num_micro // (CASE WHEN n.n_rel < p.k THEN n.n_rel
      |      ELSE p.k END) AS ap_micro
      |  FROM per_k p JOIN nrel n ON p.u = n.u
      |)
      |SELECT CAST(k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(hits) AS BIGINT) AS n_hits,
      |  CAST((1000000 * sum(hits)) // (count(*) * k) AS BIGINT)
      |    AS precision_permicro,
      |  CAST(sum((1000000 * hits) // n_rel) // count(*) AS BIGINT)
      |    AS recall_permicro,
      |  CAST(sum(ap_micro) // count(*) AS BIGINT) AS map_permicro
      |FROM joined GROUP BY k""".stripMargin
}
