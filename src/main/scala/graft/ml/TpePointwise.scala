package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.RankMetrics

/** TPE proposal over the POINTWISE RANKER — the tune×recsys seam the
  * reference runs as one workflow (/root/reference/MachineLearning/Ray/
  * recsys/ray_tune_pointwise.py:12-14: `HyperOptSearch` +
  * `ASHAScheduler` over the pointwise model's hyperparameters, with the
  * ranking scoreboard as the reported objective). [[TpeSweep]] gates
  * the proposal kernel, [[PointwiseRanker]] gates the fit and the
  * scoreboard; this key closes their edge exactly the way
  * [[TpeForecast]] closed tune×forecasting: real trials of a REAL
  * hyperparameter of the pointwise model, observed by the already-gated
  * exact ranking metric, proposed over by the identical kernel.
  *
  * Search dimension: the NEGATIVE-SAMPLING RATIO — how many
  * deterministic negative draws per positive the ranker trains on, the
  * canonical implicit-feedback knob (every positive gets j of
  * [[graft.operators.NegativeSample]]'s LCG candidate draws; trial j
  * trains on draws 0..j−1). Trials stay one-corpus-pass cheap because
  * each candidate pair carries its MINIMUM draw index: the nine
  * Newton-step sufficient sums group by that index (≤17 groups) and
  * trial j's sums are the prefix-sum over indices < j — sixteen exact
  * fits from one aggregate. Thresholds are micros of the draw-budget
  * fraction j/16; the 64-point candidate grid refines it to p/64.
  *
  * Observed objective per trial: the exact-mean nDCG@10 permicro of
  * [[PointwiseRanker.pointwiseEval]]'s scoreboard discipline, scored on
  * the FIXED full-budget eval frame (all 16 draws) so trials differ
  * only through their fitted weights — the tuning contract (a shared
  * validation set), not a moving target.
  *
  * Feature pair: unlike [[PointwiseRanker]]'s (item_pop, user_act) —
  * where user_act is constant WITHIN a user, so per-user ranking
  * collapses to the single item_pop order and no training knob can
  * move the objective — the tuned model ranks by two ITEM-level
  * signals: x₁ = item popularity (the gated frame's feature) and
  * x₂ = item RECENCY (days from 1992-01-01 to the item's latest order
  * date — the staple freshness feature). The class balance swings 1:1
  * → 16:1 across the grid, the fitted recency coefficient genuinely
  * changes sign, per-user order reranks, and the trial objective is a
  * real function of the hyperparameter (three regimes at the gated
  * corpus).
  *
  * Scale shape: one orders⋈lineitem pass builds positives AND recency;
  * the candidate build is NegativeSample's map-side explode (×16) into
  * one distinct-shuffle (min-draw aggregate); the sufficient sums are
  * ONE map-side-combined aggregate (17 groups × nine BIGINTs); the 16
  * Cramer solves are bounded rows in DECIMAL(38,0) (exact through the
  * 10× replica; at ~100× the determinants outgrow 38 digits — the
  * [[LogRegStep]] family's documented precision bound); scoring ranks
  * the ITEM DIM once per trial, attaches the per-trial ranks to each
  * eval row as one array (fact⋈dim join, no trial× row expansion), and
  * folds all trials' top-K DCGs in a single pass per user through the
  * native [[graft.functions.MultiTopKDcg]] aggregate (idcg is a
  * config-independent prefix-sum lookup). Nothing quadratic, nothing
  * unbounded collected (the ≤17-row fits frame is), nothing
  * corpus-sized sorted.
  */
object TpePointwise {

  val DrawN = 16        // full candidate-draw budget (trial j uses j draws)
  val TrialN = 16
  val BandW = 31250L    // triangular kernel half-width (2 cand steps)
  val CandLo = 15625L   // candidate grid: fraction micros = 15625·(1..64)
  val CandStep = 15625L
  val CandN = 64
  val K = 10            // nDCG@K of the observed scoreboard

  /** The labeled frame with per-pair draw index and item features:
    * (user_id, item_id, label, dmin, x1 item_pop, x2 rec_days).
    * Positives carry dmin = −1 (in every trial's training set);
    * negative candidates carry the MINIMUM draw index that produced
    * them, so "train on j draws" is the filter dmin < j. The candidate
    * hash is [[graft.operators.NegativeSample]]'s LCG verbatim. */
  private[graft] def drawFeatures(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    // ONE explicit user-keyed exchange serves the whole candidate
    // chain (r20 optimization round, guide §2.4 "share one exchange" —
    // replacing r19's round-robin widePin): the fact frame is
    // hash-repartitioned BY user_id at an explicit state-bound width
    // BEFORE its pin, and a Checkpoints pin keeps the final adaptive
    // plan's outputPartitioning (a raw localCheckpoint under AQE
    // reports UnknownPartitioning), so HashPartitioning(user_id) — a
    // subset of every downstream key set — satisfies the clustering
    // requirement of (a) the pos (user, item) distinct and (b) the ×16
    // candidate explode's (user, item) aggregate. r19's plan paid a
    // separate exchange for each (the 9.6M-row cand aggregate shuffle
    // alone moved 127 MB); now none of them shuffles, and the
    // explicit partition count keeps AQE from narrowing the explode
    // (the r19 fan-out blindness fix, by key instead of round-robin).
    // The width is footer-derived (the covisit pairParts discipline),
    // so it keeps sizing up at replica scale; per-user volume is
    // basket-bounded, so the u-hash is uniform.
    val factRowsEst =
      graft.ParquetMeta.rowCount(spark, s"$dir/lineitem.parquet")
    val uParts = math.max(spark.sparkContext.defaultParallelism,
      math.min(4096L, factRowsEst / 250000L).toInt)
    def uPin(df: DataFrame, bytesPerRow: Long): DataFrame =
      graft.Checkpoints.pin(df, factRowsEst * bytesPerRow)
    val oi = uPin(Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .join(Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user_id"),
        col("l_partkey").as("item_id"),
        col("o_orderdate").cast("date").as("__d"))
      .repartition(uParts, col("user_id")),
      40L) // the ONE fact join: feeds positives AND recency
    val pos = uPin(oi.select("user_id", "item_id").distinct(),
      32L) // candidate aggregate + popularity; no exchange —
           // oi's u-partitioning already clusters (user, item)
    // max(p_partkey) as a driver literal (one dim-column agg job, r20):
    // drops the crossJoin(broadcast(ni)) exchange from the candidate
    // plan — and the SAME job guards the dense-catalog assumption the
    // itemDim superset ranking rests on (p_partkey unique and
    // max == footer row count ⇒ keys are exactly 1..N). On a gapped
    // catalog hashed negatives would silently vanish from scoring and
    // shift every lower rank; fail loudly instead.
    val mm = Tables.part(spark, dir)
      .agg(min(col("p_partkey")).cast("long"),
        max(col("p_partkey")).cast("long")).head
    val (nMin, nMax) = (mm.getLong(0), mm.getLong(1))
    val partRowsChk = graft.ParquetMeta.rowCount(spark, s"$dir/part.parquet")
    require(nMax - nMin + 1 == partRowsChk && nMin <= 1L,
      s"itemDim superset ranking requires contiguous p_partkey covering" +
        s" 1..max (min=$nMin, max=$nMax, rows=$partRowsChk)")
    // ONE user-keyed exchange (6 MB of (u, i) pairs) serves the whole
    // labeled-frame build (r20, guide §2.4): the positive marker and
    // the 16 candidate draws of each pos row come out of a SINGLE
    // explode (__v = −1 is the positive, 0..15 the draws), and a
    // SINGLE (user, item) aggregate reproduces the old
    // pos ∪ (cand ANTI pos) exactly —
    //   label = max(label): 1 iff the (u, i) group contains the
    //     positive marker (pos is distinct, so the marker appears
    //     exactly once per positive pair);
    //   dmin  = −1 for positives (the old union put every positive at
    //     dmin −1 and the anti-join DELETED its drawn duplicates),
    //     else min(__v) over the group's draws (the old min-draw
    //     retention).
    // HashPartitioning(user_id) — a subset of the (u, i) grouping —
    // satisfies the aggregate's clustering, so the explode, the
    // aggregate and the broadcast dim attachment below all run in the
    // ONE stage this exchange feeds, at the explicit uParts width.
    // r19's shape paid a 9.6M-row / 122 MB exchange to aggregate the
    // draws, a second exchange pair for the anti-join (joins require
    // full-key co-partitioning: requireAllClusterKeysForCoPartition),
    // and a union; all three are gone. Volume is unchanged: 17 rows
    // per pos pair before, 1 + 16 now.
    val labeled = pos.repartition(uParts, col("user_id"))
      .withColumn("__v", explode(sequence(lit(-1), lit(DrawN - 1))))
      .select(col("user_id"),
        when(col("__v") === -1, col("item_id"))
          .otherwise(expr(
            s"((user_id * 131071L + item_id * 524287L + __v * 8191L)" +
            s" % 1000003L) % ${nMax}L + 1L")).as("item_id"),
        when(col("__v") === -1, 1).otherwise(0).as("label"),
        col("__v"))
      .groupBy("user_id", "item_id")
      .agg(max("label").as("label"), min("__v").cast("long").as("__vmin"))
      .select(col("user_id"), col("item_id"), col("label"),
        when(col("label") === 1, -1L).otherwise(col("__vmin")).as("dmin"))
    val ip = pos.groupBy("item_id").agg(count(lit(1)).as("item_pop"))
    val rec = oi.groupBy("item_id")
      .agg(datediff(max(col("__d")), lit("1992-01-01")).cast("long")
        .as("rec_days"))
    // The ITEM feature dim, built ONCE catalog-sized from the part
    // table + the ip/rec aggregates and PINNED (tiny — one row per
    // part key): it feeds (a) the labeled frame's x1/x2 attachment and
    // (b) every scoring call's per-config item ranking. The old shape
    // re-ran ip+rec per consumer (3× in round2, r19 profiled) and
    // perUserNdcg additionally re-derived the dim with a draws-sized
    // 10M-row distinct per scoring call. Part keys are dense
    // 1..max(p_partkey), a SUPERSET of every labeled item (positives
    // are real partkeys; negatives are hashed into 1..n): superset
    // ranking preserves the relative order of any user's candidates
    // under the strict (margin desc, item asc) total order, so every
    // top-K DCG fold is value-identical, and the feats join below
    // matches every labeled row exactly once.
    val itemDim = Tables.part(spark, dir)
      .select(col("p_partkey").cast("long").as("item_id"))
      .join(ip, Seq("item_id"), "left")
      .join(rec, Seq("item_id"), "left")
      .select(col("item_id"),
        coalesce(col("item_pop"), lit(0L)).as("x1"),
        coalesce(col("rec_days"), lit(0L)).as("x2"))
      .localCheckpoint()
    // The pin stays NARROW (r20, guide §2.3 "project before the
    // exchange" applied to a pin): x1/x2 are ITEM-dim attributes, so
    // instead of widening every pinned row by two longs the dim join
    // moves to [[withItemFeatures]] and runs (broadcast, map-side)
    // only in the consumers that need features — the sufficient-sums
    // passes. The scoring folds never touch x1/x2 (ranks come from
    // the per-config item-rank table), so they now scan a third less
    // pinned data.
    val out = labeled
    // State-bound repartition (the pagerank_trade discipline): feats is
    // DRAWS-sized (≤ (DrawN+1)·fact rows) and the callers pin it with a
    // serialized localCheckpoint — at the session partition count the
    // 10x replica's blocks reach ~200MB serialized, and the block
    // manager's whole-block allocations (disk-write buffers, the
    // re-cache-on-read path) OOM'd the default heap (r19 measured).
    // Bound blocks to ~1M rows using the fact's parquet-footer count
    // (metadata-only, no scan job); at bench SFs the threshold never
    // engages, so the plan is unchanged.
    val factRows = factRowsEst
    val sessionParts =
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val parts = math.max(sessionParts,
      math.min(4096L, (DrawN + 1) * factRows / 1000000L).toInt)
    // keyed by user_id ALONE (r20): per-user volume is basket-bounded
    // (≤ (DrawN+1)·basket), so the u-hash stays uniform, and a
    // u-partitioned pin lets the scoring folds' groupBy(user_id)
    // reuse the exchange at replica scale
    val feats = if (parts > sessionParts)
      out.repartition(parts, col("user_id"))
    else out
    (feats, itemDim)
  }

  /** Re-attach the item features to the narrow labeled pin for the
    * sufficient-sums consumers (r20): a measured-broadcast left join
    * against the pinned item dim — value-identical to the old pre-pin
    * attachment (same dim rows, same coalesce), but the two feature
    * longs no longer ride every pinned row through consumers that
    * never read them. */
  private[graft] def withItemFeatures(labeled: DataFrame,
      itemDim: DataFrame, itemDimRows: Long): DataFrame = {
    val dimSide =
      if (itemDimRows >= 0 && itemDimRows <= BroadcastItemRankMaxRows)
        broadcast(itemDim) else itemDim
    labeled.join(dimSide, Seq("item_id"), "left")
      .select(col("user_id"), col("item_id"), col("label"), col("dmin"),
        coalesce(col("x1"), lit(0L)).as("x1"),
        coalesce(col("x2"), lit(0L)).as("x2"))
  }

  /** Nine sufficient sums grouped by draw index — the one corpus-sized
    * aggregate all 16 trials share ([[LogRegStep.newtonStep]]'s stats
    * with a dmin GROUP BY; ≤17 output rows). */
  private[graft] def groupedSums(feats: DataFrame): DataFrame =
    feats.select(
        when(col("label") === 1, 1L).otherwise(-1L).as("__z"),
        col("dmin"), col("x1").as("__x1"), col("x2").as("__x2"))
      .groupBy("dmin")
      .agg(count(lit(1)).as("n"),
        sum("__x1").as("s1"), sum("__x2").as("s2"), sum("__z").as("sz"),
        sum(col("__x1") * col("__x1")).as("s11"),
        sum(col("__x1") * col("__x2")).as("s12"),
        sum(col("__x2") * col("__x2")).as("s22"),
        sum(col("__x1") * col("__z")).as("s1z"),
        sum(col("__x2") * col("__z")).as("s2z"))

  private val SumCols = Seq("n", "s1", "s2", "sz", "s11", "s12", "s22",
    "s1z", "s2z")

  /** Trial sums: config j = prefix-sum of the grouped sums over
    * dmin < j (positives' dmin = −1 lands in every prefix). `confs` is
    * (config_id, threshold, __cfg). */
  private[graft] def prefixSums(gs: DataFrame, confs: DataFrame): DataFrame = {
    val aggs = SumCols.map(c => sum(c).as(c))
    confs.join(broadcast(gs), col("dmin") < col("__cfg"))
      .groupBy("config_id", "threshold")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** [[LogRegStep]]'s 3×3 DECIMAL(38,0) Cramer over per-config sum
    * rows: (config_id, threshold, w0/w1/w2 micros). */
  private[graft] def cramer(trialSums: DataFrame): DataFrame = {
    val dec = SumCols.foldLeft(trialSums) { (d, c) =>
      d.withColumn(s"${c}d", col(c).cast("decimal(38,0)"))
    }
    dec.selectExpr(
      "config_id", "threshold",
      """(nd * (s11d * s22d - s12d * s12d)
         - s1d * (s1d * s22d - s12d * s2d)
         + s2d * (s1d * s12d - s11d * s2d)) AS det""",
      """(szd * (s11d * s22d - s12d * s12d)
         - s1d * (s1zd * s22d - s12d * s2zd)
         + s2d * (s1zd * s12d - s11d * s2zd)) AS det0""",
      """(nd * (s1zd * s22d - s12d * s2zd)
         - szd * (s1d * s22d - s12d * s2d)
         + s2d * (s1d * s2zd - s1zd * s2d)) AS det1""",
      """(nd * (s11d * s2zd - s1zd * s12d)
         - s1d * (s1d * s2zd - s1zd * s2d)
         + szd * (s1d * s12d - s11d * s2d)) AS det2""")
      .selectExpr(
        "config_id", "threshold",
        "CASE WHEN det <> 0 THEN (det0 * 2000000) div det END AS w0_micros",
        "CASE WHEN det <> 0 THEN (det1 * 2000000) div det END AS w1_micros",
        "CASE WHEN det <> 0 THEN (det2 * 2000000) div det END AS w2_micros")
  }

  /** Per-(config, user) nDCG@K of each fit — the scoring fold behind
    * [[trialTable]] (and the rung readouts of
    * [[AshaPointwise]]): each fit's weights broadcast into ONE
    * scoring pass over the FIXED eval frame, per-(config, user) nDCG@K
    * ([[RankMetrics]]'s discipline — precomputed integer-micros
    * discounts, total-ordered ranks, truncating ratios), exact-mean
    * per config. Output: (config_id, threshold, obs_acc).
    *
    * Plan shape (r19 rework — values bit-identical to the original
    * window form, same oracle). The window form expanded the eval frame
    * T× (one copy per config) and sorted all of it per (config, user) —
    * 160M sorted rows at sf0.1, ~30 s. Three exact structural facts
    * remove all of that:
    *
    * 1. The IDEAL order (label desc, item asc) is config-independent
    *    and puts a user's positives at positions 1..npos, so
    *    idcg = Σ_{i≤min(npos,K)} disc(i) — a prefix-sum LOOKUP on one
    *    corpus-sized count, not T sorted copies.
    * 2. The margin is ITEM-level by construction (x₁, x₂ are item
    *    features), so each config's candidate order is ONE global item
    *    permutation: rank the ITEM DIM once per config (T·|items| rows
    *    through a per-config window — dim-sized, not fact-sized) and
    *    each user's model order is that rank restricted to their
    *    candidates.
    * 3. With the T per-config ranks attached to each eval row as one
    *    array (a fact⋈dim equi-join — NO T× row expansion), the
    *    per-(config, user) top-K·DCG folds in a SINGLE pass per user
    *    through [[graft.functions.MultiTopKDcg]] — the native
    *    TypedImperativeAggregate holding T bounded K-buffers (shuffle =
    *    users·T·K longs, no encoder round-trip, no corpus sort).
    *
    * The ≤T-row fits frame is collected (the ParamSweep bounded-collect
    * discipline) to drive the per-config margin literals. Null fit
    * weights (a singular Cramer system) order exactly as the window
    * form did: all-null margins rank by item id (desc_nulls_last +
    * item-asc tiebreak in the dim window, same clause the old
    * fact-sized window used). Output: (config_id, threshold, user_id,
    * __ndcg nullable). */
  /** Broadcast budget for the per-config item-rank table: rows ×
    * (nCfg+1 longs + struct overhead) — 500k items × 17 configs stays
    * inside a ~150 MB relation; past it the scoring join falls back to
    * the shuffle path (exactly the [[graft.operators.Covisitation]]
    * measured-broadcast discipline — AQE cannot make this call because
    * the checkpoint pin hides size stats). */
  private[graft] val BroadcastItemRankMaxRows = 500000L

  private[graft] def perUserNdcg(feats: DataFrame, fits: DataFrame,
      itemDim: Option[DataFrame] = None, itemDimRows: Long = -1L): DataFrame = {
    val spark = feats.sparkSession
    import spark.implicits._
    val disc = RankMetrics.discounts(K)
    val cumDisc = disc.scanLeft(0L)(_ + _).tail
    val cumArr = array(cumDisc.map(lit): _*)

    val cfgRows = fits.collect() // ≤ trials+1 rows by construction
      .sortBy(_.getAs[Long]("config_id"))
    val nCfg = cfgRows.length
    val cfgDf = broadcast(cfgRows.zipWithIndex.map { case (r, i) =>
      (i, r.getAs[Long]("config_id"), r.getAs[Long]("threshold"))
    }.toSeq.toDF("__cfg_idx", "config_id", "threshold"))
    val wDf = broadcast(cfgRows.zipWithIndex.map { case (r, i) =>
      (i,
        Option(r.getAs[java.lang.Long]("w0_micros")).map(_.longValue),
        Option(r.getAs[java.lang.Long]("w1_micros")).map(_.longValue),
        Option(r.getAs[java.lang.Long]("w2_micros")).map(_.longValue))
    }.toSeq.toDF("__cfg_idx", "__w0", "__w1", "__w2"))

    // per-config global item rank over the item DIM: the caller's
    // catalog-sized dim when provided (a SUPERSET of the labeled items
    // — superset ranking preserves every user's candidate order under
    // the strict total order, so the fold is value-identical), else
    // the distinct item profiles of the frame (the spec path)
    val wRank = Window.partitionBy(col("__cfg_idx"))
      .orderBy(col("__margin").desc, col("item_id").asc)
    val dim = itemDim.getOrElse(feats.select("item_id", "x1", "x2").distinct())
    val itemGranks0 = dim
      .crossJoin(wDf)
      .withColumn("__margin",
        col("__w0") + col("x1") * col("__w1") + col("x2") * col("__w2"))
      .withColumn("__grank", row_number().over(wRank).cast("long"))
      .groupBy("item_id")
      .agg(transform(
        array_sort(collect_list(struct(col("__cfg_idx"), col("__grank")))),
        s => s.getField("__grank")).as("__granks"))
    // measured broadcast: under the budget the eval frame is NOT
    // shuffled by item at all (the old plan moved the whole draws
    // frame through an item-key exchange just to attach the ranks)
    val itemGranks =
      if (itemDimRows >= 0 && itemDimRows <= BroadcastItemRankMaxRows)
        broadcast(itemGranks0)
      else itemGranks0

    // idcg rides the SAME groupBy(user) pass as the DCG fold (r20
    // optimization round, guide §2.4): npos = sum(label) over the
    // joined rows — the inner itemGranks join preserves the feats
    // multiset exactly (one dim row per item, every labeled item
    // covered), so this equals the old separate feats.filter(label=1)
    // count, without a second scan of the draws pin, a second
    // user-keyed aggregation, or the user-keyed idcg join. Users with
    // no positives keep a NULL __idcg (the old left-join semantics);
    // CaseWhen only evaluates element_at when __npos > 0.
    feats.join(itemGranks, Seq("item_id"))
      .groupBy("user_id")
      .agg(graft.functions.MultiTopKDcg.multiTopKDcg(
        col("__granks"), col("label").cast("long"), disc, K, nCfg)
        .as("__dcgs"),
        sum(col("label").cast("long")).as("__npos"))
      .withColumn("__idcg", when(col("__npos") > 0,
        element_at(cumArr, least(col("__npos"), lit(K.toLong)).cast("int"))))
      .select(col("user_id"), col("__idcg"),
        posexplode(col("__dcgs")).as(Seq("__cfg_idx", "__dcg")))
      .join(cfgDf, Seq("__cfg_idx"))
      .withColumn("__ndcg",
        when(col("__idcg") > 0, expr("(1000000 * __dcg) div __idcg")))
      .select("config_id", "threshold", "user_id", "__ndcg")
  }

  /** Completed-trial table: [[perUserNdcg]] folded to the per-config
    * exact-mean. Output: (config_id, threshold, obs_acc). */
  private[graft] def trialTable(feats: DataFrame, fits: DataFrame,
      itemDim: Option[DataFrame] = None, itemDimRows: Long = -1L): DataFrame =
    perUserNdcg(feats, fits, itemDim, itemDimRows)
      .groupBy(col("config_id"), col("threshold"))
      .agg(expr("sum(__ndcg) div count(__ndcg)").as("obs_acc"))

  // ---- query-map entries (hash-gated) ----

  /** Storage level for the pinned draws frame, chosen ADAPTIVELY from
    * the fact's parquet-footer row count (metadata-only — the
    * harmonicCloseness sizing discipline applied to a storage level).
    * feats is DRAWS-sized (~(DrawN+1)x the fact: 10M rows at sf0.1,
    * 100M at the 10x replica), and r19 measured BOTH fixed choices
    * failing one scale each: the default deserialized in-heap level
    * OOM'd the 10x scoring fold (the pin alone outgrows the default
    * heap), and every memory-backed level thrashes once storage fills —
    * disk-spilled blocks get re-promoted on read (maybeCacheDiskBytes-
    * InMemory allocates whole blocks while evicting others faster than
    * GC reclaims them). So: compact serialized-in-memory when the
    * estimated frame fits well inside the executor heap (bench SFs —
    * no disk roundtrip), DISK_ONLY (which never re-promotes) when it
    * does not (measured +8 s at sf0.1 but the only level that is
    * bounded at 10x). On a cluster the same estimate runs against each
    * executor heap, which is exactly the quantity that decides. */
  private[graft] def featsLevel(spark: SparkSession,
      dir: String): org.apache.spark.storage.StorageLevel = {
    val factRows = graft.ParquetMeta.rowCount(spark, s"$dir/lineitem.parquet")
    // ~17x fact rows, 4 longs + row overhead per row (the pin is the
    // NARROW labeled frame since r20 — x1/x2 live on the item dim)
    graft.Checkpoints.adaptiveLevel((DrawN + 1) * factRows * 48L)
  }


  /** Gated instance: 16 negative-ratio trials over the pointwise
    * frame, TPE proposal over the 64-point fraction candidate grid. */
  def tpePointwiseOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (featsRaw, itemDim) = drawFeatures(spark, dir)
    val feats = featsRaw.localCheckpoint(true, featsLevel(spark, dir))
    val partRows = graft.ParquetMeta.rowCount(spark, s"$dir/part.parquet")
    val confs = (1 to TrialN)
      .map(j => (j.toLong, j * (1000000L / TrialN), j.toLong))
      .toDF("config_id", "threshold", "__cfg")
    val fits = cramer(prefixSums(
      groupedSums(withItemFeatures(feats, itemDim, partRows)), confs))
    // ≤16 rows — pin them: proposeGrid's density windows reference the
    // trial table several times and would recompute the corpus fold
    val tt = trialTable(feats, fits, Some(itemDim), partRows).localCheckpoint()
    TpeSweep.proposeGrid(tt, TpeSweep.Gamma, BandW, CandLo, CandStep, CandN)
  }

  /** CLOSE the loop over the ranking objective (the tpe_round2 /
    * tpe_forecast_round2 move): round 1's proposed fraction — a
    * candidate OFF the 1/16 trial grid, on the finer 1/64 candidate
    * grid — is REALIZED as a fractional draw ratio p/4: ⌊p/4⌋ full
    * draws plus a deterministic hash-subsample ((user·31 + item) mod 4
    * < p mod 4) of draw ⌊p/4⌋ — exactly how a production sampler
    * realizes a non-integer negatives-per-positive ratio. The refit
    * runs the same Cramer on sums over that training set, its
    * scoreboard appends as trial 17, and the densities re-score. Gated
    * output: the round-2 scored candidate table. */
  def tpePointwiseRound2(spark: SparkSession, dir: String): DataFrame = {
    val (featsRaw, itemDim) = drawFeatures(spark, dir)
    // sums, round-1 scoring, round-2 train + scoring
    val feats = featsRaw.localCheckpoint(true, featsLevel(spark, dir))
    val partRows = graft.ParquetMeta.rowCount(spark, s"$dir/part.parquet")
    import feats.sparkSession.implicits._
    val confs = (1 to TrialN)
      .map(j => (j.toLong, j * (1000000L / TrialN), j.toLong))
      .toDF("config_id", "threshold", "__cfg")
    val t1 = trialTable(feats,
        cramer(prefixSums(
          groupedSums(withItemFeatures(feats, itemDim, partRows)), confs)),
        Some(itemDim), partRows)
      .localCheckpoint() // rounds 1 and 2 + the union
    val prop1 = TpeSweep.proposeGrid(t1, TpeSweep.Gamma, BandW, CandLo,
        CandStep, CandN)
      .filter(col("proposed") === 1)
      // p = fraction in 64ths: cand_threshold/15625 ∈ 1..64, exact
      .select(col("cand_threshold").as("threshold"),
        (col("cand_threshold") / lit(CandStep)).cast("long").as("__p"))
    val train2 = withItemFeatures(feats, itemDim, partRows)
      .crossJoin(broadcast(prop1))
      .filter(col("label") === 1 ||
        col("dmin") < expr("__p div 4") ||
        (col("dmin") === expr("__p div 4") &&
          pmod(col("user_id") * 31 + col("item_id"), lit(4)) < col("__p") % 4))
    val z = when(col("label") === 1, 1L).otherwise(-1L)
    val aggs2 = Seq(count(lit(1)).as("n"),
      sum("x1").as("s1"), sum("x2").as("s2"), sum(z).as("sz"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x1") * z).as("s1z"),
      sum(col("x2") * z).as("s2z"))
    val sums2 = train2
      .groupBy(lit(17L).as("config_id"), col("threshold"))
      .agg(aggs2.head, aggs2.tail: _*)
    val t2 = trialTable(feats, cramer(sums2), Some(itemDim), partRows)
      .localCheckpoint() // 1 row; round-2 density windows re-reference it
    TpeSweep.proposeGrid(t1.unionByName(t2), TpeSweep.Gamma, BandW,
      CandLo, CandStep, CandN)
  }

  // ---- DuckDB oracles (composed from the gated siblings' CTEs) ----

  /** The draw-indexed labeled frame + grouped sums —
    * [[graft.operators.NegativeSample]]'s gated candidate chain with
    * v ∈ 0..15 and min-draw retention, the recency join, and the
    * per-dmin stats. */
  private[graft] def featCtes: String =
    s"""oi AS MATERIALIZED (
       |  SELECT o_custkey AS user_id, l_partkey AS item_id,
       |    CAST(o_orderdate AS DATE) AS d
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |pos AS MATERIALIZED (
       |  SELECT DISTINCT user_id, item_id FROM oi),
       |ni AS (SELECT max(p_partkey) AS n FROM part),
       |cand AS MATERIALIZED (
       |  SELECT user_id, item_id, CAST(min(v) AS BIGINT) AS dmin FROM (
       |    SELECT p.user_id,
       |      ((p.user_id * 131071 + p.item_id * 524287 + j.v * 8191)
       |        % 1000003) % (SELECT n FROM ni) + 1 AS item_id, j.v
       |    FROM pos p, unnest(generate_series(0, ${DrawN - 1})) AS j(v)) c
       |  GROUP BY 1, 2),
       |neg AS (
       |  SELECT c.user_id, c.item_id, c.dmin
       |  FROM cand c ANTI JOIN pos p
       |    ON p.user_id = c.user_id AND p.item_id = c.item_id),
       |ip AS (SELECT item_id, CAST(count(*) AS BIGINT) AS item_pop
       |       FROM pos GROUP BY 1),
       |rec AS (
       |  SELECT item_id,
       |    CAST(datediff('day', DATE '1992-01-01', max(d)) AS BIGINT)
       |      AS rdays
       |  FROM oi GROUP BY 1),
       |feat AS MATERIALIZED (
       |  SELECT l.user_id, l.item_id, l.label, l.dmin,
       |    coalesce(ip.item_pop, 0) AS x1, coalesce(rec.rdays, 0) AS x2
       |  FROM (SELECT user_id, item_id, 1 AS label,
       |          CAST(-1 AS BIGINT) AS dmin FROM pos
       |        UNION ALL
       |        SELECT user_id, item_id, 0, dmin FROM neg) l
       |  LEFT JOIN ip USING (item_id)
       |  LEFT JOIN rec ON rec.item_id = l.item_id),
       |gs AS MATERIALIZED (
       |  SELECT dmin,
       |    CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
       |    CAST(sum(z) AS HUGEINT) AS sz,
       |    CAST(sum(x1 * x1) AS HUGEINT) AS s11,
       |    CAST(sum(x1 * x2) AS HUGEINT) AS s12,
       |    CAST(sum(x2 * x2) AS HUGEINT) AS s22,
       |    CAST(sum(x1 * z) AS HUGEINT) AS s1z,
       |    CAST(sum(x2 * z) AS HUGEINT) AS s2z
       |  FROM (SELECT dmin, CASE WHEN label = 1 THEN 1 ELSE -1 END AS z,
       |          x1, x2 FROM feat)
       |  GROUP BY dmin)""".stripMargin

  /** Cramer + scoring + per-config exact-mean nDCG over a per-config
    * sums CTE `sumsCte` (config_id, threshold, n..s2z); `p` prefixes
    * the CTE names so two rounds coexist. Ends at `${p}obs`. */
  private[graft] def fitPerUserCtes(p: String, sumsCte: String): String =
    s"""${p}dd AS (
       |  SELECT config_id, threshold,
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
       |  FROM $sumsCte),
       |${p}ww AS MATERIALIZED (
       |  SELECT config_id, threshold,
       |    CASE WHEN det <> 0 THEN CAST((det0 * 2000000) // det AS BIGINT) END AS w0,
       |    CASE WHEN det <> 0 THEN CAST((det1 * 2000000) // det AS BIGINT) END AS w1,
       |    CASE WHEN det <> 0 THEN CAST((det2 * 2000000) // det AS BIGINT) END AS w2
       |  FROM ${p}dd),
       |${p}rk AS (
       |  SELECT w.config_id, w.threshold, f.user_id, f.label,
       |    ROW_NUMBER() OVER (PARTITION BY w.config_id, f.user_id
       |      ORDER BY w.w0 + f.x1 * w.w1 + f.x2 * w.w2 DESC,
       |        f.item_id ASC) AS pos,
       |    ROW_NUMBER() OVER (PARTITION BY w.config_id, f.user_id
       |      ORDER BY f.label DESC, f.item_id ASC) AS ipos
       |  FROM feat f CROSS JOIN ${p}ww w),
       |${p}pu AS (
       |  SELECT config_id, threshold, user_id,
       |    CAST(sum(CASE WHEN pos <= $K
       |      THEN label * (${RankMetrics.discountSql(K)})[CAST(pos AS INT)]
       |      ELSE 0 END) AS BIGINT) AS dcg,
       |    CAST(sum(CASE WHEN ipos <= $K
       |      THEN label * (${RankMetrics.discountSql(K)})[CAST(ipos AS INT)]
       |      ELSE 0 END) AS BIGINT) AS idcg
       |  FROM ${p}rk GROUP BY 1, 2, 3)""".stripMargin

  /** [[fitPerUserCtes]] + the per-config exact-mean readout; ends at
    * `${p}obs`. */
  private def trialCtes(p: String, sumsCte: String): String =
    s"""${fitPerUserCtes(p, sumsCte)},
       |${p}obs AS (
       |  SELECT config_id, CAST(threshold AS BIGINT) AS threshold,
       |    CAST(CAST(sum(ndcg) AS BIGINT) // count(ndcg) AS BIGINT) AS obs_acc
       |  FROM (SELECT config_id, threshold,
       |          CASE WHEN idcg > 0 THEN (1000000 * dcg) // idcg END AS ndcg
       |        FROM ${p}pu)
       |  GROUP BY 1, 2)""".stripMargin

  private[graft] def round1Sums: String =
    s"""t1sums AS (
       |  SELECT CAST(j AS BIGINT) AS config_id,
       |    CAST(j * ${1000000L / TrialN} AS BIGINT) AS threshold,
       |    sum(n) AS n, sum(s1) AS s1, sum(s2) AS s2, sum(sz) AS sz,
       |    sum(s11) AS s11, sum(s12) AS s12, sum(s22) AS s22,
       |    sum(s1z) AS s1z, sum(s2z) AS s2z
       |  FROM generate_series(1, $TrialN) t(j) JOIN gs ON gs.dmin < j
       |  GROUP BY 1, 2)""".stripMargin

  def oracleSql: String =
    s"""WITH $featCtes,
       |$round1Sums,
       |${trialCtes("t1", "t1sums")},
       |${TpeSweep.proposalCtesGrid("t1obs", "tp", TpeSweep.Gamma, BandW,
            CandLo, CandStep, CandN)}
       |${TpeSweep.proposalSelect("tp")}""".stripMargin

  /** Round 2: round 1's winning fraction realized at the 1/64 grid
    * (⌊p/4⌋ full draws + hash-subsampled marginal draw), refit by the
    * same chain, appended as trial 17, densities re-scored. */
  def round2OracleSql: String =
    s"""WITH $featCtes,
       |$round1Sums,
       |${trialCtes("t1", "t1sums")},
       |${TpeSweep.proposalCtesGrid("t1obs", "tp", TpeSweep.Gamma, BandW,
            CandLo, CandStep, CandN)},
       |prop1 AS (
       |  SELECT CAST(cand_threshold // $CandStep AS BIGINT) AS p,
       |    CAST(cand_threshold AS BIGINT) AS threshold
       |  FROM (
       |    SELECT cand_threshold,
       |      row_number() OVER (ORDER BY score_micros DESC, candidate_id)
       |        AS rn
       |    FROM tpscored) z
       |  WHERE rn = 1),
       |t2sums AS (
       |  SELECT CAST(17 AS BIGINT) AS config_id, pr.threshold,
       |    CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(f.x1) AS HUGEINT) AS s1,
       |    CAST(sum(f.x2) AS HUGEINT) AS s2,
       |    CAST(sum(CASE WHEN f.label = 1 THEN 1 ELSE -1 END) AS HUGEINT) AS sz,
       |    CAST(sum(f.x1 * f.x1) AS HUGEINT) AS s11,
       |    CAST(sum(f.x1 * f.x2) AS HUGEINT) AS s12,
       |    CAST(sum(f.x2 * f.x2) AS HUGEINT) AS s22,
       |    CAST(sum(f.x1 * (CASE WHEN f.label = 1 THEN 1 ELSE -1 END)) AS HUGEINT) AS s1z,
       |    CAST(sum(f.x2 * (CASE WHEN f.label = 1 THEN 1 ELSE -1 END)) AS HUGEINT) AS s2z
       |  FROM feat f CROSS JOIN prop1 pr
       |  WHERE f.label = 1 OR f.dmin < pr.p // 4
       |    OR (f.dmin = pr.p // 4
       |        AND (f.user_id * 31 + f.item_id) % 4 < pr.p % 4)
       |  GROUP BY 1, 2),
       |${trialCtes("t2", "t2sums")},
       |trials2 AS (SELECT * FROM t1obs UNION ALL SELECT * FROM t2obs),
       |${TpeSweep.proposalCtesGrid("trials2", "r2", TpeSweep.Gamma, BandW,
            CandLo, CandStep, CandN)}
       |${TpeSweep.proposalSelect("r2")}""".stripMargin
}
