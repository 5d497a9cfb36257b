package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Checkpoints, Tables}

/** Local graph metrics over a BOUNDED-DEGREE similarity graph — triangle
  * counting, one synchronous label-propagation round, and a two-half-step
  * HITS iteration. These are the neighborhood analyses a lakehouse runs
  * over entity-link graphs (the star lineage of
  * /root/reference/DataEngineering/DataBricks/AIO_delta_table_generator.py,
  * the trading-pair graph [[PageRank]] ranks) and over the kNN graphs a
  * dedup pipeline builds: triangle density distinguishes tight near-dup
  * clusters from chains, and a label-propagation round is the community
  * step between [[Graph.connectedComponents]] (structure only) and full
  * clustering.
  *
  * Degree discipline — the part that decides 100 TB viability: triangle
  * counting on an UNBOUNDED graph has Σ deg² wedge cost, and natural
  * co-occurrence graphs (two suppliers sharing a part, two users sharing
  * an item) densify toward completeness as data grows (measured here:
  * the raw co-supply graph at sf0.1 is ~35× denser per pair than at
  * sf0.001). So the graph is bounded BY CONSTRUCTION: each node keeps
  * only its top-K strongest partners (weight desc, partner-id tie-break)
  * — a per-node window rank over the pair-weight table — and the
  * undirected edge set is the symmetric closure. Degree ≤ 2K forever,
  * wedge cost ≤ 4K²·|V| — linear in nodes at ANY data scale, and the
  * pair-weight aggregation itself is dimension-sized (suppliers², not
  * fact-sized). This is exactly how production kNN-graph pipelines stay
  * bounded (mutual-kNN graphs in near-dup clustering).
  *
  * Everything is exact integer arithmetic; ranks use total orders — the
  * whole family hash-gates against DuckDB.
  */
object GraphMetrics {

  /** Canonical (u < v) supplier pairs with co-supply counts — the ONE
    * expensive subtree every co-supply edge builder shares.
    *
    * Plan shape (r19 optimization round, guide §2.4/§2.5): the (p, s)
    * projection is hash-REPARTITIONED BY p with an explicit count
    * before the dedup, so (a) the distinct needs no second exchange
    * (partitioning on p satisfies clustering on (p, s)), (b) the
    * per-part self-join reuses the same exchange on BOTH sides
    * (ReusedExchange, zero join shuffles), and (c) the wedge-building
    * stage — the family's hottest (measured 2.0 of triangle_count's
    * 4.7 s) — runs at the requested width instead of the handful of
    * partitions AQE rightly coalesces the small dedup down to (AQE
    * cannot see that the NEXT stage fans out quadratically in per-part
    * supplier count). An explicit count is respected by AQE; `parts`
    * comes state-bound from the caller (fact footer rows), so at
    * replica scale the shuffle keeps sizing up instead of pinning to
    * the local core count. */
  private def coSupplyPairs(lineitem: DataFrame, parts: Int): DataFrame = {
    val n = if (parts > 0) parts
      else lineitem.sparkSession.sparkContext.defaultParallelism
    val ps = lineitem.select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .repartition(n, col("p"))
      .distinct()
    ps.as("a").join(ps.as("b"),
        col("a.p") === col("b.p") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("u"), col("b.s").as("v"))
      .agg(count(lit(1)).as("w"))
  }

  /** State-bound width for [[coSupplyPairs]]' exchange: one partition
    * per ~250k fact rows (the wedge fan-out is per-part quadratic, so
    * the bound tracks the fact, not the dim), floored at the session
    * parallelism, capped at 4096 (the pagerank_trade discipline). */
  private def coSupplyParts(spark: SparkSession, dir: String): Int = {
    val factRows = graft.ParquetMeta.rowCount(spark, s"$dir/lineitem.parquet")
    math.max(spark.sparkContext.defaultParallelism,
      math.min(4096L, factRows / 250000L).toInt)
  }

  /** Undirected bounded-degree co-supply graph: edge (u,v), u<v, iff v is
    * among u's top-K co-supply partners or vice versa. Weight = number of
    * distinct parts both supply. Returns columns (u, v). */
  def topKCoSupplyEdges(lineitem: DataFrame, k: Int, parts: Int = 0): DataFrame = {
    val pairs = coSupplyPairs(lineitem, parts)
    val directed = pairs.select(col("u").as("s"), col("v").as("t"), col("w"))
      .unionByName(pairs.select(col("v").as("s"), col("u").as("t"), col("w")))
    val wTop = Window.partitionBy("s").orderBy(col("w").desc, col("t").asc)
    directed.withColumn("__r", row_number().over(wTop))
      .filter(col("__r") <= k)
      .select(least(col("s"), col("t")).as("u"),
        greatest(col("s"), col("t")).as("v"))
      .distinct()
  }

  /** Per-node degree + triangle participation over an undirected edge
    * list (u < v). Triangles via the ordered wedge join: for u<v<w,
    * edges (u,v),(v,w),(u,w) — each triangle found exactly once, then
    * credited to all three corners. Nodes with no triangle keep 0. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v")).localCheckpoint()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    // corner credit via ONE explode, not a unionAll of three
    // projections of `tri` — the union form re-executed the triple
    // wedge join once per corner (three copies of the join subtree in
    // the plan, r19 measured); the exploded multiset is identical
    val corners = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    deg.join(corners, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** One synchronous label-propagation round: each node adopts the
    * MAJORITY label among its neighbors (count desc, then least label) —
    * nodes with no neighbor keep their own. Returns
    * (node, label0, label1). */
  def labelPropagationStep(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val und = edges.select(col("u").as("node"), col("v").as("nbr"))
      .unionByName(edges.select(col("v").as("node"), col("u").as("nbr")))
    val nbrLabels = und
      .join(nodes.select(col("node").as("nbr"), col("label0").as("__l")), "nbr")
      .groupBy(col("node"), col("__l"))
      .agg(count(lit(1)).as("__c"))
    val wMaj = Window.partitionBy("node").orderBy(col("__c").desc, col("__l").asc)
    val winner = nbrLabels.withColumn("__r", row_number().over(wMaj))
      .filter(col("__r") === 1)
      .select(col("node"), col("__l").as("__new"))
    nodes.join(winner, Seq("node"), "left")
      .select(col("node"), col("label0"),
        coalesce(col("__new"), col("label0")).as("label1"))
  }

  /** Resource-Allocation link prediction (Zhou, Lü & Zhang 2009,
    * "Predicting missing links via local information"): for each
    * NON-adjacent pair (u,w) sharing neighbors, score
    * RA(u,w) = Σ_z 1/deg(z) over common neighbors z. RA is the
    * exact-arithmetic member of the local-similarity family (Adamic-
    * Adar needs 1/log deg — float; RA's 1/deg rides the sign-free
    * permicro div) and empirically matches or beats AA on dense
    * graphs. Wedge cost is the triangle bound: degree ≤ 2K by
    * construction, so candidates ≤ 4K²·|V| — linear in nodes forever.
    * Returns the top `n` pairs by (score desc, u, w) with
    * (u, v, common_neighbors, ra_permicro, rank). */
  def resourceAllocationLinks(edges: DataFrame, n: Int): DataFrame = {
    val e = edges.select(col("u"), col("v")).localCheckpoint()
    val und = e.select(col("u").as("node"), col("v").as("nbr"))
      .unionByName(e.select(col("v").as("node"), col("u").as("nbr")))
    val deg = und.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // wedge u—z—w with u<w counts each common neighbor exactly once
    val wedges = und.as("a")
      .join(und.as("b"),
        col("a.nbr") === col("b.node") && col("a.node") < col("b.nbr"))
      .select(col("a.node").as("u"), col("b.nbr").as("w"),
        col("a.nbr").as("z"))
    val open = wedges.join(e,
        wedges("u") === e("u") && wedges("w") === e("v"), "left_anti")
    val scored = open
      .join(deg.select(col("node").as("z"), col("deg")), "z")
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr("1000000 div deg")).as("ra_permicro"))
    // orderBy+limit compiles to TakeOrderedAndProject: per-partition
    // top-n then a driver merge of n·partitions rows — no global sort,
    // no single-partition window over the ≤ 4K²·|V| candidate table.
    // The rank column is minted afterwards over just the n survivors.
    val wTop = Window.orderBy(col("ra_permicro").desc, col("u").asc,
      col("w").asc)
    scored.orderBy(col("ra_permicro").desc, col("u").asc, col("w").asc)
      .limit(n)
      .withColumn("rank", row_number().over(wTop))
      .select(col("u"), col("w").as("v"), col("common_neighbors"),
        col("ra_permicro"), col("rank"))
  }

  // ---- query-map entries (hash-gated) ----

  private val K = 8
  private val TopLinks = 100

  /** Gated instance: triangles of the top-8 co-supply graph. */
  def triangleCoSupply(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(topKCoSupplyEdges(Tables.lineitem(spark, dir), K, coSupplyParts(spark, dir)))
      .select(col("node").as("s_suppkey"), col("degree"), col("triangles"))

  /** Gated instance: one label-prop round from nation labels on the same
    * graph — "which nation community does each supplier's co-supply
    * neighborhood vote it into". */
  def labelPropCoSupply(spark: SparkSession, dir: String): DataFrame = {
    val edges = topKCoSupplyEdges(Tables.lineitem(spark, dir), K, coSupplyParts(spark, dir))
    val nodes = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("node"), col("s_nationkey").as("label0"))
    labelPropagationStep(nodes, edges)
      .select(col("node").as("s_suppkey"), col("label0"), col("label1"))
  }

  /** Gated instance: top-100 predicted missing co-supply links by RA
    * score on the same top-8 graph. */
  def linkPredictCoSupply(spark: SparkSession, dir: String): DataFrame =
    resourceAllocationLinks(
      topKCoSupplyEdges(Tables.lineitem(spark, dir), K, coSupplyParts(spark, dir)), TopLinks)

  private def edgesCte: String =
    s"""ps AS (
       |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
       |), pw AS (
       |  SELECT a.s AS u, b.s AS v, count(*) AS w
       |  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
       |  GROUP BY 1, 2
       |), directed AS (
       |  SELECT u AS s, v AS t, w FROM pw
       |  UNION ALL SELECT v, u, w FROM pw
       |), topk AS (
       |  SELECT s, t,
       |    row_number() OVER (PARTITION BY s ORDER BY w DESC, t ASC) AS r
       |  FROM directed
       |), e AS (
       |  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v
       |  FROM topk WHERE r <= $K
       |)""".stripMargin

  def triangleOracleSql: String =
    s"""WITH $edgesCte, tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM e e1
       |  JOIN e e2 ON e2.u = e1.v
       |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
       |), corners AS (
       |  SELECT node, count(*) AS triangles FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri
       |  ) GROUP BY node
       |), deg AS (
       |  SELECT node, count(*) AS degree FROM (
       |    SELECT u AS node FROM e UNION ALL SELECT v FROM e
       |  ) GROUP BY node
       |)
       |SELECT deg.node AS s_suppkey, CAST(degree AS BIGINT) AS degree,
       |  CAST(coalesce(triangles, 0) AS BIGINT) AS triangles
       |FROM deg LEFT JOIN corners ON corners.node = deg.node""".stripMargin

  def linkPredictOracleSql: String =
    s"""WITH $edgesCte, und AS (
       |  SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e
       |), deg AS (
       |  SELECT node, count(*) AS deg FROM und GROUP BY node
       |), wedges AS (
       |  SELECT a.node AS u, b.nbr AS w, a.nbr AS z
       |  FROM und a JOIN und b ON a.nbr = b.node AND a.node < b.nbr
       |), open_w AS (
       |  SELECT wg.u, wg.w, wg.z FROM wedges wg
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM e WHERE e.u = wg.u AND e.v = wg.w)
       |), scored AS (
       |  SELECT u, w, CAST(count(*) AS BIGINT) AS common_neighbors,
       |    CAST(sum(1000000 // deg.deg) AS BIGINT) AS ra_permicro
       |  FROM open_w JOIN deg ON deg.node = open_w.z
       |  GROUP BY u, w
       |)
       |SELECT u, w AS v, common_neighbors, ra_permicro,
       |  CAST(row_number() OVER (ORDER BY ra_permicro DESC, u, w)
       |    AS INT) AS rank
       |FROM scored
       |ORDER BY ra_permicro DESC, u, w
       |LIMIT $TopLinks""".stripMargin

  def labelPropOracleSql: String =
    s"""WITH $edgesCte, nodes AS (
       |  SELECT s_suppkey AS node, s_nationkey AS label0 FROM supplier
       |), und AS (
       |  SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e
       |), nl AS (
       |  SELECT und.node, nodes.label0 AS l, count(*) AS c
       |  FROM und JOIN nodes ON nodes.node = und.nbr
       |  GROUP BY 1, 2
       |), winner AS (
       |  SELECT node, l FROM (
       |    SELECT node, l,
       |      row_number() OVER (PARTITION BY node ORDER BY c DESC, l ASC) AS r
       |    FROM nl
       |  ) WHERE r = 1
       |)
       |SELECT nodes.node AS s_suppkey, nodes.label0,
       |  coalesce(winner.l, nodes.label0) AS label1
       |FROM nodes LEFT JOIN winner ON winner.node = nodes.node""".stripMargin

  /** HITS, 1.5 power iterations in exact integers on the DIRECTED
    * customer→supplier trade graph (hubs = customers, authorities =
    * suppliers; same edge derivation as [[PageRank.pagerankTrade]]).
    * From hub₀ ≡ 1: auth₁(s) = in-degree(s); hub₁(c) = Σ auth₁ over c's
    * suppliers; auth₂(s) = Σ hub₁ over s's customers. Un-normalized —
    * HITS normalization only rescales, and the integer scores preserve
    * the ranking, which is the consumed artifact. Two shuffle joins on
    * uniform dimension keys; output is dimension-sized. */
  def hitsTrade(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct().localCheckpoint()
    val auth1 = e.groupBy("s").agg(count(lit(1)).as("auth1"))
    val hub1 = e.join(auth1, "s")
      .groupBy("c").agg(sum("auth1").as("hub1"))
    val auth2 = e.join(hub1, "c")
      .groupBy("s").agg(sum("hub1").as("auth2"))
    auth1.join(auth2, "s")
      .select(col("s").as("s_suppkey"), col("auth1"), col("auth2"))
  }

  def hitsOracleSql: String =
    """WITH e AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |), a1 AS (
      |  SELECT s, count(*) AS auth1 FROM e GROUP BY s
      |), h1 AS (
      |  SELECT c, sum(auth1) AS hub1 FROM e JOIN a1 USING (s) GROUP BY c
      |), a2 AS (
      |  SELECT s, sum(hub1) AS auth2 FROM e JOIN h1 USING (c) GROUP BY s
      |)
      |SELECT s AS s_suppkey, CAST(auth1 AS BIGINT) AS auth1,
      |  CAST(auth2 AS BIGINT) AS auth2
      |FROM a1 JOIN a2 USING (s)""".stripMargin

  /** Per-node LOCAL clustering coefficient over the bounded graph:
    * cc = 2·triangles / (deg·(deg−1)), emitted as permicro via the
    * truncating div (numerator and divisor non-negative). Nodes of
    * degree < 2 have no possible wedge and report 0. Rides
    * [[triangleCounts]]' ordered wedge join — same ≤ 4K²·|V| cost
    * envelope, output dimension-sized. */
  def clusteringCoeff(edges: DataFrame): DataFrame =
    triangleCounts(edges)
      .withColumn("cc_permicro", expr(
        """CASE WHEN degree >= 2
          |  THEN (triangles * 2 * 1000000) div (degree * (degree - 1))
          |  ELSE CAST(0 AS BIGINT) END""".stripMargin))

  /** Degree assortativity of an undirected graph — the Pearson
    * correlation of endpoint degrees over the DIRECTED endpoint list
    * (each edge contributes both orientations). Symmetry makes the two
    * marginals identical, so the correlation collapses to the fully
    * rational
    *   r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)
    * — no square root, hence exact permicro (both engines truncate
    * toward zero, so the signed div is engine-identical). Everything
    * after the degree groupBy is a dimension-sized join + one
    * aggregation to a single row. */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v")).localCheckpoint()
    val und = e.select(col("u").as("node"), col("v").as("nbr"))
      .unionByName(e.select(col("v").as("node"), col("u").as("nbr")))
    val deg = und.groupBy("node").agg(count(lit(1)).as("deg"))
    val sums = und
      .join(deg.select(col("node"), col("deg").as("dx")), "node")
      .join(deg.select(col("node").as("nbr"), col("deg").as("dy")), "nbr")
      .agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sx"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dx") * col("dy")).as("sxy"))
    sums
      .withColumn("md", col("m").cast("decimal(38,0)"))
      .withColumn("sxd", col("sx").cast("decimal(38,0)"))
      .withColumn("sxxd", col("sxx").cast("decimal(38,0)"))
      .withColumn("sxyd", col("sxy").cast("decimal(38,0)"))
      .selectExpr("m", "sx", "sxx", "sxy",
        """CASE WHEN md * sxxd - sxd * sxd <> 0
          |  THEN ((md * sxyd - sxd * sxd) * 1000000)
          |       div (md * sxxd - sxd * sxd) END
          |  AS assort_permicro""".stripMargin)
  }

  /** `rounds` synchronous rounds of k-core peeling: each round drops
    * every node whose CURRENT degree is < k, then the edges touching a
    * dropped node, and reports (round, n_nodes, n_edges). Round 0 is
    * the input graph. A bounded-iteration "step" operator in the
    * [[labelPropagationStep]] / PCA-power mold — the oracle unrolls the
    * same rounds, so convergence is not part of the contract. Each
    * round is one endpoint groupBy + two semi joins on node keys;
    * localCheckpoint truncates the growing lineage exactly as the
    * triangle path does. */
  def kcorePeelRounds(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    def stats(r: Int, e: DataFrame): DataFrame = {
      val nodes = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .agg(countDistinct("node").as("n_nodes"))
      nodes.crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .select(lit(r).as("round"), col("n_nodes"), col("n_edges"))
    }
    var e = edges.select(col("u"), col("v")).localCheckpoint()
    val out = Seq.newBuilder[DataFrame]
    out += stats(0, e)
    for (r <- 1 to rounds) {
      val deg = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node")
      e = e
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint()
      out += stats(r, e)
    }
    out.result().reduce(_ unionByName _)
  }

  // ---- query-map entries (hash-gated) ----

  /** Gated instance: local clustering coefficients of the top-8
    * co-supply graph. */
  def clusteringCoeffCoSupply(spark: SparkSession, dir: String): DataFrame =
    clusteringCoeff(topKCoSupplyEdges(Tables.lineitem(spark, dir), K, coSupplyParts(spark, dir)))
      .select(col("node").as("s_suppkey"), col("degree"), col("triangles"),
        col("cc_permicro"))

  def clusteringCoeffOracleSql: String =
    s"""WITH $edgesCte, tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM e e1
       |  JOIN e e2 ON e2.u = e1.v
       |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
       |), corners AS (
       |  SELECT node, count(*) AS triangles FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri
       |  ) GROUP BY node
       |), deg AS (
       |  SELECT node, count(*) AS degree FROM (
       |    SELECT u AS node FROM e UNION ALL SELECT v FROM e
       |  ) GROUP BY node
       |)
       |SELECT deg.node AS s_suppkey, CAST(degree AS BIGINT) AS degree,
       |  CAST(coalesce(triangles, 0) AS BIGINT) AS triangles,
       |  CASE WHEN degree >= 2
       |    THEN CAST((coalesce(triangles, 0) * 2 * 1000000)
       |              // (degree * (degree - 1)) AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS cc_permicro
       |FROM deg LEFT JOIN corners ON corners.node = deg.node""".stripMargin

  /** Gated instance: degree assortativity of the top-8 co-supply
    * graph — one signed permicro scalar plus its four exact sums. */
  def assortativityCoSupply(spark: SparkSession, dir: String): DataFrame =
    assortativity(topKCoSupplyEdges(Tables.lineitem(spark, dir), K, coSupplyParts(spark, dir)))

  def assortativityOracleSql: String =
    s"""WITH $edgesCte, und AS (
       |  SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e
       |), deg AS (
       |  SELECT node, count(*) AS deg FROM und GROUP BY node
       |), s AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS m,
       |    CAST(sum(a.deg) AS HUGEINT) AS sx,
       |    CAST(sum(a.deg * a.deg) AS HUGEINT) AS sxx,
       |    CAST(sum(a.deg * b.deg) AS HUGEINT) AS sxy
       |  FROM und
       |  JOIN deg a ON a.node = und.node
       |  JOIN deg b ON b.node = und.nbr
       |)
       |SELECT CAST(m AS BIGINT) AS m, CAST(sx AS BIGINT) AS sx,
       |  CAST(sxx AS BIGINT) AS sxx, CAST(sxy AS BIGINT) AS sxy,
       |  CASE WHEN m * sxx - sx * sx <> 0
       |    THEN CAST(((m * sxy - sx * sx) * 1000000)
       |              // (m * sxx - sx * sx) AS BIGINT)
       |  END AS assort_permicro
       |FROM s""".stripMargin

  /** Gated instance: four rounds of 3-core peeling on the top-8
    * co-supply graph. */
  def kcorePeelCoSupply(spark: SparkSession, dir: String): DataFrame =
    kcorePeelRounds(topKCoSupplyEdges(Tables.lineitem(spark, dir), K, coSupplyParts(spark, dir)),
      k = 3, rounds = 4)

  def kcorePeelOracleSql: String = {
    // MATERIALIZED fences are load-bearing: each round references its
    // predecessor ~5× (degree union, edge filter, stats), so inlined
    // CTEs would re-expand the co-supply pair join ~5^rounds times
    def peel(prev: String, cur: String): String =
      s"""d_$cur AS MATERIALIZED (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT u AS node FROM e_$prev UNION ALL SELECT v FROM e_$prev
         |  ) GROUP BY node
         |), k_$cur AS MATERIALIZED (
         |  SELECT node FROM d_$cur WHERE deg >= 3
         |), e_$cur AS MATERIALIZED (
         |  SELECT p.u, p.v FROM e_$prev p
         |  JOIN k_$cur a ON a.node = p.u
         |  JOIN k_$cur b ON b.node = p.v
         |)""".stripMargin
    def statsRow(r: Int, tbl: String): String =
      s"""SELECT CAST($r AS INT) AS round,
         |  (SELECT CAST(count(DISTINCT node) AS BIGINT) FROM (
         |     SELECT u AS node FROM $tbl UNION ALL SELECT v FROM $tbl
         |   )) AS n_nodes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $tbl) AS n_edges"""
        .stripMargin
    s"""WITH $edgesCte, e_0 AS MATERIALIZED (SELECT u, v FROM e),
       |${peel("0", "1")},
       |${peel("1", "2")},
       |${peel("2", "3")},
       |${peel("3", "4")}
       |${statsRow(0, "e_0")}
       |UNION ALL ${statsRow(1, "e_1")}
       |UNION ALL ${statsRow(2, "e_2")}
       |UNION ALL ${statsRow(3, "e_3")}
       |UNION ALL ${statsRow(4, "e_4")}""".stripMargin
  }

  /** Layered BFS from the graph's smallest node id — single-source
    * shortest hop distances, depth-capped: the reachability profile of
    * the bounded co-supply graph ("how many hops does influence take to
    * cover the supplier network"). `maxDepth` synchronous frontier
    * expansions in the [[kcorePeelRounds]] bounded-iteration mold —
    * the oracle unrolls the SAME rounds, so nodes farther than
    * maxDepth hops are absent by contract, not by convergence. Each
    * round is one dist⋈edges equi-join + a min-groupBy on node keys,
    * lineage truncated per round; at 100 TB the frontier tables are
    * dimension-sized. */
  def bfsLayers(edges: DataFrame, maxDepth: Int): DataFrame = {
    val und = edges.select(col("u").as("s"), col("v").as("t"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint() // reused every round
    var dist = und.agg(min(col("s")).as("node"))
      .select(col("node"), lit(0L).as("layer"))
    for (_ <- 1 to maxDepth) {
      val next = dist
        .select(col("node").as("__fn"), col("layer").as("__fl"))
        .join(und, col("__fn") === col("s"))
        .select(col("t").as("node"), (col("__fl") + lit(1L)).as("layer"))
      dist = dist.unionByName(next)
        .groupBy("node").agg(min("layer").as("layer"))
        .localCheckpoint()
    }
    dist.select(col("node"), col("layer"))
  }

  /** Newman modularity Q of a given node partition — "are there more
    * within-community edges than a degree-preserving random rewiring
    * would give?": the quality score for [[labelPropagationStep]]'s
    * communities and any externally supplied segmentation. Exact
    * rationals: Q = (4m·E_in - Σ_c d_c²) / (4m²) over BIGINT edge and
    * degree counts, DECIMAL(38,0)-carried (d_c² and m² outgrow BIGINT
    * past ~3·10⁹ edges), reported in one sign-split truncating
    * permicro division. Nodes without a label are dropped from the
    * graph first (declared), so d_c sums stay consistent with m. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val lab = labels.select(col("node"), col("community"))
    val e2 = edges
      .join(lab.select(col("node").as("u"), col("community").as("cu")),
        Seq("u"))
      .join(lab.select(col("node").as("v"), col("community").as("cv")),
        Seq("v"))
      .localCheckpoint() // reused: m, within, degrees
    val m = e2.agg(count(lit(1)).cast("decimal(38,0)").as("m"),
      sum(when(col("cu") === col("cv"), 1L).otherwise(0L))
        .cast("decimal(38,0)").as("e_in"))
    val d2 = e2.select(col("cu").as("c")).unionAll(e2.select(col("cv").as("c")))
      .groupBy("c").agg(count(lit(1)).cast("decimal(38,0)").as("d_c"))
      .agg(count(lit(1)).as("k_communities"),
        sum(col("d_c") * col("d_c")).cast("decimal(38,0)").as("dd"))
    m.crossJoin(broadcast(d2))
      .select(
        col("m").cast("long").as("m_edges"),
        col("k_communities"),
        col("e_in").cast("long").as("within_edges"),
        expr("""CASE WHEN m > 0 THEN
            (CASE WHEN 4 * m * e_in < dd THEN -1L ELSE 1L END)
              * ((CAST(1000000 AS DECIMAL(38,0)) * abs(4 * m * e_in - dd))
                  div (4 * m * m))
          END""").as("q_permicro"))
  }

  /** Gated instance: BFS layers from the smallest supplier in the
    * top-8 co-supply graph, 6 hops. */
  def bfsCoSupply(spark: SparkSession, dir: String): DataFrame =
    bfsLayers(topKCoSupplyEdges(Tables.lineitem(spark, dir), K, coSupplyParts(spark, dir)), 6)

  def bfsOracleSql: String = {
    def step(i: Int): String =
      s"""s${i + 1} AS (
         |  SELECT node, min(layer) AS layer FROM (
         |    SELECT node, layer FROM s$i
         |    UNION ALL
         |    SELECT un.t AS node, s$i.layer + 1 AS layer
         |    FROM s$i JOIN un ON un.s = s$i.node
         |  ) GROUP BY node
         |)""".stripMargin
    s"""WITH $edgesCte, un AS MATERIALIZED (
       |  SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e
       |), s0 AS (SELECT (SELECT min(u) FROM e) AS node, 0 AS layer),
       |${(0 until 6).map(step).mkString(",\n")}
       |SELECT CAST(node AS BIGINT) AS node, CAST(layer AS BIGINT) AS layer
       |FROM s6""".stripMargin
  }

  /** Gated instance: modularity of the nation partition over the top-8
    * co-supply graph — does co-supply cluster along nations? */
  def modularityCoSupply(spark: SparkSession, dir: String): DataFrame =
    modularity(
      topKCoSupplyEdges(Tables.lineitem(spark, dir), K, coSupplyParts(spark, dir)),
      Tables.supplier(spark, dir)
        .select(col("s_suppkey").as("node"),
          col("s_nationkey").as("community")))

  def modularityOracleSql: String =
    s"""WITH $edgesCte, lab AS (
       |  SELECT s_suppkey AS node, s_nationkey AS community FROM supplier
       |), e2 AS (
       |  SELECT e.u, e.v, lu.community AS cu, lv.community AS cv
       |  FROM e JOIN lab lu ON lu.node = e.u JOIN lab lv ON lv.node = e.v
       |), mm AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS m,
       |    CAST(sum(CASE WHEN cu = cv THEN 1 ELSE 0 END) AS HUGEINT) AS e_in
       |  FROM e2
       |), dd AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k_communities,
       |    CAST(sum(d_c * d_c) AS HUGEINT) AS dd
       |  FROM (
       |    SELECT c, CAST(count(*) AS HUGEINT) AS d_c FROM (
       |      SELECT cu AS c FROM e2 UNION ALL SELECT cv FROM e2
       |    ) GROUP BY c
       |  )
       |)
       |SELECT CAST(m AS BIGINT) AS m_edges, k_communities,
       |  CAST(e_in AS BIGINT) AS within_edges,
       |  CASE WHEN m > 0 THEN CAST(
       |    (CASE WHEN 4 * m * e_in < dd.dd THEN -1 ELSE 1 END)
       |      * ((1000000 * abs(4 * m * e_in - dd.dd)) // (4 * m * m))
       |    AS BIGINT) END AS q_permicro
       |FROM mm CROSS JOIN dd""".stripMargin

  /** Weighted variant of [[topKCoSupplyEdges]]: (u, v, w) with w = the
    * co-supply count. w is symmetric, so the undirected collapse can
    * carry it through the distinct. */
  def topKCoSupplyWeightedEdges(lineitem: DataFrame, k: Int,
      parts: Int = 0): DataFrame = {
    val pairs = coSupplyPairs(lineitem, parts)
    val directed = pairs.select(col("u").as("s"), col("v").as("t"), col("w"))
      .unionByName(pairs.select(col("v").as("s"), col("u").as("t"), col("w")))
    val wTop = Window.partitionBy("s").orderBy(col("w").desc, col("t").asc)
    directed.withColumn("__r", row_number().over(wTop))
      .filter(col("__r") <= k)
      .select(least(col("s"), col("t")).as("u"),
        greatest(col("s"), col("t")).as("v"), col("w"))
      .distinct()
  }

  /** Single-source shortest paths by `rounds` Bellman-Ford relaxation
    * sweeps from the smallest node — the weighted sibling of
    * [[bfsLayers]]. Each round is ONE frontier⋈edges shuffle plus a
    * per-node min (the Pregel envelope PageRank already uses); after R
    * rounds the distances are exact for every path of ≤ R edges — the
    * declared contract, not an approximation, matching the hop-bounded
    * reads such graphs get in practice (supply-chain blast radius,
    * fraud rings). Loop state is localCheckpoint'ed so the plan stays
    * R-independent. Distances are BIGINT-safe: ≤ R · max weight. */
  def ssspBounded(edges: DataFrame, rounds: Int): DataFrame = {
    val und = edges
      .select(col("u").as("s"), col("v").as("t"), col("w"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t"), col("w")))
      .localCheckpoint() // reused every round
    var dist = und.agg(min(col("s")).as("node"))
      .select(col("node"), lit(0L).as("dist"))
    for (_ <- 1 to rounds) {
      val relaxed = dist
        .select(col("node").as("__fn"), col("dist").as("__fd"))
        .join(und, col("__fn") === col("s"))
        .select(col("t").as("node"), (col("__fd") + col("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy("node").agg(min("dist").as("dist"))
        .localCheckpoint()
    }
    dist.select(col("node"), col("dist"))
  }

  /** Gated instance: 4 relaxation rounds over the top-8 weighted
    * co-supply graph from the smallest supplier. */
  def ssspCoSupply(spark: SparkSession, dir: String): DataFrame =
    ssspBounded(
      topKCoSupplyWeightedEdges(Tables.lineitem(spark, dir), K, coSupplyParts(spark, dir)), 4)

  def ssspOracleSql: String = {
    def step(i: Int): String =
      s"""d${i + 1} AS (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d$i
         |    UNION ALL
         |    SELECT un.t AS node, d$i.dist + un.w AS dist
         |    FROM d$i JOIN un ON un.s = d$i.node
         |  ) GROUP BY node
         |)""".stripMargin
    s"""WITH ps AS (
       |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
       |), pw AS (
       |  SELECT a.s AS u, b.s AS v, count(*) AS w
       |  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
       |  GROUP BY 1, 2
       |), directed AS (
       |  SELECT u AS s, v AS t, w FROM pw
       |  UNION ALL SELECT v, u, w FROM pw
       |), topk AS (
       |  SELECT s, t, w,
       |    row_number() OVER (PARTITION BY s ORDER BY w DESC, t ASC) AS r
       |  FROM directed
       |), e AS (
       |  SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v, w
       |  FROM topk WHERE r <= $K
       |), un AS MATERIALIZED (
       |  SELECT u AS s, v AS t, w FROM e UNION ALL SELECT v, u, w FROM e
       |), d0 AS (SELECT (SELECT min(u) FROM e) AS node,
       |          CAST(0 AS BIGINT) AS dist),
       |${(0 until 4).map(step).mkString(",\n")}
       |SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist
       |FROM d4""".stripMargin
  }

  /** Bounded harmonic + closeness centrality from EVERY node at once —
    * "which suppliers sit at the center of the co-supply network?":
    * multi-source synchronous BFS to `maxDepth` hops keyed by
    * (src, node), then per-source aggregation. Harmonic centrality
    * Σ_v 10⁶ div d(s,v) is the disconnected-robust variant (absent
    * pairs contribute 0, no ∞ pathology); bounded closeness is
    * (10⁶·(reached−1)) div Σd over the ≤maxDepth ball — both exact
    * truncating integer forms, unrolled identically by the oracle.
    *
    * Scale: the frontier table holds (src, node) pairs within
    * `maxDepth` hops — on the degree-bounded top-K graph that is
    * ≤ |V|·(2K)^depth rows, LINEAR in |V| with a constant set by the
    * declared (K, depth) contract, never |V|². Each round is one
    * dist⋈edges shuffle + a min-groupBy, lineage truncated per round
    * — [[bfsLayers]]' envelope fanned out across sources.
    *
    * Partition scaling (r17 lesson, measured): each round's aggregate
    * inherits the GLOBAL shuffle-partition count, but the state is
    * |V|·(2K)^depth — at the 100× replica (100k suppliers, ~4×10⁸
    * (src, node) pairs) 32 partitions put >10M-entry hash maps in
    * every task and the round-3 aggregate died with SparkOutOfMemory.
    * Sizing is ADAPTIVE (r18): each round repartitions by (src, node)
    * to ~1M pairs per partition using the bound
    * |prev state|·(maxDeg+1) — the previous round's MEASURED count
    * (observed in its pin job) times the exact one-hop
    * growth factor (max degree from one up-front aggregate). A-priori
    * nV·deg^depth estimates both failed at the 100× replica: average
    * degree under-scales on skew (the r17 OOM), max degree
    * over-partitions into the 4096 cap (hub nodes sit in many top-K
    * lists, so maxDeg ≫ 2K — measured 2× slower). Floored at the
    * session default, capped at 4096 — the knob a cluster job would
    * set; the
    * explicit hash repartitioning on the grouping keys satisfies the
    * aggregate's distribution requirement, so no extra shuffle
    * appears. */
  def harmonicCloseness(edges: DataFrame, maxDepth: Int): DataFrame = {
    val spark = edges.sparkSession
    val und = edges.select(col("u").as("s"), col("v").as("t"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint() // reused every round
    // nV and the MAX out-degree in one job (not two): the state bound
    // is |V|·maxDeg^depth — sizing from the AVERAGE degree under-scales
    // on skewed graphs and the OOM this repartition exists to prevent
    // recurs. On the degree-bounded top-K graph maxDeg = 2K, so this is
    // exactly the documented (2K)^depth envelope.
    val degStats = und.groupBy(col("s")).agg(count(lit(1)).as("deg"))
      .agg(count(lit(1)).as("nv"), max(col("deg")).as("maxdeg"))
      .head()
    val nV = math.max(1L, degStats.getLong(0))
    val kOut = math.max(2L, degStats.getLong(1))
    val sessionParts =
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    var dist = und.select(col("s").as("src")).distinct()
      .select(col("src"), col("src").as("node"), lit(0L).as("d"))
    // ADAPTIVE state sizing (r18): the a-priori nV·maxDeg^depth bound
    // over-partitions badly — on the top-K graph a hub supplier sits
    // in MANY nodes' top-K lists, so maxDeg ≫ 2K and the estimate
    // slams into the 4096 cap (measured 2× slower at the 100× replica
    // than the r17 average-degree form). Instead each round sizes from
    // the PREVIOUS round's MEASURED pair count: the next state is
    // ≤ |dist|·(maxDeg + 1) exactly (every pair spawns ≤ maxDeg
    // one-hop extensions and survives itself), and the count is
    // observed inside the round's own pin job.
    var distCount = nV
    for (_ <- 1 to maxDepth) {
      val parts = math.max(sessionParts, math.min(4096.0,
        distCount.toDouble * (kOut + 1).toDouble / 1e6).toInt)
      val next = dist
        .select(col("src"), col("node").as("__fn"), col("d").as("__fd"))
        .join(und, col("__fn") === col("s"))
        .select(col("src"), col("t").as("node"), (col("__fd") + lit(1L)).as("d"))
      // per-round checkpoint measured FASTER than relying on
      // ReuseExchange over the doubling replay tree (8.7 s vs 11.6 s
      // at sf0.1): the frontier frame is small, the replayed plan isn't.
      // The explicit repartition engages only ABOVE the session
      // partition count: pre-satisfying the aggregate's distribution
      // suppresses its map-side partial combine, a good trade only when
      // the alternative is 10M-entry per-task hash maps
      val merged = dist.unionByName(next)
      val shaped =
        if (parts > sessionParts)
          merged.repartition(parts, col("src"), col("node"))
        else merged
      val (pinned, pinnedRows) = Checkpoints.pinCounted(
        shaped.groupBy("src", "node").agg(min("d").as("d")))
      dist = pinned
      distCount = pinnedRows
    }
    dist.groupBy(col("src").as("node"))
      .agg((count(lit(1)) - lit(1L)).as("n_reached"),
        sum(col("d")).as("sum_dist"),
        sum(when(col("d") > 0, expr("1000000L div d")).otherwise(lit(0L)))
          .as("harmonic_permicro"))
      .withColumn("closeness_permicro",
        expr("""CASE WHEN sum_dist > 0
                THEN (1000000 * n_reached) div sum_dist ELSE 0L END"""))
  }

  /** One Louvain MOVE step from singleton communities — the greedy
    * modularity-ascent primitive under Louvain/Leiden community
    * detection, gated the way `kmeans_step`/`gbt_stump` gate their
    * fit iterations: every node inspects its neighbors' (singleton)
    * communities and adopts the one with the best POSITIVE modularity
    * gain. From singletons the gain of i→{j} scaled by 2m² is the
    * pure integer 2m·w_ij − k_i·k_j (w_ij = 1 unweighted), so the
    * argmax — (gain DESC, neighbor ASC) — is exact; nodes whose best
    * gain ≤ 0 stay put. Complements [[labelPropagationStep]] (which
    * ignores degrees) with the degree-corrected objective
    * [[modularity]] scores.
    *
    * Scale: degrees are one reaggregation of the edge list; the
    * candidate table is ONE edges⋈degrees join (|E| rows, bounded
    * degree by the top-K construction); the argmax is a max-struct
    * aggregate per node. */
  def louvainMoveStep(edges: DataFrame): DataFrame = {
    val (e, m) = Checkpoints.pinCounted(edges.select(col("u"), col("v")))
    val und = e.select(col("u").as("node"), col("v").as("nbr"))
      .unionByName(e.select(col("v").as("node"), col("u").as("nbr")))
    val deg = und.groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // joined on both endpoints
    und
      .join(deg, Seq("node"))
      .join(deg.select(col("node").as("nbr"), col("deg").as("deg_nbr")),
        Seq("nbr"))
      .withColumn("gain2m2", lit(2L * m) - col("deg") * col("deg_nbr"))
      .groupBy("node")
      .agg(max(struct(col("gain2m2"), (-col("nbr")).as("negn"))).as("b"),
        max(col("deg")).as("degree"))
      .select(col("node"), col("degree"),
        col("b.gain2m2").as("best_gain2m2"),
        (-col("b.negn")).as("best_nbr"),
        when(col("b.gain2m2") > 0, -col("b.negn")).otherwise(col("node"))
          .as("new_community"))
  }

  /** Gated instance: one Louvain move pass over the top-8 co-supply
    * graph from singleton communities. */
  def louvainCoSupply(spark: SparkSession, dir: String): DataFrame =
    louvainMoveStep(topKCoSupplyEdges(Tables.lineitem(spark, dir), K, coSupplyParts(spark, dir)))
      .withColumnRenamed("node", "s_suppkey")

  def louvainOracleSql: String =
    s"""WITH $edgesCte, und AS MATERIALIZED (
       |  SELECT u AS node, v AS nbr FROM e
       |  UNION ALL SELECT v, u FROM e
       |), deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg
       |  FROM und GROUP BY node
       |), m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
       |cand AS (
       |  SELECT und.node, und.nbr, d1.deg,
       |    2 * m.m - d1.deg * d2.deg AS gain2m2
       |  FROM und
       |  JOIN deg d1 ON d1.node = und.node
       |  JOIN deg d2 ON d2.node = und.nbr
       |  CROSS JOIN m
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY node
       |    ORDER BY gain2m2 DESC, nbr ASC) AS rk
       |  FROM cand
       |)
       |SELECT CAST(node AS BIGINT) AS s_suppkey,
       |  CAST(deg AS BIGINT) AS degree,
       |  CAST(gain2m2 AS BIGINT) AS best_gain2m2,
       |  CAST(nbr AS BIGINT) AS best_nbr,
       |  CAST(CASE WHEN gain2m2 > 0 THEN nbr ELSE node END AS BIGINT)
       |    AS new_community
       |FROM ranked WHERE rk = 1""".stripMargin

  /** Gated instance: 3-hop harmonic/closeness centrality of every
    * supplier in the top-8 co-supply graph. */
  def centralityCoSupply(spark: SparkSession, dir: String): DataFrame =
    harmonicCloseness(topKCoSupplyEdges(Tables.lineitem(spark, dir), K, coSupplyParts(spark, dir)), 3)
      .withColumnRenamed("node", "s_suppkey")

  def centralityOracleSql: String = {
    def step(i: Int): String =
      s"""d${i + 1} AS (
         |  SELECT src, node, min(d) AS d FROM (
         |    SELECT src, node, d FROM d$i
         |    UNION ALL
         |    SELECT d$i.src, un.t AS node, d$i.d + 1 AS d
         |    FROM d$i JOIN un ON un.s = d$i.node
         |  ) GROUP BY src, node
         |)""".stripMargin
    s"""WITH $edgesCte, un AS MATERIALIZED (
       |  SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e
       |), d0 AS (
       |  SELECT DISTINCT s AS src, s AS node, CAST(0 AS BIGINT) AS d FROM un
       |),
       |${(0 until 3).map(step).mkString(",\n")}
       |SELECT CAST(src AS BIGINT) AS s_suppkey,
       |  CAST(count(*) - 1 AS BIGINT) AS n_reached,
       |  CAST(sum(d) AS BIGINT) AS sum_dist,
       |  CAST(sum(CASE WHEN d > 0 THEN 1000000 // d ELSE 0 END) AS BIGINT)
       |    AS harmonic_permicro,
       |  CASE WHEN sum(d) > 0
       |    THEN CAST((1000000 * (count(*) - 1)) // sum(d) AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS closeness_permicro
       |FROM d3 GROUP BY src""".stripMargin
  }

  /** Pair-terminal betweenness — the centrality the family still
    * lacked next to closeness/harmonic: which nodes do the shortest
    * paths BETWEEN chosen terminals run through (bridge/chokepoint
    * detection on the co-supply network)? Exact Brandes-style path
    * counting kept INTEGER: one multi-source BFS from the `nTerminals`
    * smallest nodes carries (dist, σ) per (terminal, node) — σ(v) =
    * Σ σ(pred) over first-arrival predecessors, the standard BFS
    * sigma — then for every terminal pair (a, b) a node v lies on a
    * shortest a–b path iff d_a(v) + d_b(v) = d_a(b), contributing
    * σ_a(v)·σ_b(v) of the σ_ab paths. Output per node: pair count,
    * raw through-path count (stress centrality, exact), and
    * betweenness as Σ_pairs ⌊10⁶·σ_a(v)·σ_b(v)/σ_ab⌋ micros.
    * Endpoints are excluded per the standard definition.
    *
    * Scale: the BFS state is (terminals × reached) rows — degree-
    * bounded on the top-K graph, so ≤ T·(2K)^depth regardless of |V|;
    * each level is one frontier⋈edges shuffle + an anti-join against
    * the settled set (localCheckpoint'ed, R-independent plan). The
    * pair algebra is three joins at state cardinality. */
  def pathBetweenness(edges: DataFrame, nTerminals: Int,
                      maxDepth: Int): DataFrame = {
    val und = edges.select(col("u").as("s"), col("v").as("t"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t")))
      .localCheckpoint()
    val terms = und.select(col("s").as("node")).distinct()
      .orderBy("node").limit(nTerminals).localCheckpoint()
    var settled = terms.select(col("node").as("src"), col("node"),
      lit(0).as("d"), lit(1L).as("sigma")).localCheckpoint()
    var frontier = settled
    for (level <- 1 to maxDepth) {
      val nxt = frontier
        .select(col("src"), col("node").as("__fn"), col("sigma").as("__fs"))
        .join(und, col("__fn") === col("s"))
        .groupBy(col("src"), col("t").as("node"))
        .agg(sum(col("__fs")).as("sigma"))
        .join(settled.select(col("src"), col("node")),
          Seq("src", "node"), "left_anti")
        .select(col("src"), col("node"), lit(level).as("d"), col("sigma"))
        .localCheckpoint()
      settled = settled.unionByName(nxt).localCheckpoint()
      frontier = nxt
    }
    val pairs = terms.select(col("node").as("a"))
      .crossJoin(terms.select(col("node").as("b")))
      .filter(col("a") < col("b"))
    val dab = pairs.join(settled.select(col("src").as("a"),
      col("node").as("b"), col("d").as("d_ab"),
      col("sigma").as("sigma_ab")), Seq("a", "b"))
    val sa = settled.select(col("src").as("a"), col("node"),
      col("d").as("da"), col("sigma").as("s_a"))
    val sb = settled.select(col("src").as("b"), col("node"),
      col("d").as("db"), col("sigma").as("s_b"))
    dab.join(sa, Seq("a")).join(sb, Seq("b", "node"))
      .filter(col("da") + col("db") === col("d_ab") &&
        col("node") =!= col("a") && col("node") =!= col("b"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_pairs_on"),
        sum(col("s_a") * col("s_b")).as("through_paths"),
        // numerator and divisor positive: div IS floor on both engines
        sum(expr("(1000000 * s_a * s_b) div sigma_ab"))
          .as("betweenness_micros"))
  }

  /** Gated instance: 4 terminals (smallest suppliers), depth 4, over
    * the top-8 co-supply graph. */
  def pathBetweennessCoSupply(spark: SparkSession, dir: String): DataFrame =
    pathBetweenness(topKCoSupplyEdges(Tables.lineitem(spark, dir), K, coSupplyParts(spark, dir)),
      nTerminals = 4, maxDepth = 4)

  /** The BFS is unrolled per level with a settled anti-join (the
    * bfs/sssp oracle discipline) rather than enumerated as walks: a
    * recursive all-walks CTE multiplies through high-in-degree hubs
    * (a popular supplier sits in MANY nodes' top-K, so undirected
    * degree is unbounded) and detonates at the 10× replica; the
    * level-unrolled form is ≤ terminals·|V| rows per level. */
  def pathBetweennessOracleSql: String = {
    def level(i: Int): String =
      s"""l${i + 1} AS MATERIALIZED (
         |  SELECT f.src, un.t AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma
         |  FROM l$i f JOIN un ON un.s = f.node
         |  LEFT JOIN s$i p ON p.src = f.src AND p.node = un.t
         |  WHERE p.node IS NULL GROUP BY 1, 2
         |), s${i + 1} AS MATERIALIZED (
         |  SELECT * FROM s$i
         |  UNION ALL SELECT src, node, ${i + 1} AS d, sigma FROM l${i + 1}
         |)""".stripMargin
    s"""WITH $edgesCte, un AS MATERIALIZED (
       |  SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e
       |), terms AS MATERIALIZED (
       |  SELECT node FROM (
       |    SELECT u AS node FROM e UNION SELECT v FROM e
       |  ) GROUP BY node ORDER BY node LIMIT 4
       |), l0 AS MATERIALIZED (
       |  SELECT node AS src, node, CAST(1 AS BIGINT) AS sigma FROM terms
       |), s0 AS MATERIALIZED (
       |  SELECT src, node, 0 AS d, sigma FROM l0
       |),
       |${(0 until 4).map(level).mkString(",\n")},
       |sig AS MATERIALIZED (SELECT * FROM s4), pr AS (
       |  SELECT a.node AS a, b.node AS b
       |  FROM terms a JOIN terms b ON a.node < b.node
       |), dab AS (
       |  SELECT pr.a, pr.b, s.d AS d_ab, s.sigma AS sigma_ab
       |  FROM pr JOIN sig s ON s.src = pr.a AND s.node = pr.b
       |), thr AS (
       |  SELECT sa.node, sa.sigma * sb.sigma AS through, dab.sigma_ab
       |  FROM dab
       |  JOIN sig sa ON sa.src = dab.a
       |  JOIN sig sb ON sb.src = dab.b AND sb.node = sa.node
       |  WHERE sa.d + sb.d = dab.d_ab
       |    AND sa.node <> dab.a AND sa.node <> dab.b
       |)
       |SELECT CAST(node AS BIGINT) AS node,
       |  CAST(count(*) AS BIGINT) AS n_pairs_on,
       |  CAST(sum(through) AS BIGINT) AS through_paths,
       |  CAST(sum((1000000 * through) // sigma_ab) AS BIGINT)
       |    AS betweenness_micros
       |FROM thr GROUP BY node""".stripMargin
  }
}
