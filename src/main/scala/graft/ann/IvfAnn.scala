package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** IVF (inverted-file) approximate nearest neighbors — the direct
  * counterpart of the reference's coarse-quantized FAISS index
  * (/root/reference/MachineLearning/ML/performant_faiss.py:7,
  * `IVF65536,PQ8x8`): k-means centroids partition the corpus into
  * inverted lists; a query probes only its `nprobe` nearest lists and
  * scores exactly within them.
  *
  * Everything is deterministic: centroids are seeded from the vectors
  * with the smallest xxhash64(id) (spread, reproducible), and k-means
  * accumulates QUANTIZED INTEGER coordinates (order-independent sums, so
  * centroids are bit-identical across partitionings — float averaging
  * would let reduction order flip boundary assignments). Distance
  * comparisons use −2·v·c + |c|² over integer dot products (|v|² is
  * constant per row), computed by the codegen'd LongArrayDot.
  *
  * Scale shape, mirroring FAISS practice: train on a deterministic
  * hash-sample (training cost is O(sample·k·iters), independent of
  * corpus size), one broadcast of k×dim centroids assigns the corpus in
  * a single map pass, lists shuffle on centroid id (k ≫ cores keeps them
  * uniform — grow nlist with corpus size exactly like the reference's
  * 65536), and the probe join touches nprobe/nlist of the corpus. The
  * handful of queries is broadcast into that join, and the top-k is
  * [[Ranking.partialTopK]]: each partition's top k per query is kept
  * map-side, below the one `query_id` exchange.
  */
object IvfAnn {

  val NList = 16     // centroid count at test scale (65536-style at 100 TB)
  val NProbe = 4
  val Iters = 5

  /** Deterministic k-means over a frame of (`__id`, `__q` array<bigint>):
    * returns (centroidId, centroid). One bounded TakeOrdered job collects
    * the [[Kmeans]] sample (smallest (xxhash64(id), id) rows); iterations
    * run in the driver on that fixed-size sample — training cost is
    * independent of corpus size, the FAISS shape (the old distributed
    * form re-scanned a corpus FRACTION per iteration: 50 TB × 5 at the
    * target scale). Exact integer arithmetic keeps centroids
    * bit-identical across runs and partitionings. */
  def kmeansQ(q: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Long])] = {
    val pts = Kmeans.sampleQ(q, "__id", "__q", Kmeans.trainPoints(k))
    Kmeans.fit(pts, k, iters).zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
  }

  /** Coarse centroids for the IVF index. */
  def trainCentroids(vecs: DataFrame, idCol: String, vecCol: String,
                     k: Int = NList, iters: Int = Iters): Seq[(Int, Seq[Long])] =
    kmeansQ(
      vecs.select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q")),
      k, iters)

  /** Train-or-load the centroids through [[graft.ml.ModelStore]] — the
    * reference's build-once index discipline (performant_faiss.py
    * trains the quantizer once and reuses it across query batches).
    * Keyed by the BACKING FILES' fingerprint + params, so a regenerated
    * table refits; a second invocation in one session runs ZERO
    * training scans (no sample job, no k-means) — just one tiny
    * artifact-parquet read. Bit-identity with the direct fit is free:
    * centroids are exact integers and roundtrip exactly. */
  def trainCentroidsCached(spark: SparkSession, dir: String, table: String,
                           vecs: DataFrame, idCol: String, vecCol: String,
                           k: Int = NList, iters: Int = Iters): Seq[(Int, Seq[Long])] = {
    val fp = graft.ml.ModelStore.fingerprint(dir, Seq(table))
    val key = s"ann_ivf_centroids|$dir|$table|$fp|k=$k|iters=$iters|v1"
    graft.ml.ModelStore.vectorsOrCompute(spark, key) {
      trainCentroids(vecs, idCol, vecCol, k, iters)
        .map { case (i, c) => (0, i, c) }
    }.map { case (_, i, c) => (i, c) }
  }

  /** Nearest-centroid assignment: argmin over k of |v−c|² via the
    * compiled [[graft.functions.PqAssign]] with the whole vector as a
    * single "subspace" (centroid index = list id; ties to the lower id,
    * same as the expression form it replaces). Adds `__cid`. */
  private[ann] def assign(q: DataFrame, qCol: String,
                          centroids: Seq[(Int, Seq[Long])]): DataFrame = {
    val ordered = centroids.sortBy(_._1).map(_._2)
    q.withColumn("__cid",
      element_at(PqAnn.assignCodes(col(qCol), Seq(ordered)), 1))
  }

  /** `nprobe` nearest centroid ids per query vector, via the compiled
    * [[graft.functions.NearestCentroids]] — plan size is O(1) in nlist
    * (the per-centroid struct-array form could never reach the
    * reference's nlist=65536). Centroid index = list id. */
  private[ann] def probeIds(qCol: Column, centroids: Seq[(Int, Seq[Long])],
                            nprobe: Int): Column = {
    val ordered = centroids.sortBy(_._1).map(_._2)
    graft.functions.Native.call(
      s"graft_nearest_centroids_${graft.functions.Native.contentHash(ordered, nprobe)}",
      exprs => graft.functions.NearestCentroids(exprs.head, ordered, nprobe), qCol)
  }

  private def probes(q: DataFrame, qCol: String,
                     centroids: Seq[(Int, Seq[Long])], nprobe: Int): DataFrame =
    q.select(col("*"), explode(probeIds(col(qCol), centroids, nprobe)).as("__cid"))

  /** Approximate top-k: probe nprobe lists, exact cosine within them.
    * `centroidsOpt` supplies a pre-trained (typically
    * [[trainCentroidsCached]]) quantizer; None trains inline. */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
           vecCol: String, k: Int, nlist: Int = NList,
           nprobe: Int = NProbe,
           centroidsOpt: Option[Seq[(Int, Seq[Long])]] = None): DataFrame = {
    val centroids = centroidsOpt.getOrElse(trainCentroids(corpus, idCol, vecCol, nlist))
    val cq = corpus.select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("__cq"))
      .withColumn("__cnorm", sqrt(dotQ(col("__cq"), col("__cq")).cast("double")))
    val lists = assign(cq, "__cq", centroids)
    val qq = queries.select(col(idCol).as("query_id"), quantize(col(vecCol)).as("__qq"))
      .withColumn("__qnorm", sqrt(dotQ(col("__qq"), col("__qq")).cast("double")))
    val qProbes = probes(qq, "__qq", centroids, nprobe)

    // no distinct needed: each corpus vector lives in exactly one list and
    // a query probes distinct lists, so a pair can match at most once
    val scored = lists.join(broadcast(qProbes), Seq("__cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotQ(col("__cq"), col("__qq")).cast("double")
          / (col("__cnorm") * col("__qnorm"))).as("cos_sim"))

    Ranking.partialTopK(scored, k, Seq(col("cos_sim").desc, col("neighbor_id")))
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  // ---- query-map entry (extra, rows-gated; recall asserted in AnnSpec) ----

  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
    topK(vecs, BruteForceKnn.queries(spark, dir), "vec_id", "embedding", k = 5,
      centroidsOpt = Some(trainCentroidsCached(spark, dir, "embeddings",
        vecs, "vec_id", "embedding")))
  }

  // ---- query-map entry (hash-gated via degeneracy) ----

  /** nprobe = nlist probes EVERY inverted list, so IVF degenerates to
    * exhaustive search: each (query, corpus) pair is scored exactly once
    * (one list per corpus vector, distinct probed lists) with the same
    * quantized-cosine arithmetic as [[BruteForceKnn]] — the result is
    * bit-identical to the flat baseline and shares its DuckDB oracle.
    * This turns the recall spec's "probing loses nothing at full probe"
    * claim into a driver-checked hash identity over the whole IVF
    * pipeline (train → assign → probe → score → rank). */
  def annIvfExhaustive(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
    topK(vecs, BruteForceKnn.queries(spark, dir), "vec_id", "embedding",
      k = 5, nlist = NList, nprobe = NList,
      centroidsOpt = Some(trainCentroidsCached(spark, dir, "embeddings",
        vecs, "vec_id", "embedding")))
  }
}
