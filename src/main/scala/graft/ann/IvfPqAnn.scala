package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** The combined IVF+PQ index — the reference's full factory string
  * (/root/reference/MachineLearning/ML/performant_faiss.py:7,
  * `IVF65536,PQ8x8`), composed from [[IvfAnn]]'s coarse quantizer and
  * [[PqAnn]]'s product codes, with textbook RESIDUAL coding: each vector
  * stores (list id, PQ codes of v − centroid(list)). Residuals are far
  * smaller in magnitude than raw vectors, so the same code budget buys a
  * finer quantization grid. A query probes its nprobe nearest lists and
  * ADC-scans only those lists' codes with a per-(query, list) residual
  * distance table; the approximate top pool re-ranks exactly.
  *
  * Scale shape: the stored index is (int list id + SubSpaces code ids)
  * per vector — the compressed-corpus memory story of PQ — and search
  * touches nprobe/nlist of it — the pruned-scan story of IVF. All
  * training/encoding runs in deterministic integer arithmetic, so the
  * index and results are bit-identical across runs and partitionings.
  */
object IvfPqAnn {

  val NProbe = 4
  // index build is one-time at real scale; fewer k-means rounds than the
  // standalone variants keeps the per-run build cost proportionate
  val TrainIters = 3

  /** Train the composite index: (coarse centroids, residual codebooks).
    * Coarse quantizer + codebooks over residuals, all in unit space
    * (integer L2 there is a monotone proxy for cosine). ONE bounded
    * TakeOrdered job collects the shared training sample; coarse
    * k-means, per-point residuals, and the per-subspace codebooks all
    * run in the driver over it — the whole index TRAINING costs one
    * bounded job regardless of corpus size (the FAISS shape); only
    * corpus ENCODING is distributed. */
  def trainIndex(corpus: DataFrame, idCol: String, vecCol: String)
      : (Seq[(Int, Seq[Long])], Seq[Seq[Seq[Long]]]) = {
    val pts = Kmeans.sampleQ(
      corpus.select(col(idCol).as("__id"), quantizeUnit(col(vecCol)).as("__q")),
      "__id", "__q",
      Kmeans.trainPoints(math.max(IvfAnn.NList, PqAnn.Codes)))
    val centsArr = Kmeans.fit(pts, IvfAnn.NList, TrainIters)
    val centroids: Seq[(Int, Seq[Long])] =
      centsArr.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
    val resPts = pts.map { p =>
      val c = centsArr(Kmeans.nearest(p, centsArr))
      val out = new Array[Long](p.length)
      var i = 0
      while (i < p.length) { out(i) = p(i) - c(i); i += 1 }
      out
    }
    (centroids, PqAnn.trainCodebooksFromPoints(resPts, PqAnn.Codes, TrainIters))
  }

  /** Train-or-load the composite index through [[graft.ml.ModelStore]]
    * (performant_faiss.py's build-once discipline): grp 0 carries the
    * coarse centroids, grp 1+s the residual codebook of subspace s.
    * Second invocation in a session runs zero training scans. */
  def trainIndexCached(spark: SparkSession, dir: String, table: String,
                       corpus: DataFrame, idCol: String, vecCol: String)
      : (Seq[(Int, Seq[Long])], Seq[Seq[Seq[Long]]]) = {
    val fp = graft.ml.ModelStore.fingerprint(dir, Seq(table))
    val key = s"ann_ivfpq_index|$dir|$table|$fp|nlist=${IvfAnn.NList}|" +
      s"codes=${PqAnn.Codes}|iters=$TrainIters|v1"
    val rows = graft.ml.ModelStore.vectorsOrCompute(spark, key) {
      val (cents, books) = trainIndex(corpus, idCol, vecCol)
      cents.map { case (i, c) => (0, i, c) } ++
        books.zipWithIndex.flatMap { case (book, s) =>
          book.zipWithIndex.map { case (c, i) => (s + 1, i, c) }
        }
    }
    val byGrp = rows.groupBy(_._1)
    (byGrp(0).sortBy(_._2).map(r => (r._2, r._3)),
      byGrp.toSeq.filter(_._1 > 0).sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3)))
  }

  /** Approximate top-k via probed-list ADC + exact re-rank.
    * `indexOpt` supplies a pre-trained (typically [[trainIndexCached]])
    * index; None trains inline. */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
           vecCol: String, k: Int,
           indexOpt: Option[(Seq[(Int, Seq[Long])], Seq[Seq[Seq[Long]]])] = None)
      : DataFrame = {
    val (centroids, books) =
      indexOpt.getOrElse(trainIndex(corpus, idCol, vecCol))
    val centArr = centroids.sortBy(_._1).map(_._2)
    // compiled v − centroids[cid] (ResidualQ): runs per corpus row in the
    // index build, so it must not be an interpreted zip_with lambda
    def residual(vec: Column, cid: Column): Column =
      graft.functions.Native.call(s"graft_residual_q_${graft.functions.Native.contentHash(centArr)}",
        exprs => graft.functions.ResidualQ(exprs(0), exprs(1), centArr), vec, cid)

    // the stored index: (neighbor_id, list id, residual PQ codes)
    val cq = corpus.select(col(idCol).as("neighbor_id"), quantizeUnit(col(vecCol)).as("__q"))
    val index = IvfAnn.assign(cq, "__q", centroids)
      .select(col("neighbor_id"), col("__cid"),
        PqAnn.assignCodes(residual(col("__q"), col("__cid")), books).as("pq_codes"))

    // query side: nprobe nearest lists (compiled top-nprobe — plan size
    // O(1) in nlist), one residual distance table per probed list
    val qu = queries.select(col(idCol).as("query_id"), quantizeUnit(col(vecCol)).as("__qu"))
    val qProbes = qu
      .select(col("query_id"), col("__qu"),
        explode(IvfAnn.probeIds(col("__qu"), centroids, NProbe)).as("__cid"))
      .withColumn("__tables",
        PqAnn.distTables(residual(col("__qu"), col("__cid")), books))
      .select("query_id", "__cid", "__tables")

    val approx = index.join(broadcast(qProbes), Seq("__cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        PqAnn.adcSum(col("__tables"), col("pq_codes")).as("approx_dist"))

    val pool = PqAnn.RerankFactor * k
    val cand = Ranking.partialTopK(approx, pool,
        Seq(col("approx_dist"), col("neighbor_id")), rankCol = "__r")
      .select("query_id", "neighbor_id")

    val exact = corpus.select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("__cq"))
      .withColumn("__cnorm", sqrt(dotQ(col("__cq"), col("__cq")).cast("double")))
    val qe = queries.select(col(idCol).as("query_id"), quantize(col(vecCol)).as("__qq"))
      .withColumn("__qnorm", sqrt(dotQ(col("__qq"), col("__qq")).cast("double")))
    val rerank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cand
      .join(exact, "neighbor_id")
      .join(broadcast(qe), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        (dotQ(col("__cq"), col("__qq")).cast("double")
          / (col("__cnorm") * col("__qnorm"))).as("cos_sim"))
      .withColumn("rank", row_number().over(rerank)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  // ---- query-map entry (extra, rows-gated; recall asserted in AnnSpec) ----

  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
    topK(vecs, BruteForceKnn.queries(spark, dir), "vec_id", "embedding", k = 5,
      indexOpt = Some(trainIndexCached(spark, dir, "embeddings",
        vecs, "vec_id", "embedding")))
  }
}
