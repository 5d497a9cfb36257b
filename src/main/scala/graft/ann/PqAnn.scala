package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** Product quantization ANN — the "PQ8x8" half of the reference's FAISS
  * factory string (/root/reference/MachineLearning/ML/performant_faiss.py:7,
  * `IVF65536,PQ8x8`): each vector splits into `SubSpaces` subvectors,
  * each subvector is replaced by the id of its nearest per-subspace
  * codebook centroid, and search scans the COMPRESSED codes with
  * asymmetric distance computation (ADC): the query precomputes a
  * (subspace × code) distance table, and a corpus row's approximate
  * distance is just `SubSpaces` table lookups — no vector math against
  * the corpus at all. The approximate top-`RerankFactor·k` then re-ranks
  * exactly.
  *
  * Why it matters at 100 TB: codes are `SubSpaces` small ints
  * (8 bytes/vector at PQ8x8) versus 256 bytes of floats — a ~30×
  * smaller scan that usually fits in memory where the raw corpus cannot;
  * the exact pass touches only the reranked sliver. Codebooks train on a
  * hash-sample with the same integer k-means as [[IvfAnn]], so encoding
  * and results are bit-identical across runs and partitionings.
  */
object PqAnn {

  val Dim = 64
  val SubSpaces = 8
  val SubDim = Dim / SubSpaces
  val Codes = 32        // 256 at real scale (PQ8x8 = 8 bits/code)
  val Iters = 5
  val RerankFactor = 12 // exact re-rank pool = RerankFactor · k

  /** Per-subspace codebooks: Seq over subspace of Seq over code of
    * centroid (SubDim longs). ONE bounded TakeOrdered job collects the
    * [[Kmeans]] training sample; every subspace's k-means then runs in
    * the driver over its column slice of that same sample — training
    * cost is independent of corpus size (the FAISS shape; the old
    * distributed form re-scanned a corpus fraction per iteration). */
  def trainCodebooks(vecs: DataFrame, idCol: String, vecCol: String,
                     codes: Int = Codes): Seq[Seq[Seq[Long]]] =
    trainCodebooksFromQ(
      vecs.select(col(idCol).as("__id"), quantizeUnit(col(vecCol)).as("__qfull")),
      codes)

  /** Train-or-load the codebooks through [[graft.ml.ModelStore]] — the
    * reference's build-once index discipline (performant_faiss.py's
    * PQ8x8 is trained once and reused across query batches). Keyed by
    * the backing files' fingerprint + params; a second invocation in
    * one session runs zero training scans. Rows persist as
    * (subspace, code, centroid) — exact integers, bit-exact roundtrip. */
  def trainCodebooksCached(spark: SparkSession, dir: String, table: String,
                           vecs: DataFrame, idCol: String, vecCol: String,
                           codes: Int = Codes): Seq[Seq[Seq[Long]]] = {
    val fp = graft.ml.ModelStore.fingerprint(dir, Seq(table))
    val key = s"ann_pq_codebooks|$dir|$table|$fp|codes=$codes|sub=$SubSpaces|v1"
    val rows = graft.ml.ModelStore.vectorsOrCompute(spark, key) {
      trainCodebooks(vecs, idCol, vecCol, codes).zipWithIndex.flatMap {
        case (book, s) => book.zipWithIndex.map { case (c, i) => (s, i, c) }
      }
    }
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
  }

  /** Codebook training over a prepared (`__id`, `__qfull` array<bigint>)
    * frame. */
  private[ann] def trainCodebooksFromQ(qIn: DataFrame, codes: Int,
                                       iters: Int = Iters): Seq[Seq[Seq[Long]]] =
    trainCodebooksFromPoints(
      Kmeans.sampleQ(qIn, "__id", "__qfull", Kmeans.trainPoints(codes)),
      codes, iters)

  /** Driver-side per-subspace training over an already-collected sample —
    * the entry the IVF+PQ composition feeds with RESIDUAL points. */
  private[ann] def trainCodebooksFromPoints(pts: Array[Array[Long]], codes: Int,
                                            iters: Int = Iters): Seq[Seq[Seq[Long]]] =
    (0 until SubSpaces).map { s =>
      val sub = pts.map(p =>
        java.util.Arrays.copyOfRange(p, s * SubDim, (s + 1) * SubDim))
      Kmeans.fit(sub, codes, iters).toSeq.map(_.toSeq)
    }

  /** All-subspace code assignment via the compiled [[graft.functions.PqAssign]]
    * (registered once per codebook under a content-hashed name, so
    * concurrent plan construction with different codebooks on one session
    * can never resolve against the wrong builder). */
  private[ann] def assignCodes(qCol: Column, books: Seq[Seq[Seq[Long]]]): Column =
    graft.functions.Native.call(s"graft_pq_assign_${graft.functions.Native.contentHash(books)}",
      exprs => graft.functions.PqAssign(exprs.head, books), qCol)

  /** Encode vectors to PQ codes: array<int> of length SubSpaces. */
  def encode(vecs: DataFrame, idCol: String, vecCol: String,
             books: Seq[Seq[Seq[Long]]]): DataFrame =
    vecs.select(col(idCol), assignCodes(quantizeUnit(col(vecCol)), books).as("pq_codes"))

  /** ADC distance tables per query: array[subspace][code] of
    * |q_s − c_sk|² (integer longs, exact) — one codegen'd loop via the
    * compiled [[graft.functions.PqDistTables]]; plan size is O(1) in
    * Codes (the inline expression-tree form was 8×Codes subexpressions,
    * past Janino's 64 KB method limit at the real PQ8x8 config). */
  private[graft] def distTables(qCol: Column, books: Seq[Seq[Seq[Long]]]): Column =
    graft.functions.Native.call(s"graft_pq_dist_tables_${graft.functions.Native.contentHash(books)}",
      exprs => graft.functions.PqDistTables(exprs.head, books), qCol)

  /** Per-pair ADC sum `Σ_s tables[s][codes[s]]` via the compiled
    * [[graft.functions.AdcSum]] (the zip_with/aggregate lambda form ran
    * interpreted in the hottest loop of the scan). */
  private[graft] def adcSum(tables: Column, codes: Column): Column =
    graft.functions.Native.call("graft_adc_sum",
      exprs => graft.functions.AdcSum(exprs(0), exprs(1)), tables, codes)

  /** Approximate top-k with exact re-rank. `poolOverride` widens the
    * re-rank candidate pool past the default RerankFactor·k (≥ corpus
    * size ⇒ the scan degenerates to exhaustive exact search). */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
           vecCol: String, k: Int, poolOverride: Int = 0,
           booksOpt: Option[Seq[Seq[Seq[Long]]]] = None): DataFrame = {
    val books = booksOpt.getOrElse(trainCodebooks(corpus, idCol, vecCol))
    val codes = encode(corpus, idCol, vecCol, books)
      .withColumnRenamed(idCol, "neighbor_id")
    val qt = queries.select(col(idCol).as("query_id"),
        quantize(col(vecCol)).as("__qq"),
        quantizeUnit(col(vecCol)).as("__qu"))
      .withColumn("__tables", distTables(col("__qu"), books))
      .withColumn("__qnorm", sqrt(dotQ(col("__qq"), col("__qq")).cast("double")))

    // ADC scan: SubSpaces table lookups per (query, corpus code row)
    val approx = codes.join(broadcast(qt.select("query_id", "__tables")), lit(true))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        adcSum(col("__tables"), col("pq_codes")).as("approx_dist"))

    val pool = if (poolOverride > 0) poolOverride else RerankFactor * k
    val cand = Ranking.partialTopK(approx, pool,
        Seq(col("approx_dist"), col("neighbor_id")), rankCol = "__r")
      .select("query_id", "neighbor_id")

    // exact re-rank of the pool only
    val cq = corpus.select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("__cq"))
      .withColumn("__cnorm", sqrt(dotQ(col("__cq"), col("__cq")).cast("double")))
    val rerank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cand
      .join(cq, "neighbor_id")
      .join(broadcast(qt.select("query_id", "__qq", "__qnorm")), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        (dotQ(col("__cq"), col("__qq")).cast("double")
          / (col("__cnorm") * col("__qnorm"))).as("cos_sim"))
      .withColumn("rank", row_number().over(rerank)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  // ---- query-map entry (extra, rows-gated; recall asserted in AnnSpec) ----

  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
    topK(vecs, BruteForceKnn.queries(spark, dir), "vec_id", "embedding", k = 5,
      booksOpt = Some(trainCodebooksCached(spark, dir, "embeddings",
        vecs, "vec_id", "embedding")))
  }

  // ---- query-map entry (hash-gated via degeneracy) ----

  /** Re-rank pool ≥ corpus: the ADC scan still runs (codebook train,
    * encode, distance tables, per-pair sums) but every pair reaches the
    * exact re-rank, so the output is bit-identical to [[BruteForceKnn]]
    * and shares its DuckDB oracle — hash-gating the PQ plumbing
    * end-to-end. */
  def annPqExhaustive(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
    topK(vecs, BruteForceKnn.queries(spark, dir), "vec_id", "embedding",
      k = 5, poolOverride = Int.MaxValue,
      booksOpt = Some(trainCodebooksCached(spark, dir, "embeddings",
        vecs, "vec_id", "embedding")))
  }
}
