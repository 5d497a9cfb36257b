package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** Random-hyperplane LSH approximate nearest neighbors — the 100 TB scale
  * path, the counterpart of the reference's IVF-partitioned FAISS index
  * (/root/reference/MachineLearning/ML/performant_faiss.py:7 —
  * "IVF65536,PQ8x8": search only a few inverted lists, never the flat
  * corpus). Here the "inverted lists" are sign-pattern buckets: vector v
  * lands in bucket b_t(v) = bits of sign(v·h_{t,j}) for table t's
  * hyperplanes h. Near vectors (small angle) agree on each bit with
  * probability 1 − θ/π, so they collide in some table with high
  * probability while the corpus spreads uniformly over 2^bits buckets.
  * Queries are multi-probed: each query also probes every hamming-1
  * bucket (b extra probes/table), buying recall without more tables —
  * probes cost query-side rows only, never corpus-side index size.
  *
  * Scale shape: signatures are a map-side constant-weight dot product
  * (no shuffle); the candidate join is corpus-bucket ⋈ query-bucket on
  * (table, bucket) — uniform hash-like keys, linear volume — never the
  * all-pairs cross join. Exact (quantized) cosine runs only on
  * candidates. Tuning mirrors IVF: more tables/probes = higher recall;
  * more bits = smaller buckets — grow Bits with corpus size exactly like
  * IVF's nlist (6 bits suits ~10³ vectors; ~20 bits at 10⁹).
  */
object LshAnn {

  val Tables_ = 12
  val Bits = 6
  val Dim = 64

  /** Deterministic hyperplanes: unit-free weights from a fixed-seed
    * splitmix64 stream (shared [[graft.functions.Mix64]] finalizer) —
    * stable across JVMs/runs. Unlike the IVF/PQ quantizers there is
    * nothing to persist through ModelStore: the planes are
    * DATA-INDEPENDENT (no training scan exists to save), and
    * regenerating them is a few thousand driver-side multiplies —
    * cheaper than any artifact read. */
  private[ann] def hyperplanes(tables: Int, bits: Int, dim: Int): Seq[Seq[Seq[Double]]] = {
    var state = graft.functions.Mix64.Golden
    def next(): Double = {
      state += graft.functions.Mix64.Golden
      val z = graft.functions.Mix64.mix(state)
      (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Seq.fill(tables)(Seq.fill(bits)(Seq.fill(dim)(next())))
  }

  /** All table buckets of a vector in one expression: `bits` sign bits
    * packed to an int, per table.
    *
    * The vector is quantized ONCE through a single-element `transform`
    * binding (a bare `quantize(vec)` child would re-evaluate per
    * hyperplane under interpreted lambda eval), and each sign test is a
    * native [[graft.functions.LongArrayDot]] against the long-quantized
    * hyperplane — sign(vq·hq) is simply a slightly perturbed hyperplane
    * family, equally valid for LSH and deterministic. */
  private def allBuckets(vec: Column, hq: Seq[Seq[Seq[Long]]]): Column =
    element_at(
      transform(array(quantize(vec)), qv =>
        array(hq.map { planes =>
          // foldLeft, not reduce: bits=0 (the all-in-one-bucket
          // degeneracy gate) folds to the constant bucket 0
          planes.zipWithIndex.map { case (h, j) =>
            when(dotQ(qv, typedlit(h)) >= 0, lit(1 << j)).otherwise(lit(0))
          }.foldLeft(lit(0))(_ + _)
        }: _*)),
      1)

  /** (id, table_idx, bucket) postings for every vector — the "index". */
  def postings(vecs: DataFrame, idCol: String, vecCol: String,
               tables: Int = Tables_, bits: Int = Bits): DataFrame = {
    val hq = hyperplanes(tables, bits, Dim)
      .map(_.map(_.map(x => math.floor(x * 1000).toLong)))
    vecs.select(col(idCol), posexplode(allBuckets(col(vecCol), hq))
        .as(Seq("table_idx", "bucket")))
      .select(col(idCol), col("table_idx"), col("bucket"))
  }

  /** Query-side postings with hamming-1 multi-probe: the home bucket plus
    * each single-bit flip — (bits+1) probes per table per query. */
  def probePostings(queries: DataFrame, idCol: String, vecCol: String,
                    tables: Int = Tables_, bits: Int = Bits): DataFrame = {
    val home = postings(queries, idCol, vecCol, tables, bits)
    val flips = array((0 until bits).map(j => col("bucket").bitwiseXOR(lit(1 << j))) :+
      col("bucket"): _*)
    home.select(col(idCol), col("table_idx"), explode(flips).as("bucket"))
  }

  /** Approximate top-k: candidates from bucket collisions, exact cosine
    * verify, per-query top-k rank ([[Ranking.partialTopK]]).
    * Output: query_id, neighbor_id, cos_sim, rank. */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
           vecCol: String, k: Int,
           tables: Int = Tables_, bits: Int = Bits): DataFrame = {
    val cPost = postings(corpus, idCol, vecCol, tables, bits)
      .select(col(idCol).as("neighbor_id"), col("table_idx"), col("bucket"))
    val qPost = probePostings(queries, idCol, vecCol, tables, bits)
      .select(col(idCol).as("query_id"), col("table_idx"), col("bucket"))

    val cand = cPost.join(broadcast(qPost), Seq("table_idx", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()

    val cq = corpus.select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("__cq"))
    val qq = queries.select(col(idCol).as("query_id"), quantize(col(vecCol)).as("__qq"))
    val scored = cand
      .join(cq, "neighbor_id")
      .join(broadcast(qq), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosineQ(col("__cq"), col("__qq")).as("cos_sim"))

    Ranking.partialTopK(scored, k, Seq(col("cos_sim").desc, col("neighbor_id")))
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  // ---- query-map entry (#33, rows-gated; recall asserted in AnnSpec) ----

  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
    topK(vecs, BruteForceKnn.queries(spark, dir), "vec_id", "embedding", k = 5)
  }

  // ---- query-map entry (hash-gated via degeneracy) ----

  /** One table, one bit: every query multi-probes BOTH buckets, so the
    * candidate set is every (query, corpus) pair and LSH degenerates to
    * exhaustive search — bit-identical to [[BruteForceKnn]], sharing its
    * DuckDB oracle. Hash-gates the whole LSH pipeline (hyperplane
    * bucketing → postings join → verify → top-k rank). */
  def annLshExhaustive(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
    topK(vecs, BruteForceKnn.queries(spark, dir), "vec_id", "embedding",
      k = 5, tables = 1, bits = 1)
  }
}
