package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** Exact cosine top-k nearest neighbors — the "flat index" baseline, the
  * counterpart of the reference's exhaustive FAISS search
  * (/root/reference/MachineLearning/ML/performant_faiss.py — the flat
  * alternative to its IVF65536,PQ8x8 factory string). The bucketed
  * linear-scale path over the same vectors is [[LshAnn]].
  *
  * Scale shape: the query set is small by construction and broadcast, so
  * scoring is a map-side pass over the corpus — no shuffle of corpus rows
  * keyed by anything skewed. Top-k extraction is [[Ranking.partialTopK]]:
  * Spark's partial `WindowGroupLimit` keeps each corpus partition's top k
  * per query map-side, so the one `query_id` exchange moves
  * |parts|×|queries|×k rows, not |corpus|×|queries| — no reducer ever
  * holds a whole query's scored corpus, so the shape survives a
  * 1000-executor 100 TB corpus.
  */
object BruteForceKnn {

  /** Exact top-k neighbors (cosine, quantized-deterministic) per query.
    * Output: query_id, neighbor_id, cos_sim, rank. */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
           vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("__cq"))
    val q = queries.select(col(idCol).as("query_id"), quantize(col(vecCol)).as("__qq"))

    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineQ(col("__cq"), col("__qq")).as("cos_sim"))

    Ranking.partialTopK(scored, k, Seq(col("cos_sim").desc, col("neighbor_id")))
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  /** Deterministic query subset: every 100th vector id. */
  def querySubset(vecs: DataFrame): DataFrame = vecs.filter(col("vec_id") % 100 === 0)

  /** The entry points' query set: [[querySubset]] of the unspread
    * embeddings table. The ~10 queries are broadcast; read through
    * [[graft.Tables.embeddings]] (round-robin spread when the file scans
    * narrow) they would be shuffled first, one job per call. The corpus
    * side stays spread. */
  def queries(spark: SparkSession, dir: String): DataFrame =
    querySubset(Tables.table(spark, dir, "embeddings"))

  // ---- query-map entry (#32) ----

  def annBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
    topK(vecs, queries(spark, dir), "vec_id", "embedding", k = 5)
  }

  def oracleSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) qe
      |  FROM embeddings
      |), scored AS (
      |  SELECT qry.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_inner_product(c.qe, qry.qe)
      |      / (sqrt(list_inner_product(c.qe, c.qe)) * sqrt(list_inner_product(qry.qe, qry.qe))) AS cos_sim
      |  FROM q c JOIN (SELECT * FROM q WHERE vec_id % 100 = 0) qry
      |    ON c.vec_id <> qry.vec_id
      |), ranked AS (
      |  SELECT query_id, neighbor_id, cos_sim,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
      |  FROM scored
      |)
      |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5""".stripMargin
}
