package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** k-NN majority-vote classification — the CONSUMER of the ANN family's
  * neighbor lists: the reference retrieves neighbors with FAISS
  * (/root/reference/MachineLearning/ML/performant_faiss.py) and the
  * classic downstream is label transfer (semi-supervised labeling,
  * retrieval-augmented category assignment). [[BruteForceKnn]] produces
  * the ranked neighbors; this adds the vote, which is pure relational
  * aggregation — so the ENTIRE classifier is join + window + groupBy and
  * swaps to the [[IvfAnn]]/[[LshAnn]] candidate generators unchanged at
  * 100 TB.
  *
  * Vote determinism: neighbor ranking is the family's quantized-cosine
  * total order ((cos desc, neighbor_id) — the same order the hash-green
  * ann gates pin); the winning label maximizes (votes, -label) — count
  * desc, least label on ties — so the prediction is engine-exact even
  * when the vote splits evenly.
  */
object KnnClassify {

  /** Classify each query by majority label among its top-k corpus
    * neighbors. Output: (query_id, true_label, pred_label, votes, n_k).
    */
  def classify(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, labelCol: String, k: Int): DataFrame = {
    val neighbors = BruteForceKnn.topK(corpus, queries, idCol, vecCol, k)
    val labels = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl"))
    val votes = neighbors.join(labels, "neighbor_id")
      .groupBy(col("query_id"), col("__nl"))
      .agg(count(lit(1)).as("votes"))
    val wWin = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("__nl").asc)
    val winner = votes.withColumn("__r", row_number().over(wWin))
      .filter(col("__r") === 1)
      .select(col("query_id"), col("__nl").as("pred_label"), col("votes"))
    winner
      .join(queries.select(col(idCol).as("query_id"),
        col(labelCol).as("true_label")), "query_id")
      .withColumn("n_k", lit(k))
      .select("query_id", "true_label", "pred_label", "votes", "n_k")
  }

  // ---- query-map entry (hash-gated) ----

  /** Gated instance: every-100th vector classified by its 5 nearest
    * (quantized cosine) neighbors' labels. */
  def knnClassifyEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
    classify(vecs, BruteForceKnn.queries(spark, dir), "vec_id", "embedding",
      "label", k = 5)
  }

  def oracleSql: String =
    """WITH q AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) qe
      |  FROM embeddings
      |), scored AS (
      |  SELECT qry.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    c.label AS nl,
      |    list_inner_product(c.qe, qry.qe)
      |      / (sqrt(list_inner_product(c.qe, c.qe)) * sqrt(list_inner_product(qry.qe, qry.qe))) AS cos_sim
      |  FROM q c JOIN (SELECT * FROM q WHERE vec_id % 100 = 0) qry
      |    ON c.vec_id <> qry.vec_id
      |), ranked AS (
      |  SELECT query_id, nl,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos_sim DESC, neighbor_id) AS rank
      |  FROM scored
      |), votes AS (
      |  SELECT query_id, nl, count(*) AS votes
      |  FROM ranked WHERE rank <= 5 GROUP BY 1, 2
      |), winner AS (
      |  SELECT query_id, nl AS pred_label, votes FROM (
      |    SELECT query_id, nl, votes,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY votes DESC, nl ASC) AS r
      |    FROM votes
      |  ) WHERE r = 1
      |)
      |SELECT w.query_id, e.label AS true_label, w.pred_label,
      |  CAST(w.votes AS BIGINT) AS votes, 5 AS n_k
      |FROM winner w JOIN embeddings e ON e.vec_id = w.query_id
      |WHERE e.vec_id % 100 = 0""".stripMargin
}
