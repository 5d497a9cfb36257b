package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Reciprocal (mutual) k-nearest-neighbor pairs — the edge set near-dup
  * CLUSTERING runs on: a ↔ b only when each is in the other's top-k,
  * which kills the hub effect (one generic vector appearing in
  * everyone's neighbor list and gluing the corpus into one cluster).
  * The graph feeds [[graft.operators.Graph.connectedComponents]] for
  * cluster collapse; candidate generation swaps to [[IvfAnn]]/[[LshAnn]]
  * at 100 TB exactly as in [[KnnClassify]].
  *
  * Relational shape: ONE directed top-k pass ([[BruteForceKnn.topK]],
  * per-partition top-k kept map-side), then mutuality is a self-join of the
  * directed edge list on the reversed key — no second scoring pass. The
  * canonical (a < b) pair carries both directed ranks.
  */
object MutualKnn {

  /** Mutual top-k pairs (a_id < b_id, rank_ab, rank_ba) within `vecs`. */
  def mutualPairs(vecs: DataFrame, idCol: String, vecCol: String,
                  k: Int): DataFrame = {
    val directed = BruteForceKnn.topK(vecs, vecs, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .localCheckpoint() // self-joined below
    directed.as("f").join(directed.as("r"),
        col("f.query_id") === col("r.neighbor_id") &&
          col("f.neighbor_id") === col("r.query_id") &&
          col("f.query_id") < col("f.neighbor_id"))
      .select(col("f.query_id").as("a_id"), col("f.neighbor_id").as("b_id"),
        col("f.rank").as("rank_ab"), col("r.rank").as("rank_ba"))
  }

  // ---- query-map entry (hash-gated) ----

  /** Gated instance: mutual top-3 pairs within the every-20th-vector
    * sub-corpus (bounded all-pairs scoring; the corpus-wide form rides
    * the bucketed generators). */
  def mutualKnnEmbeddings(spark: SparkSession, dir: String): DataFrame =
    mutualPairs(
      Tables.embeddings(spark, dir).filter(col("vec_id") % 20 === 0),
      "vec_id", "embedding", k = 3)

  def oracleSql: String =
    """WITH sub AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) qe
      |  FROM embeddings WHERE vec_id % 20 = 0
      |), scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_inner_product(c.qe, q.qe)
      |      / (sqrt(list_inner_product(c.qe, c.qe)) * sqrt(list_inner_product(q.qe, q.qe))) AS cos_sim
      |  FROM sub c JOIN sub q ON c.vec_id <> q.vec_id
      |), ranked AS (
      |  SELECT query_id, neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
      |  FROM scored
      |), topk AS (
      |  SELECT * FROM ranked WHERE rank <= 3
      |)
      |SELECT f.query_id AS a_id, f.neighbor_id AS b_id,
      |  f.rank AS rank_ab, r.rank AS rank_ba
      |FROM topk f JOIN topk r
      |  ON f.query_id = r.neighbor_id AND f.neighbor_id = r.query_id
      |WHERE f.query_id < f.neighbor_id""".stripMargin
}
