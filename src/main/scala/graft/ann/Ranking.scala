package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The shared skew-proof top-k extraction used by every ANN variant: one
  * per-query `row_number` window, filtered to rank ≤ k. Spark's optimizer
  * (InferWindowGroupLimit) turns that filter into a `WindowGroupLimit`
  * pair: the Partial one runs below the single `query_id` exchange and
  * keeps each input partition's top k per query map-side, so a reducer
  * receives at most |parts|·k rows per query, never a query's whole
  * scored corpus. The bound holds for k ≤
  * `spark.sql.optimizer.windowGroupLimitThreshold` (1000 by default);
  * above it the limit is not inferred and the window ranks every scored
  * row of a query (the exhaustive re-rank pools ask for exactly that).
  * A per-(query, partition) first phase would add one exchange and one
  * sort to every call and bound nothing more. */
private[ann] object Ranking {

  /** Keep the top `k` rows per `query_id` under `order`; adds `rankCol`. */
  def partialTopK(scored: DataFrame, k: Int, order: Seq[Column],
                  rankCol: String = "rank"): DataFrame =
    scored
      .withColumn(rankCol,
        row_number().over(Window.partitionBy(col("query_id")).orderBy(order: _*)))
      .filter(col(rankCol) <= k)
}
