package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD

/** The one piece of [[graft.Checkpoints]] that needs package access:
  * `classic.Dataset.ofRows` is `private[sql]`, and it is the only way to
  * turn a rebuilt `LogicalRDD` back into a DataFrame. */
object PinnedFrames {

  /** `pinned` (a checkpointed frame) over the same stored RDD, with its
    * `LogicalRDD` reporting `partitioning`. Statistics and constraints
    * are kept as the checkpoint computed them. */
  def withPartitioning(pinned: DataFrame, partitioning: Partitioning): DataFrame =
    pinned.queryExecution.logical match {
      case r: LogicalRDD =>
        val session = pinned.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session,
          LogicalRDD(r.output, r.rdd, partitioning, r.outputOrdering, r.isStreaming)(
            session, Some(r.computeStats()), Some(r.constraints)))
      case _ => pinned
    }
}
