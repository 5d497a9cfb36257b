package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

class CheckpointsSpec extends SparkSpec {

  test("pinWide widens below parallelism x the session's advisory partition size") {
    val par = spark.sparkContext.defaultParallelism
    assert(par > 1)
    val est = 1L << 20
    def width(s: SparkSession): Int =
      Checkpoints.pinWide(s.range(0, 1000, 1, 1).toDF(), est).rdd.getNumPartitions
    // default 64 MB advisory: 1 MB < par x 64 MB, so the pin is widened
    assert(width(spark) == par)
    // est / par advisory: est is no longer below par x advisory
    val small = spark.newSession()
    small.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", (est / par).toString)
    assert(width(small) == 1)
  }

  private def multiPartition: DataFrame =
    spark.range(0, 1000, 1, 4).toDF("id").filter("id % 3 = 0")

  /** The storage level of the RDD a checkpointed frame reads from. */
  private def pinLevel(df: DataFrame): StorageLevel =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.getStorageLevel }
      .getOrElse(fail("not a checkpointed frame"))

  test("pinCounted returns the row count on multi-partition, filtered-empty and empty frames") {
    val frames = Seq(
      "multi-partition" -> multiPartition,
      "filtered to empty" -> multiPartition.filter("id < 0"),
      // AQE re-plans the stage after an empty shuffle as an empty relation
      "empty after a shuffle" -> multiPartition.filter("id < 0").groupBy("id").count(),
      "no partitions" -> spark.emptyDataFrame)
    for ((what, df) <- frames) {
      val (pinned, n) = Checkpoints.pinCounted(df)
      assert(n == df.count(), what)
      assert(pinned.count() == n, what)
    }
    assert(multiPartition.rdd.getNumPartitions > 1)
  }

  test("pinCounted runs exactly the jobs of a plain localCheckpoint") {
    val plain = jobsDuring { multiPartition.localCheckpoint(); () }
    val counted = jobsDuring { Checkpoints.pinCounted(multiPartition); () }
    assert(plain >= 1)
    assert(counted == plain, s"pinCounted ran $counted jobs, localCheckpoint() $plain")
  }

  test("pinCounted pins at localCheckpoint()'s default storage level") {
    val (pinned, _) = Checkpoints.pinCounted(multiPartition)
    assert(pinLevel(pinned) == pinLevel(multiPartition.localCheckpoint()))
  }
}
