package graft

import org.apache.spark.sql.SparkSession

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
}
