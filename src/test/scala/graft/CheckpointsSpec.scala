package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, count, lit, max, min}
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

  test("pinObserved returns its metrics in order, in the jobs of a plain localCheckpoint") {
    val metrics = Seq(max(col("id")).as("hi"), min(col("id")).as("lo"))
    var row: Row = null
    val observed = jobsDuring { row = Checkpoints.pinObserved(multiPartition, metrics: _*)._2 }
    assert(row == multiPartition.agg(metrics.head, metrics.tail: _*).head())
    assert(observed == jobsDuring { multiPartition.localCheckpoint(); () })
    // an empty frame's min/max are null, as its aggregate's are
    assert(Checkpoints.pinObserved(multiPartition.filter("id < 0"), metrics: _*)._2.isNullAt(0))
  }

  test("pinCounted pins at localCheckpoint()'s default storage level") {
    val (pinned, _) = Checkpoints.pinCounted(multiPartition)
    assert(pinLevel(pinned) == pinLevel(multiPartition.localCheckpoint()))
  }

  test("pinCounted with an estimate pins at adaptiveLevel and runs the jobs of a plain localCheckpoint") {
    val est = 1L << 20
    val plain = jobsDuring { multiPartition.localCheckpoint(true, Checkpoints.adaptiveLevel(est)); () }
    val counted = jobsDuring { Checkpoints.pinCounted(multiPartition, est); () }
    assert(plain >= 1)
    assert(counted == plain, s"pinCounted(df, est) ran $counted jobs, localCheckpoint $plain")
    val (pinned, n) = Checkpoints.pinCounted(multiPartition, est)
    assert(n == multiPartition.count())
    assert(pinLevel(pinned) == Checkpoints.adaptiveLevel(est))
  }

  /** Shuffle exchanges in the plan `df` would run (the current plan of an
    * adaptive plan, which is the initial plan before execution). */
  private def exchanges(df: DataFrame): Int = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case other => other +: other.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeExec])
  }

  private def pinPartitioning(df: DataFrame) =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.outputPartitioning }
      .getOrElse(fail("not a checkpointed frame"))

  private def keyed: DataFrame =
    spark.range(0, 1000, 1, 3).select((col("id") % 97).as("k"), (col("id") % 5).as("v"))
      .repartition(4, col("k")).distinct()

  test("a pin made after repartition(n, k) plans no Exchange under groupBy(k)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // the Spark behaviour Checkpoints works around: a raw pin forgets it
    assert(exchanges(keyed.localCheckpoint().groupBy("k").count()) == 1)
    val pins = Seq(
      "pin" -> Checkpoints.pin(keyed, 1L << 20),
      "pinCounted" -> Checkpoints.pinCounted(keyed)._1,
      "pinCounted(est)" -> Checkpoints.pinCounted(keyed, 1L << 20)._1)
    for ((what, pinned) <- pins) {
      assert(pinPartitioning(pinned).isInstanceOf[HashPartitioning], what)
      val agg = pinned.groupBy("k").agg(count(lit(1)).as("n"))
      assert(exchanges(agg) == 0, what)
      assert(agg.collect().toSet == keyed.groupBy("k").agg(count(lit(1)).as("n")).collect().toSet, what)
    }
  }

  test("a pin of a join keeps the first leaf of its partitioning collection") {
    // repartition(n, key) is never coalesced; with no broadcast the
    // sort-merge join reports PartitioningCollection(a, b)
    val l = spark.range(0, 500, 1, 2).select((col("id") % 50).as("a"), col("id").as("x"))
      .repartition(4, col("a"))
    val r = spark.range(0, 500, 1, 2).select((col("id") % 50).as("b"), col("id").as("y"))
      .repartition(4, col("b"))
    val joined = l.join(r.hint("merge"), col("a") === col("b"))
    val pinned = Checkpoints.pin(joined, 1L << 20)
    assert(pinPartitioning(pinned).isInstanceOf[HashPartitioning])
    assert(exchanges(pinned.groupBy("a").count()) == 0)
    assert(pinned.groupBy("a").count().collect().toSet == joined.groupBy("a").count().collect().toSet)
  }

  test("a pin whose final plan AQE coalesced gives the rows of the unpinned frame") {
    val agg = spark.range(0, 2000, 1, 4).select((col("id") % 37).as("k"), col("id"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    val pinned = Checkpoints.pin(agg, 1L << 20)
    // 37 tiny groups over 4 shuffle partitions: AQE coalesces the read,
    // and a coalesced hash partitioning is not carried
    val stored = pinned.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get
    assert(stored.getNumPartitions < spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(pinPartitioning(pinned) == UnknownPartitioning(0))
    val other = spark.range(0, 300, 1, 3).select((col("id") % 41).as("k"), col("id").as("w"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
    assert(rows(pinned) == rows(agg))
    assert(rows(pinned.groupBy("k").sum("n")) == rows(agg.groupBy("k").sum("n")))
    assert(rows(pinned.join(other, "k")) == rows(agg.join(other, "k")))
    assert(rows(other.join(pinned, Seq("k"), "left")) == rows(other.join(agg, Seq("k"), "left")))
    assert(rows(pinned.as("x").join(pinned.as("y"), col("x.k") === col("y.n") % 37)) ==
      rows(agg.as("x").join(agg.as("y"), col("x.k") === col("y.n") % 37)))
  }
}
