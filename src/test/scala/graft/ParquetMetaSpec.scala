package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, max, min, when}
import org.apache.spark.sql.types.TimestampType

class ParquetMetaSpec extends SparkSpec {

  private val sf001 = new java.io.File(sfDir).getParent + "/sf0.01"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Jobs started on this thread while `work` runs. The listener bus is
    * asynchronous, so a sentinel job in its own group follows `work`:
    * once the listener sees the sentinel start, every earlier job start
    * has been delivered. */
  private def jobsDuring(work: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"parquet-meta-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val jobs = new AtomicInteger(0)
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)    => jobs.incrementAndGet(); ()
          case Some(`sentinel`) => sentinelSeen.countDown()
          case _                => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      work
      sc.setJobGroup(sentinel, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }

  test("rowCount equals count() on a single file and on a multi-file directory") {
    val p = s"$sfDir/lineitem.parquet"
    assert(ParquetMeta.rowCount(spark, p) == spark.read.parquet(p).count())
    val dir = s"${tmp("graft_pm_rows")}/orders"
    Tables.orders(spark, sfDir).repartition(3).write.parquet(dir)
    assert(ParquetMeta.rowCount(spark, dir) == spark.read.parquet(dir).count())
  }

  test("footer schema equals the inferred schema on every sf0.01 table") {
    for (t <- tables) {
      val p = s"$sf001/$t.parquet"
      assert(ParquetMeta.read(spark, p).schema == spark.read.parquet(p).schema, t)
    }
    assert(Tables.events(spark, sf001).schema("ts").dataType == TimestampType)
  }

  test("Tables builds lineitem and events frames with zero Spark jobs") {
    val n = jobsDuring {
      Tables.lineitem(spark, sfDir)
      Tables.events(spark, sfDir)
      ()
    }
    assert(n == 0, s"$n jobs ran while building table frames")
  }

  test("a directory of Spark-written part files reads back every row") {
    val dir = s"${tmp("graft_pm_parts")}/orders"
    val src = Tables.orders(spark, sfDir)
    src.repartition(4).write.parquet(dir)
    assert(ParquetMeta.dataFiles(spark, dir).size == 4) // _SUCCESS skipped
    val back = ParquetMeta.read(spark, dir)
    assert(back.schema == spark.read.parquet(dir).schema)
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("a path with no data file fails and names the path") {
    val dir = tmp("graft_pm_empty")
    Files.createFile(java.nio.file.Paths.get(dir, "_SUCCESS"))
    val e = intercept[IllegalArgumentException](ParquetMeta.read(spark, dir))
    assert(e.getMessage.contains(dir), e.getMessage)
  }

  /** `keys` written as a 3-file group. */
  private def group(keys: DataFrame): String = {
    val dir = s"${tmp("graft_pm_keys")}/g"
    keys.repartition(3).write.parquet(dir)
    assert(ParquetMeta.dataFiles(spark, dir).size == 3)
    dir
  }

  test("keyRange equals agg(min, max) for Int, Long and Short keys across 3 files") {
    for (t <- Seq("int", "long", "short")) {
      // a spread of signs plus some null keys, which the range ignores
      val keys = spark.range(0, 600).select(
        when(col("id") % 7 === 0, lit(null))
          .otherwise((col("id") * 37 % 1001) - 500).cast(t).as("k"),
        col("id").as("v"))
      val dir = group(keys)
      val mm = spark.read.parquet(dir).agg(min("k").cast("long"), max("k").cast("long")).head()
      assert(ParquetMeta.keyRange(spark, dir, "k") == Some((mm.getLong(0), mm.getLong(1))), t)
    }
  }

  test("a row group without key statistics makes the range unknown") {
    val keys = spark.range(0, 90).select(col("id").cast("int").as("k"))
    val dir = s"${tmp("graft_pm_nostats")}/g"
    keys.repartition(2).write.parquet(dir)
    keys.coalesce(1).write.mode("append")
      .option("parquet.column.statistics.enabled", "false").parquet(dir)
    assert(ParquetMeta.dataFiles(spark, dir).size == 3)
    assert(ParquetMeta.keyRange(spark, dir, "k").isEmpty)
  }

  test("an all-null key and an empty group give no key range") {
    val allNull = spark.range(0, 30).select(lit(null).cast("int").as("k"), col("id").as("v"))
    assert(ParquetMeta.keyRange(spark, group(allNull), "k").isEmpty)
    val empty = s"${tmp("graft_pm_nokeys")}/g"
    spark.range(0, 30).select(col("id").as("k")).filter(lit(false)).write.parquet(empty)
    assert(ParquetMeta.keyRange(spark, empty, "k").isEmpty)
  }
}
