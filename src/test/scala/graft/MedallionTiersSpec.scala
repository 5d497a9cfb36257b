package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{FeatureAssembly, Medallion}

/** Silver/gold medallion tiers + feature assembly. */
class MedallionTiersSpec extends SparkSpec {
  import spark.implicits._

  test("silver surrogate keys are dense 1..N in natural-key order and partitioning-invariant") {
    val silver = Medallion.medallionSilverOrders(spark, sfDir)
    val got = silver.select("oOrderkey", "orderSk")
      .as[(Long, Long)].collect().sortBy(_._1)
    val n = got.length
    assert(n > 0)
    // dense 1..N, ordered exactly like the natural key
    assert(got.map(_._2).toList == (1L to n).toList)
    // replay determinism (the Delta IDENTITY analogue must not depend on
    // physical layout): same keys from a different partitioning
    val again = Medallion.silverApply(
        Medallion.medallionBronzeOrders(spark, sfDir).repartition(7),
        Seq("oOrderkey"), "orderSk",
        floor(col("oOrderkey") / 1000).cast("long"))
      .select("oOrderkey", "orderSk").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toList == again.toList)
  }

  test("silver keeps only the latest envelope row per natural key") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("currentVersion", IntegerType),
      StructField("effectiveDate", IntegerType),
      StructField("expirationDate", IntegerType)))
    val rows = Seq(
      Row(1L, "old", 1, 20230101, 20240101),
      Row(1L, "new", 1, 20240102, Medallion.FarFuture),
      Row(2L, "only", 1, 20240101, Medallion.FarFuture))
    val bronze = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val silver = Medallion.silverApply(bronze, Seq("k"), "sk", col("k"))
    val got = silver.select("k", "v", "sk").as[(Long, String, Long)]
      .collect().sortBy(_._1).toList
    assert(got == List((1L, "new", 1L), (2L, "only", 2L)), s"got $got")
  }

  /** silverApply's earlier form, kept as the reference: exact-row
    * dedup, then the latest-wins window on the natural key, then the
    * bucketed surrogate key, each over its own exchange. */
  private def silverReference(bronze: DataFrame, naturalKeys: Seq[String],
                              skCol: String, rangeBucket: Column): DataFrame = {
    val keyCols = naturalKeys.map(col)
    val wLatest = Window.partitionBy(keyCols: _*)
      .orderBy(col("effectiveDate").desc, col("currentVersion").desc)
    val current = bronze.distinct().withColumn("__v", row_number().over(wLatest))
      .filter(col("__v") === 1).drop("__v")
    val bucketed = current.withColumn("__bucket", rangeBucket)
    val wIn = Window.partitionBy(col("__bucket")).orderBy(keyCols: _*)
    val wRoll = Window.orderBy(col("__bucket"))
    val offsets = bucketed.groupBy("__bucket").agg(count(lit(1)).as("__n"))
      .withColumn("__offset",
        coalesce(sum(lag("__n", 1).over(wRoll)).over(wRoll), lit(0L)))
      .drop("__n")
    bucketed
      .withColumn("__rn", row_number().over(wIn))
      .join(offsets, "__bucket")
      .withColumn(skCol, (col("__offset") + col("__rn")).cast("long"))
      .drop("__bucket", "__rn", "__offset")
  }

  test("silver over one exchange equals dedup, then latest-wins, then the bucketed key") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("sourceFile", StringType),
      StructField("currentVersion", IntegerType),
      StructField("effectiveDate", IntegerType),
      StructField("expirationDate", IntegerType)))
    val cur = Medallion.FarFuture
    val rows = Seq(
      Row(0L, "a", "f1", 1, 20240101, cur),
      Row(3L, "c", "f1", 1, 20240101, cur),
      Row(3L, "c", "f1", 1, 20240101, cur), // exact duplicate
      Row(5L, "old", "f1", 1, 20240101, 20240201),
      Row(5L, "new", "f2", 1, 20240201, cur), // re-arrival, later date
      Row(5L, "new", "f2", 1, 20240201, cur), // ... and its duplicate
      Row(7L, "g", "f1", 1, 20240101, cur),
      Row(7L, "g", "f1", 1, 20240101, cur),
      Row(7L, "g", "f1", 1, 20240101, cur),
      Row(9L, "i", "f2", 2, 20240101, cur),
      Row(9L, "i-v1", "f1", 1, 20240101, cur), // same date, older version
      Row(11L, "l", "f2", 1, 20240101, cur))
    // the rows spread over 3 partitions, keys over buckets 0, 1 and 2
    val bronze = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val bucket = floor(col("k") / 4).cast("long")
    def rowsOf(df: DataFrame) = df.select(df.columns.sorted.map(col): _*)
      .collect().map(_.toSeq).sortBy(_.toString).toList
    val got = rowsOf(Medallion.silverApply(bronze, Seq("k"), "sk", bucket))
    val want = rowsOf(silverReference(bronze, Seq("k"), "sk", bucket))
    assert(got == want, s"got $got\nwant $want")
    assert(got.size == 6)
  }

  test("the executed silver plan moves the fact rows through one exchange") {
    val df = Medallion.medallionSilverOrders(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val payload = Set("oCustkey", "oOrderstatus", "oTotalprice", "oOrderdate",
      "oOrderpriority", "sourceFile")
    val helper = new AdaptiveSparkPlanHelper {}
    val wide = helper.collect(plan) {
      case e: ShuffleExchangeExec if e.output.exists(a => payload(a.name)) => e
    }
    assert(wide.size == 1, s"exchanges carrying fact columns:\n${wide.mkString("\n")}")
    val allColumnAggs = helper.collect(plan) {
      case a: HashAggregateExec
          if a.groupingExpressions.exists(g => payload(g.name)) => a
    }
    assert(allColumnAggs.isEmpty, s"all-column aggregates:\n${allColumnAggs.mkString("\n")}")
  }

  test("gold is the current-rows projection without lineage") {
    val gold = Medallion.medallionGoldOrders(spark, sfDir)
    assert(!gold.columns.contains("sourceFile"))
    assert(gold.columns.contains("orderSk"))
    val silverCnt = Medallion.medallionSilverOrders(spark, sfDir).count()
    assert(gold.count() == silverCnt) // test bronze is all current-version
  }

  test("label index follows StringIndexer frequencyDesc semantics (ties by value)") {
    val df = Seq("b", "b", "a", "a", "c").toDF("label")
    val idx = FeatureAssembly.labelIndex(df, "label")
      .select("label", "label_idx").as[(String, Long)].collect().toMap
    // a and b tie at 2 -> value order; c is rarest
    assert(idx == Map("a" -> 0L, "b" -> 1L, "c" -> 2L), s"got $idx")
  }

  test("class weights are balanced: total / (k * count)") {
    val df = Seq("x", "x", "x", "y").toDF("label")
    val w = FeatureAssembly.labelIndex(df, "label")
      .select("label", "weight").as[(String, Double)].collect().toMap
    // weight column is rounded to 6dp for cross-engine hash stability
    assert(math.abs(w("x") - 4.0 / (2 * 3)) < 1e-6)
    assert(math.abs(w("y") - 4.0 / (2 * 1)) < 1e-6)
  }

  test("assemble builds the feature array in declared column order") {
    val df = Seq((1L, 2.5, 7)).toDF("id", "a", "b")
    val out = FeatureAssembly.assemble(df, Seq("b", "a"), "features")
      .select("features").as[Seq[Double]].head()
    assert(out == Seq(7.0, 2.5))
  }
}
