package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Medallion bronze-tier normalization — the ingestion counterpart of the
  * reference's all-in-one table generator
  * (/root/reference/DataEngineering/DataBricks/AIO_delta_table_generator.py:1-180):
  * load raw (parquet or JSON-shaped), normalize column names to camelCase,
  * drop source-supplied housekeeping collisions, dedup exact rows, and
  * inject the standard housekeeping columns — sourceFile lineage,
  * currentVersion / effectiveDate / expirationDate (the SCD2 envelope the
  * silver tier's merge consumes).
  *
  * Scale shape: name cleanup is metadata-only; bronze's dedup `distinct`
  * is its one shuffle (hash on all columns — uniform); sourceFile comes
  * from the scan's file metadata, not a UDF, so lineage costs nothing.
  * Silver moves the fact rows through one exchange, on the surrogate
  * key's bucket, and skips bronze's `distinct` (see [[silverApply]]).
  * Housekeeping dates are parameters, not current_timestamp(), keeping
  * the operator deterministic and replayable (idempotent re-runs produce
  * identical bronze — the property the reference gets from Delta
  * overwrite).
  */
object Medallion {

  val FarFuture = 99991231 // expirationDate sentinel, as in apply_scd2

  /** Normalize a raw frame into bronze shape.
    *
    * @param raw        raw rows (already read; JSON or tabular)
    * @param dropCols   source housekeeping to drop (removeCreatedUpdatedDate)
    * @param asOfDateKey yyyymmdd int stamped as effectiveDate
    */
  def bronzeNormalize(raw: DataFrame, dropCols: Seq[String],
                      asOfDateKey: Int): DataFrame =
    withEnvelope(bronzeColumns(raw, dropCols).distinct(), asOfDateKey)

  /** Bronze's projection of `raw`, before the exact-row dedup. */
  private def bronzeColumns(raw: DataFrame, dropCols: Seq[String]): DataFrame =
    ColumnNames.camelCase(raw.drop(dropCols: _*))
      .withColumn("sourceFile",
        element_at(split(col("_metadata.file_path"), "/"), -1))

  /** Stamped after the dedup: literal columns in its grouping key would
    * only widen the shuffle. */
  private def withEnvelope(rows: DataFrame, asOfDateKey: Int): DataFrame =
    rows
      .withColumn("currentVersion", lit(1))
      .withColumn("effectiveDate", lit(asOfDateKey))
      .withColumn("expirationDate", lit(FarFuture))

  /** Silver tier: one current row per natural key + a surrogate primary
    * key — the counterpart of the reference's silver table shape
    * (AIO_delta_table_generator.py:72-93: source columns + sourceFile +
    * `{pk} bigint GENERATED ALWAYS AS IDENTITY` + currentVersion /
    * effectiveDate / expirationDate envelope; column mapping is a Delta
    * storage property with no parquet counterpart).
    *
    * Where Delta's IDENTITY column hands out cluster-nondeterministic
    * ids, the surrogate key here is the GLOBAL row number in natural-key
    * order, computed scale-safely in two phases (the SaltedCumSum
    * pattern): in-bucket row_number over a RANGE-monotone bucket of the
    * key (no single-partition window ever sees the full table), plus
    * per-bucket offsets from a frame with one row per bucket — tiny, and
    * the join back is AQE-broadcast. Deterministic and replayable:
    * re-running silver yields identical keys.
    *
    * Scale shape: ONE exchange of the fact rows, `hashpartitioning` on the
    * bucket, at the session's partition count (AQE coalesces it). The
    * latest-wins window partitions by bucket + natural key, which groups
    * exactly as the key alone does because the bucket is a function of
    * the key, and the in-bucket row number partitions by the bucket: both
    * read that one exchange. The offsets branch prunes to the key columns,
    * so it shuffles only those on the bucket, counts per bucket with no
    * further exchange, and its single-partition window holds one row per
    * bucket. Latest-wins also subsumes an exact-row dedup: identical rows
    * share a natural key, and one row per key survives, so bronze's
    * `distinct` need not run first (it would cost an all-column exchange).
    *
    * @param rangeBucket integer expression MONOTONE in natural-key order
    *                    (e.g. `floor(key/1000)`) — bucket order must equal
    *                    key order for the offsets to linearize correctly */
  def silverApply(bronze: DataFrame, naturalKeys: Seq[String], skCol: String,
                  rangeBucket: Column): DataFrame = {
    val keyCols = naturalKeys.map(col)
    // the one fact exchange: every later step groups by a key the
    // bucket is a function of
    val bucketed = bronze.withColumn("__bucket", rangeBucket)
      .repartition(col("__bucket"))
    // latest envelope wins per natural key (bronze may hold re-arrivals
    // and exact duplicates); adding the bucket leaves the groups as
    // they are and lets the window read the bucket partitioning
    val wLatest = Window.partitionBy(col("__bucket") +: keyCols: _*)
      .orderBy(col("effectiveDate").desc, col("currentVersion").desc)
    val current = bucketed.withColumn("__v", row_number().over(wLatest))
      .filter(col("__v") === 1).drop("__v")

    val wIn = Window.partitionBy(col("__bucket")).orderBy(keyCols: _*)
    // one row per bucket: the single-partition rollup window scans only
    // #buckets rows, never fact rows
    val wRoll = Window.orderBy(col("__bucket"))
    val offsets = current.groupBy("__bucket").agg(count(lit(1)).as("__n"))
      .withColumn("__offset",
        coalesce(sum(lag("__n", 1).over(wRoll)).over(wRoll), lit(0L)))
      .drop("__n")
    current
      .withColumn("__rn", row_number().over(wIn))
      .join(offsets, "__bucket")
      .withColumn(skCol, (col("__offset") + col("__rn")).cast("long"))
      .drop("__bucket", "__rn", "__offset")
  }

  /** Gold tier: the consumption projection of silver — current rows only
    * (version predicate pushes down to the scan), lineage dropped, same
    * business schema + plain bigint surrogate key
    * (AIO_delta_table_generator.py:100-122, `min_gold`). */
  def goldProject(silver: DataFrame): DataFrame =
    silver
      .filter(col("currentVersion") === 1 && col("expirationDate") === FarFuture)
      .drop("sourceFile")

  // ---- query-map entry (#10) ----

  def medallionBronzeOrders(spark: SparkSession, dir: String): DataFrame =
    bronzeNormalize(Tables.orders(spark, dir), dropCols = Nil,
      asOfDateKey = OrdersAsOf)

  private val OrdersAsOf = 20240101

  /** The oracle runs over per-table views, so the filename is asserted as
    * the known literal (each test table is a single `<name>.parquet`) —
    * the Spark side still derives it from real scan metadata. */
  def oracleSql: String =
    """SELECT DISTINCT o_orderkey AS oOrderkey, o_custkey AS oCustkey,
      |  o_orderstatus AS oOrderstatus, o_totalprice AS oTotalprice,
      |  o_orderdate AS oOrderdate, o_orderpriority AS oOrderpriority,
      |  'orders.parquet' AS sourceFile,
      |  1 AS currentVersion,
      |  20240101 AS effectiveDate,
      |  99991231 AS expirationDate
      |FROM orders""".stripMargin

  // ---- query-map entries: silver + gold tiers ----

  /** Silver reads bronze's rows without the exact-row dedup: latest-wins
    * keeps one row per natural key, and exact duplicates share one. */
  def medallionSilverOrders(spark: SparkSession, dir: String): DataFrame =
    silverApply(
      withEnvelope(bronzeColumns(Tables.orders(spark, dir), Nil), OrdersAsOf),
      naturalKeys = Seq("oOrderkey"), skCol = "orderSk",
      rangeBucket = floor(col("oOrderkey") / 1000).cast("long"))

  def medallionGoldOrders(spark: SparkSession, dir: String): DataFrame =
    goldProject(medallionSilverOrders(spark, dir))

  /** Orders natural keys are unique in the test data, so the latest-wins
    * dedup keeps every row and the surrogate key is the row number in
    * o_orderkey order — exactly expressible in ANSI SQL. */
  def silverOracleSql: String =
    s"""WITH bronze AS ($oracleSql)
       |SELECT *, row_number() OVER (ORDER BY oOrderkey) AS orderSk
       |FROM bronze""".stripMargin

  def goldOracleSql: String =
    s"""WITH silver AS (${silverOracleSql})
       |SELECT oOrderkey, oCustkey, oOrderstatus, oTotalprice, oOrderdate,
       |  oOrderpriority, currentVersion, effectiveDate, expirationDate,
       |  orderSk
       |FROM silver
       |WHERE currentVersion = 1 AND expirationDate = 99991231""".stripMargin
}
