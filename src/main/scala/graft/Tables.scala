package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-backed table loaders for the driver-generated test tables.
  *
  * Reads go through [[ParquetMeta.read]]: the schema comes from the first
  * data file's footer on the driver, so building a frame runs no Spark
  * job. The scan is an ordinary parquet scan, so Catalyst keeps full
  * control of column pruning and filter pushdown — callers
  * `.select`/`.filter` and the scan narrows (verify with `.explain`:
  * `ReadSchema`/`PushedFilters`).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetMeta.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.ts has shipped under three physical parquet types across test
    * data generations — TIMESTAMP(NANOS) (surfaced as BIGINT nanos via the
    * `nanosAsLong` legacy flag), timestamp[us] without UTC adjustment
    * (surfaced as TIMESTAMP_NTZ), and plain TIMESTAMP — so the loader
    * adapts on the *loaded* dataType rather than hard-coding one era.
    * Sessions are pinned to UTC, so the NTZ→timestamp cast is a pure
    * re-tag with identical values; the nanos path truncates ns→µs exactly
    * like DuckDB (generator nanos are µs-aligned, so lossless). Schema
    * drift as a loader concern mirrors the reference's ingestion
    * (DataEngineering/DataBricks/spark_stream.py:13-17 schema evolution).
    *
    * The legacy flag is session-wide by necessity: there is no reader
    * option for it (ParquetOptions doesn't carry it) and the task-side
    * footer converter resolves it from the propagated SQLConf, so a
    * set-and-restore around this call would break the later action.
    * Sessions built by [[Verify]]/[[Bench]] enable it up front; this
    * defensive set covers ad-hoc sessions and only affects
    * TIMESTAMP(NANOS) columns, which no other test table has. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => sys.error(
        s"events.ts: unsupported parquet-surfaced type $other; " +
          "extend Tables.events for this generation of test data")
    }
  }
  /** documents/embeddings feed CPU-heavy map stages (shingling, hashing,
    * vector math). A single small parquet file scans as ONE partition
    * (unsplittable single row group), which would serialize that compute
    * onto one core — so spread the scan to the session's parallelism when
    * (and only when) it arrives narrower. At real scale the scan is
    * already ≥ parallelism partitions and this is a no-op: no shuffle. */
  private def spread(s: SparkSession, d: String, name: String): DataFrame = {
    // static file-size heuristic over the listing the read already took,
    // not df.rdd.getNumPartitions: the rdd call instantiates the physical
    // plan a second time per query. The estimate mirrors
    // FilePartition.maxSplitBytes — min(maxPartitionBytes,
    // max(openCostInBytes, (bytes + openCost·files)/minPartitionNum)) —
    // with splits rounded up per file, so it tracks the scan's real
    // partition count instead of the old bytes/maxPartitionBytes guess
    // (which could skip a needed repartition on multi-file tables).
    val path = s"$d/$name.parquet"
    val files = ParquetMeta.dataFiles(s, path)
    val df = ParquetMeta.read(s, files, Seq(path))
    val fileSizes = files.map(_.getLen)
    val conf = s.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val minParts = conf.filesMinPartitionNum
      .getOrElse(s.sparkContext.defaultParallelism).max(1)
    val totalBytes = fileSizes.map(_ + openCost).sum
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, totalBytes / minParts))
    val estParts = fileSizes.map(sz => math.max(1L, (sz + maxSplit - 1) / maxSplit)).sum
    val target = s.sparkContext.defaultParallelism
    if (estParts < target) df.repartition(target) else df
  }
  def documents(s: SparkSession, d: String): DataFrame = spread(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = spread(s, d, "embeddings")
}
