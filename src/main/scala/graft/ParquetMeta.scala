package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter.MetadataFilter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.{ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import scala.jdk.CollectionConverters._

/** The one place graft reads parquet footers: schema, row counts and
  * key ranges, answered on the driver from metadata alone.
  *
  * Each footer read is O(#files) driver-side metadata I/O — no executor
  * job, no data pages touched. Two Spark defaults it replaces:
  *   - `spark.read.parquet(p)` without a schema runs a Spark job to read
  *     ONE footer for schema inference (a lineitem read took 115 ms that
  *     way, 34 ms as footer plus schema-supplied read: medians of 20,
  *     `local[4]` on a 4-vCPU VM);
  *   - `DataFrame.count()` / `agg(min, max)` over a parquet scan run a
  *     scan job, while every footer already records its row groups' row
  *     counts and per-column min/max statistics.
  */
object ParquetMeta {

  /** The data files a parquet read of `paths` scans, sorted by path as
    * Spark's listing sorts them. Like Spark's file index it recurses
    * into directories and skips names starting with `_` or `.`
    * (`_SUCCESS`, `_temporary/`, sidecars such as `_key_stats.json`) or
    * ending in `._COPYING_`. Summary files (`_metadata`,
    * `_common_metadata`) are skipped too; Spark writes them only when
    * asked to. */
  def dataFiles(spark: SparkSession, paths: String*): Seq[FileStatus] = {
    val conf = spark.sessionState.newHadoopConf()
    def hidden(name: String) =
      name.startsWith("_") && !name.contains("=") || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    def leaves(f: FileStatus): Seq[FileStatus] =
      if (!f.isDirectory) Seq(f)
      else f.getPath.getFileSystem(conf).listStatus(f.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    paths.flatMap { p =>
      val path = new Path(p)
      leaves(path.getFileSystem(conf).getFileStatus(path))
    }.sortBy(_.getPath.toString)
  }

  /** `spark.read.parquet(paths)` with the schema taken from the footer
    * of the first data file — the file Spark's non-merging inference
    * reads — converted by Spark's own footer converter under the
    * session's parquet settings, so the frame is the inferred one
    * without the inference job. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    read(spark, dataFiles(spark, paths: _*), paths)

  /** [[read]] over a listing the caller already holds. */
  def read(spark: SparkSession, files: Seq[FileStatus], paths: Seq[String]): DataFrame = {
    val first = files.headOption.getOrElse(throw new IllegalArgumentException(
      s"no parquet data file under ${paths.mkString(", ")}"))
    val meta = footer(spark.sessionState.newHadoopConf(), first,
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(paths: _*)
  }

  /** Exact row count of a parquet file or directory-of-part-files,
    * summed from footers alone. */
  def rowCount(spark: SparkSession, path: String): Long =
    rowGroups(spark, path).map(_.getRowCount).sum

  /** (min, max) of integral column `keyCol` over every row group under
    * `path`, from the footers' column statistics. None when no row
    * holds a non-null key (empty data, all-null key) and when a
    * non-empty row group carries no usable statistics for the key —
    * callers treat None as "range unknown". */
  def keyRange(spark: SparkSession, path: String, keyCol: String): Option[(Long, Long)] = {
    val key = ColumnPath.get(keyCol)
    val stats = rowGroups(spark, path).filter(_.getRowCount > 0).map(g =>
      (g.getRowCount, g.getColumns.asScala.find(_.getPath == key).map(_.getStatistics)))
    // a group is described when its stats hold a min/max, or count
    // every one of its rows as null
    val described = stats.forall { case (rows, st) =>
      st.exists(s => s.hasNonNullValue || s.isNumNullsSet && s.getNumNulls == rows) }
    val ranges = stats.flatMap(_._2).filter(_.hasNonNullValue).map(s =>
      (s.genericGetMin.asInstanceOf[Number].longValue,
        s.genericGetMax.asInstanceOf[Number].longValue))
    if (!described || ranges.isEmpty) None
    else Some((ranges.map(_._1).min, ranges.map(_._2).max))
  }

  private def rowGroups(spark: SparkSession, path: String) = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(spark, path).flatMap(f =>
      footer(conf, f, ParquetMetadataConverter.NO_FILTER).getBlocks.asScala)
  }

  private def footer(conf: Configuration, f: FileStatus,
                     filter: MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), filter)
}
