package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{ParquetMeta, Tables}

/** Small-file compaction: rewrite a parquet dataset to a target file size
  * — the parquet analogue of the reference's Delta OPTIMIZE/autoCompact
  * (/root/reference/DataEngineering/DataBricks/autocompact_delta.py: 128 MB
  * target, compact then vacuum).
  *
  * File count = ceil(total bytes / target); the rewrite is a
  * `repartition(n)` (round-robin — uniform output files regardless of
  * input skew) followed by an overwrite, and the old files disappear with
  * the overwrite (the vacuum step). Content-preserving by construction;
  * the driver gate verifies the read-back equals the source rows.
  *
  * At 100 TB this runs per-partition-directory (compact only partitions
  * whose small-file count crosses a threshold), never as one global
  * rewrite; the helper takes the directory to compact so callers scope it.
  */
object Compaction {

  /** Total bytes of all files under `path`. */
  def dirBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }

  /** Rewrite `inPath` parquet into `outPath` at `targetFileBytes`;
    * returns the compacted data read back. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long): DataFrame = {
    val nFiles = math.max(1L, math.ceil(
      dirBytes(spark, inPath).toDouble / targetFileBytes).toLong).toInt
    ParquetMeta.read(spark, inPath).repartition(nFiles)
      .write.mode("overwrite").parquet(outPath)
    ParquetMeta.read(spark, outPath)
  }

  /** Number of data files under `path` (compaction effectiveness probe). */
  def dataFileCount(spark: SparkSession, path: String): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  // ---- query-map entry (#23) ----

  /** Scatter orders into many small files, compact them back to one
    * target-sized set, and return the read-back — the oracle asserts the
    * round trip preserved every row. */
  def compactionOrders(spark: SparkSession, dir: String): DataFrame = {
    val scratch = s"/tmp/graft_compaction/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    Tables.orders(spark, dir).repartition(64)
      .write.mode("overwrite").parquet(s"$scratch/small")
    compact(spark, s"$scratch/small", s"$scratch/compacted",
      targetFileBytes = 128L * 1024 * 1024)
  }

  def oracleSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority FROM orders""".stripMargin
}
