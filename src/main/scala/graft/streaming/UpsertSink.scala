package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, StructType}
import graft.ParquetMeta
import graft.operators.MergeUpsert

/** Streaming merge-upsert sink: every micro-batch is a changeset applied
  * to a parquet-backed, current-versioned dimension — the reference's
  * stream-to-dim path (/root/reference/DataEngineering/DataBricks/
  * spark_stream.py feeding merge_generator.py's MERGE) without Delta:
  * each batch writes a NEW versioned directory and then atomically swaps
  * a `_CURRENT` pointer file, so readers always see a complete snapshot
  * and a crashed batch leaves the previous version intact.
  *
  * Idempotency: the pointer records the last applied batchId; a replayed
  * batch (checkpoint recovery re-runs the last epoch) compares ids and
  * skips — the same recipe as [[JdbcSink]], with the pointer playing the
  * transaction log's role.
  *
  * Scale stance: the merge itself is [[MergeUpsert]] — key-range data
  * skipping pushes the changeset's min/max into the target scan, so a
  * small incremental batch touches only overlapping target files; the
  * rewrite cost is the merge output, amortized by compaction cadence in
  * a real deployment (at 100 TB you point this at a table format with
  * file-level replace, keeping the SAME merge plan).
  *
  * Time travel: every committed version dir is RETAINED (the pointer
  * flip never deletes), and each carries a `_COMMIT_META` marker
  * (batchId + commit wall-time, written BEFORE the flip so every
  * pointer-covered version has one) — the same read-at-version /
  * read-as-of surface the reference gets from Delta
  * (/root/reference/DataEngineering/Python/delta_table_rs.py:10-25,
  * `load_version` / `load_with_datetime`). Retention is explicit:
  * [[pruneVersions]] drops the oldest committed snapshots past a keep
  * count — history older than the prune horizon is unreadable, exactly
  * like a vacuumed Delta table, so the caller picks the horizon.
  */
object UpsertSink {

  private def pointerFile(stateDir: String) = new File(stateDir, "_CURRENT")
  private val MetaName = "_COMMIT_META"

  /** (version dir name, batchId) currently pointed at, if any. */
  def currentPointer(stateDir: String): Option[(String, Long)] = {
    val f = pointerFile(stateDir)
    if (!f.exists()) None
    else {
      val v = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).trim
      Some((v, v.stripPrefix("v_").toLong))
    }
  }

  /** The live dimension snapshot (business cols + current_version). */
  def currentState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    currentPointer(stateDir).map { case (v, _) =>
      ParquetMeta.read(spark, s"$stateDir/$v")
    }

  /** Apply one micro-batch changeset; public so recovery replays are
    * testable directly. Skips (no-op) if `batchId` was already applied. */
  def writeBatch(batch: DataFrame, batchId: Long, stateDir: String,
                 naturalKey: Seq[String], orderCol: String,
                 compareCols: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val applied = currentPointer(stateDir)
    if (applied.exists(_._2 >= batchId)) return // replay of an applied batch
    val target = currentState(spark, stateDir).getOrElse {
      // empty initial target: changeset business schema + current_version
      val business = StructType(batch.schema.filterNot(_.name == orderCol))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        business.add("current_version", IntegerType))
    }
    val merged = MergeUpsert(target, batch, naturalKey, orderCol, compareCols)
      .drop("change_type")
    val vdir = s"v_$batchId"
    merged.write.mode("overwrite").parquet(s"$stateDir/$vdir")
    // commit metadata BEFORE the flip: any pointer-covered version is
    // guaranteed to carry it (a marker without pointer coverage is a
    // crashed batch the replay path overwrites)
    Files.write(Paths.get(stateDir, vdir, MetaName),
      s"$batchId ${System.currentTimeMillis()}".getBytes(StandardCharsets.UTF_8))
    // write-then-rename: the pointer flip is the commit point
    val tmp = Paths.get(stateDir, "_CURRENT.tmp")
    Files.write(tmp, vdir.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, pointerFile(stateDir).toPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  // ---- time travel over retained versions ----

  /** One committed snapshot: its directory, batch id, and commit time. */
  final case class Version(dir: String, batchId: Long, commitMillis: Long)

  /** Committed versions (pointer-covered, oldest first). Dirs beyond the
    * current pointer — a batch that wrote but crashed before its flip —
    * are excluded: they are not part of history until replay commits
    * them. */
  def versionHistory(stateDir: String): Seq[Version] = {
    val head = currentPointer(stateDir).map(_._2).getOrElse(return Nil)
    val dirs = Option(new File(stateDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v_"))
    dirs.flatMap { d =>
      val meta = new File(d, MetaName)
      if (!meta.exists()) None
      else {
        val Array(bid, ts) =
          new String(Files.readAllBytes(meta.toPath), StandardCharsets.UTF_8)
            .trim.split(" ")
        Some(Version(d.getName, bid.toLong, ts.toLong))
      }
    }.filter(_.batchId <= head).sortBy(_.batchId).toSeq
  }

  /** The dimension snapshot exactly as of committed batch `batchId`. */
  def stateAtVersion(spark: SparkSession, stateDir: String,
                     batchId: Long): DataFrame = {
    val v = versionHistory(stateDir).find(_.batchId == batchId)
      .getOrElse(throw new NoSuchElementException(
        s"no committed version $batchId under $stateDir (pruned or never applied)"))
    ParquetMeta.read(spark, s"$stateDir/${v.dir}")
  }

  /** The newest snapshot committed at-or-before `tsMillis`, if any. */
  def stateAsOf(spark: SparkSession, stateDir: String,
                tsMillis: Long): Option[DataFrame] =
    versionHistory(stateDir).filter(_.commitMillis <= tsMillis)
      .lastOption.map(v => ParquetMeta.read(spark, s"$stateDir/${v.dir}"))

  /** Change-data feed between two committed versions: one row per
    * natural key that was inserted, updated, deleted, or unchanged
    * going from `fromBatchId`'s snapshot to `toBatchId`'s, with old/new
    * values side by side — the CDF read shape incremental consumers
    * tail instead of re-scanning snapshots (the reference's
    * merge_generator classifies exactly these branches to BUILD a
    * version; this reads the classification back out of the retained
    * history). Runs on the CURRENT rows of each snapshot: the SCD
    * history inside a snapshot is its own record, not a change.
    *
    * Scale: one full-outer join on the natural key between two bounded
    * dimension snapshots — [[graft.operators.SnapshotDiff]]'s minimal
    * two-sided shape; both endpoints must still be retained
    * ([[pruneVersions]] sets the horizon). */
  def changesBetween(spark: SparkSession, stateDir: String,
                     fromBatchId: Long, toBatchId: Long,
                     naturalKey: Seq[String],
                     compareCols: Seq[String]): DataFrame = {
    def current(b: Long) = stateAtVersion(spark, stateDir, b)
      .filter(org.apache.spark.sql.functions.col("current_version") === 1)
    graft.operators.SnapshotDiff.diff(
      current(fromBatchId), current(toBatchId), naturalKey, compareCols)
  }

  /** Drop the oldest committed snapshots, keeping the newest
    * `keepLast` (≥ 1 — the current version is never deleted). Returns
    * the dropped versions. Reads at pruned versions fail like reads of
    * a vacuumed table — choose `keepLast` as the retention horizon. */
  def pruneVersions(stateDir: String, keepLast: Int): Seq[Version] = {
    require(keepLast >= 1, "must retain at least the current version")
    val hist = versionHistory(stateDir)
    val drop = hist.dropRight(keepLast)
    drop.foreach { v =>
      val dir = new File(stateDir, v.dir)
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      dir.delete()
    }
    drop
  }

  /** Start the checkpointed stream maintaining the dimension at
    * `stateDir`. */
  def start(stream: DataFrame, stateDir: String, checkpoint: String,
            naturalKey: Seq[String], orderCol: String,
            compareCols: Seq[String]): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, stateDir, naturalKey, orderCol, compareCols)
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
