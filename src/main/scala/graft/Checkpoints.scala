package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** Adaptive storage level for corpus-scaled `localCheckpoint` pins.
  *
  * Spark's default localCheckpoint level keeps deserialized rows on
  * the executor heap — right for the domain-sized frames most graft
  * operators pin (top-K matrices, per-user scoreboards), but a
  * fact-scaled pin GROWS WITH THE DATA and eventually IS the heap:
  * r19 measured two keys failing exactly this way (tpe_pointwise's
  * draws frame at the 10x replica, recsys_eval's purchases frame at
  * the 100x replica — the storage pool fills until HashAggregate
  * cannot acquire its initial map). Every memory-backed level also
  * re-promotes disk-spilled blocks on read (maybeCacheDiskBytesInMemory
  * allocates whole blocks while evicting others faster than GC
  * reclaims them), so simply switching to a serialized memory level
  * thrashes once storage saturates.
  *
  * Rule (the harmonicCloseness adaptive-sizing discipline applied to
  * a storage level): estimate the frame's serialized size from a
  * metadata-only row count ([[ParquetMeta.rowCount]] — no scan job)
  * and a bytes/row figure, then
  *   - fits well inside the heap (≤ 1/4 of `Runtime.maxMemory`):
  *     MEMORY_AND_DISK_SER — compact tracked bytes, no disk roundtrip
  *     at bench SFs;
  *   - otherwise: DISK_ONLY — the only level that never re-promotes,
  *     bounded at any scale.
  * On a cluster the same estimate runs against each executor's heap,
  * which is exactly the quantity that decides.
  */
object Checkpoints {

  def adaptiveLevel(estBytes: Long): StorageLevel =
    // r19 optimization round introduced the DESERIALIZED tier (the
    // serialized levels pay a Java-serializer pass on the pin write
    // AND on every scan) at a conservative est ≤ heap/64. r20 raised
    // it to heap/16 after measuring the inflation that bound was
    // guarding against: for the long-only UnsafeRow frames these pins
    // hold, deserialized storage measures ~2x the serialized estimate
    // (tpe feats: 490 MB est → 1.0 GB stored), so a boundary frame
    // occupies ~heap/8 — inside the unified pool's storage fraction,
    // with MEMORY_AND_DISK falling back to disk per-block rather than
    // OOMing if an estimate lies. The win is large where it engages:
    // the pointwise-TPE feats pin (10M rows) dropped from 5.9 s to
    // 1.7 s to write and each scoring scan from 1.6-2.0 s to 0.2-0.4 s
    // at sf0.1 (trio solo 33.4 → 28.7 s). The r19-measured 10x-replica
    // OOM cases (fact-scaled pins, est ≥ 4.9 GB there) still land in
    // the SER/DISK tiers. Thresholds stay fractions of the executor
    // heap, so the same estimate decides correctly on any cluster.
    if (estBytes <= Runtime.getRuntime.maxMemory / 16)
      StorageLevel.MEMORY_AND_DISK
    else if (estBytes <= Runtime.getRuntime.maxMemory / 4)
      StorageLevel.MEMORY_AND_DISK_SER
    else StorageLevel.DISK_ONLY

  /** Eager localCheckpoint at [[adaptiveLevel]] of the estimate. */
  def pin(df: DataFrame, estBytes: Long): DataFrame =
    df.localCheckpoint(true, adaptiveLevel(estBytes))

  /** [[pin]] with a width floor, decided from the ESTIMATE in ONE
    * materialization (r20 optimization round — replaces r19's
    * measure-then-re-pin form): when the estimate says AQE will
    * coalesce the frame below the session parallelism
    * (estBytes < parallelism × the session's AQE advisory partition
    * size, `spark.sql.adaptive.advisoryPartitionSizeInBytes`, 64 MB by
    * default), round-robin it to the parallelism BEFORE the single
    * checkpoint — the exchange is bounded by parallelism × advisory
    * size, and downstream fan-out consumers
    * (candidate explodes, train/test filters, truth distincts) run
    * wide. Past that bound the frame's own shuffle already
    * materializes ≥ parallelism blocks, so this is [[pin]] — no forced
    * exchange on a frame that is already wide. The r19 form pinned the
    * narrow copy first and re-pinned a widened one, which (a) paid a
    * second materialization job + a narrow block scan every time it
    * engaged (profiled: ~0.8 s of recsys_eval's purchases pin at
    * sf0.1) and (b) leaked the narrow blocks — Dataset.unpersist goes
    * through the CacheManager, which does not track localCheckpoint
    * persistence (the r19 ADVICE finding); with one materialization
    * there is no narrow copy at all. */
  def pinWide(df: DataFrame, estBytes: Long): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val advisory = df.sparkSession.sessionState.conf
      .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    if (estBytes < par * advisory)
      df.repartition(par).localCheckpoint(true, adaptiveLevel(estBytes))
    else pin(df, estBytes)
  }
}
