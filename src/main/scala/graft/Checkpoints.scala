package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, PinnedFrames, Row}
import org.apache.spark.sql.catalyst.plans.physical.{CoalescedHashPartitioning, Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** The pin API: eager `localCheckpoint`s, at a storage level tiered
  * from a size estimate, or at the default level with the row count
  * observed in the pin's own job. Pin through here, never through a raw
  * `localCheckpoint`: a pin made here keeps its partitioning (unless
  * AQE coalesced the read; see [[checkpoint]]).
  *
  * Why pins need help to keep it: `Dataset.localCheckpoint` builds its
  * `LogicalRDD` with `LogicalRDD.fromDataset`, which takes the
  * partitioning from the executed plan's `outputPartitioning`. Under
  * AQE that plan is an `AdaptiveSparkPlanExec`, which (Spark 4.1.2)
  * does not override `outputPartitioning`, so a raw pin reports
  * `UnknownPartitioning(0)` and every consumer keyed on the pin's key
  * shuffles it again: `repartition(4, u).distinct().localCheckpoint()
  * .groupBy(u)` plans an `Exchange` with AQE on and none with AQE off.
  * [[checkpoint]] therefore rebuilds the pin's `LogicalRDD` with the
  * `outputPartitioning` of the FINAL adaptive plan (the plan that
  * produced the stored partitions, read only once `isFinalPlan` is
  * set; the first leaf of a `PartitioningCollection`, as
  * `fromDataset` does). Rebuilding a frame from a logical plan needs
  * `classic.Dataset.ofRows`, which is `private[sql]`; that one call is
  * [[org.apache.spark.sql.PinnedFrames]], used only here.
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
  * a storage level): the caller estimates the frame's serialized size
  * (footer row counts from [[ParquetMeta.rowCount]] — no scan job —
  * times a bytes/row figure) and [[adaptiveLevel]] compares it with
  * `Runtime.getRuntime.maxMemory`, the heap of the JVM that plans the
  * pin, in three tiers:
  *   - ≤ heap/16: MEMORY_AND_DISK — deserialized rows, no serializer
  *     pass on the write or on any scan;
  *   - ≤ heap/4: MEMORY_AND_DISK_SER — compact tracked bytes, no disk
  *     roundtrip at bench SFs;
  *   - otherwise: DISK_ONLY — the only level that never re-promotes,
  *     bounded at any scale.
  * Under `local[N]` that heap is also the executors' heap. On a
  * cluster it is the driver's, not the executors' that store the
  * blocks; tiering against executor storage memory is ROADMAP item 6.
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
    // the SER/DISK tiers. The thresholds are fractions of this JVM's
    // heap (see the object doc for what that means on a cluster).
    if (estBytes <= Runtime.getRuntime.maxMemory / 16)
      StorageLevel.MEMORY_AND_DISK
    else if (estBytes <= Runtime.getRuntime.maxMemory / 4)
      StorageLevel.MEMORY_AND_DISK_SER
    else StorageLevel.DISK_ONLY

  /** Eager `localCheckpoint` at `level` (`None`: `localCheckpoint()`'s
    * default) whose `LogicalRDD` reports the partitioning of the final
    * adaptive plan that stored it (see the object doc). A plan AQE did
    * not wrap already hands its partitioning to the checkpoint; the
    * partition-count check keeps any plan whose claim does not match
    * the stored RDD at Spark's own answer.
    *
    * A coalesced hash read (AQE merged the shuffle's small partitions)
    * stays unknown. Its shuffle spec cannot co-partition a join, so it
    * would only spare the exchange under an aggregate or window of a
    * frame small enough to coalesce. And a partitioning with attributes
    * costs AQE's exchange reuse between two instances of the pin in one
    * plan: `RDDScanExec`'s canonical form keeps the partitioning's
    * attribute ids, which differ per instance. Where it was measured,
    * carrying it spared nothing: over the sf0.01 documents AQE coalesces
    * two of the curation pipeline's stage pins, and its build runs 51
    * jobs with their coalesced partitioning carried or left unknown. */
  private def checkpoint(df: DataFrame, level: Option[StorageLevel]): DataFrame = {
    val pinned = level.fold(df.localCheckpoint())(df.localCheckpoint(true, _))
    (df.queryExecution.executedPlan, pinned.queryExecution.logical) match {
      case (a: AdaptiveSparkPlanExec, r: LogicalRDD) if a.isFinalPlan =>
        firstLeaf(a.executedPlan.outputPartitioning) match {
          case _: CoalescedHashPartitioning => pinned
          case p if p.numPartitions == r.rdd.getNumPartitions =>
            PinnedFrames.withPartitioning(pinned, p)
          case _ => pinned
        }
      case _ => pinned
    }
  }

  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case PartitioningCollection(ps) => firstLeaf(ps.head)
    case other => other
  }

  /** Eager localCheckpoint at [[adaptiveLevel]] of the estimate. */
  def pin(df: DataFrame, estBytes: Long): DataFrame =
    checkpoint(df, Some(adaptiveLevel(estBytes)))

  /** `df` with a row counter attached. The thunk returns the count
    * once an action has run a plan that contains the returned frame
    * (its pin, or the pin of a frame derived from it: an input count
    * riding a filtered stage's pin), and blocks until then. */
  def observeRows(df: DataFrame): (DataFrame, () => Long) = {
    val (observed, row) = observe(df, Seq(rowCount))
    (observed, () => row().getLong(0))
  }

  /** `df` with named aggregate `metrics` attached; the thunk returns
    * their values, in order, as [[observeRows]] returns its count. */
  private def observe(df: DataFrame, metrics: Seq[Column]): (DataFrame, () => Row) = {
    val obs = Observation()
    (df.observe(obs, metrics.head, metrics.tail: _*),
      () => Await.result(obs.future, Duration.Inf))
  }

  /** Eager default-level `localCheckpoint()` plus the values of the
    * named aggregate `metrics` over the frame (e.g.
    * `min(k).as("lo")`), in order, observed in the pin's own job. An
    * aggregate over the pin would run two more jobs (AQE runs its
    * shuffle map stage and its final stage separately). */
  def pinObserved(df: DataFrame, metrics: Column*): (DataFrame, Row) =
    observed(df, None, metrics)

  /** [[pinObserved]] of the frame's row count. */
  def pinCounted(df: DataFrame): (DataFrame, Long) = counted(df, None)

  /** [[pin]] plus the frame's row count, observed as in [[pinCounted]]. */
  def pinCounted(df: DataFrame, estBytes: Long): (DataFrame, Long) =
    counted(df, Some(adaptiveLevel(estBytes)))

  private def counted(df: DataFrame, level: Option[StorageLevel]): (DataFrame, Long) = {
    val (pinned, row) = observed(df, level, Seq(rowCount))
    (pinned, row.getLong(0))
  }

  private def rowCount: Column = count(lit(1)).as("rows")

  private def observed(df: DataFrame, level: Option[StorageLevel],
                       metrics: Seq[Column]): (DataFrame, Row) = {
    val (withMetrics, row) = observe(df, metrics)
    (checkpoint(withMetrics, level), row())
  }

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
    * there is no narrow copy at all. The round-robin drops any key
    * partitioning: a frame whose consumers group or join on one key
    * is pinned with [[pin]] after a `repartition(n, key)` instead
    * (TpePointwise's fact join). */
  def pinWide(df: DataFrame, estBytes: Long): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val advisory = df.sparkSession.sessionState.conf
      .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    if (estBytes < par * advisory)
      pin(df.repartition(par), estBytes)
    else pin(df, estBytes)
  }
}
