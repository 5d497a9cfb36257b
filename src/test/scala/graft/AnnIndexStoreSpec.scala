package graft

import graft.ann.{IvfAnn, IvfPqAnn, PqAnn}
import graft.ml.ModelStore
import graft.Tables

/** Build-once/reuse contracts for the persisted ANN index artifacts
  * (the performant_faiss discipline): a second invocation under the
  * same (data fingerprint, params) key must LOAD — zero training work —
  * and the loaded artifact must be bit-identical to the direct fit, so
  * the exhaustive-degeneracy hash gates stay valid under caching. */
class AnnIndexStoreSpec extends SparkSpec {

  private def vecs = Tables.embeddings(spark, sfDir)

  test("ivf centroids: cached load is bit-identical to the direct fit") {
    val direct = IvfAnn.trainCentroids(vecs, "vec_id", "embedding")
    val fp = ModelStore.fingerprint(sfDir, Seq("embeddings"))
    ModelStore.invalidate(
      s"ann_ivf_centroids|$sfDir|embeddings|$fp|k=${IvfAnn.NList}|iters=${IvfAnn.Iters}|v1")
    val cached = IvfAnn.trainCentroidsCached(spark, sfDir, "embeddings",
      vecs, "vec_id", "embedding")
    assert(cached == direct,
      "persisted centroids must roundtrip bit-exactly")
  }

  test("vectorsOrCompute: second call under one key loads without recompute") {
    var computes = 0
    val key = s"ann_spec_store_${System.nanoTime()}"
    def rows = { computes += 1; Seq((0, 0, Seq(1L, 2L)), (0, 1, Seq(3L, 4L))) }
    val a = ModelStore.vectorsOrCompute(spark, key)(rows)
    val b = ModelStore.vectorsOrCompute(spark, key)(rows)
    assert(computes == 1, s"second call must not retrain (ran $computes)")
    assert(a == b && a == Seq((0, 0, Seq(1L, 2L)), (0, 1, Seq(3L, 4L))))
    ModelStore.invalidate(key)
    ModelStore.vectorsOrCompute(spark, key)(rows)
    assert(computes == 2, "invalidate must force a retrain")
    ModelStore.invalidate(key)
  }

  test("pq codebooks: cached load reconstructs the exact book structure") {
    val direct = PqAnn.trainCodebooks(vecs, "vec_id", "embedding")
    val fp = ModelStore.fingerprint(sfDir, Seq("embeddings"))
    ModelStore.invalidate(
      s"ann_pq_codebooks|$sfDir|embeddings|$fp|codes=${PqAnn.Codes}|sub=${PqAnn.SubSpaces}|v1")
    val cached = PqAnn.trainCodebooksCached(spark, sfDir, "embeddings",
      vecs, "vec_id", "embedding")
    assert(cached == direct)
  }

  test("ivfpq composite index roundtrips centroids and all codebooks") {
    val (dc, db) = IvfPqAnn.trainIndex(vecs, "vec_id", "embedding")
    val fp = ModelStore.fingerprint(sfDir, Seq("embeddings"))
    ModelStore.invalidate(
      s"ann_ivfpq_index|$sfDir|embeddings|$fp|nlist=${IvfAnn.NList}|" +
        s"codes=${PqAnn.Codes}|iters=${IvfPqAnn.TrainIters}|v1")
    val (cc, cb) = IvfPqAnn.trainIndexCached(spark, sfDir, "embeddings",
      vecs, "vec_id", "embedding")
    assert(cc == dc, "coarse centroids must roundtrip")
    assert(cb == db, "all residual codebooks must roundtrip")
  }

  test("gated ann_ivf runs zero training scans when the index is stored") {
    // Records read by the jobs `work` starts, and only those: the
    // listener bus is asynchronous, so task ends of the warm-up call
    // below can still be queued when the listener is added. A sentinel
    // job follows `work`; once its start is seen, every task end of
    // `work` has been delivered.
    def countRecordsRead(work: => Unit): Long = {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
      val sc = spark.sparkContext
      val group = s"records-${java.util.UUID.randomUUID()}"
      val sentinel = s"$group-sentinel"
      val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
      val records = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
            case Some(`group`)    => j.stageIds.foreach(stages.add)
            case Some(`sentinel`) => sentinelSeen.countDown()
            case _                => ()
          }
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null && stages.contains(t.stageId))
            records.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, "measured")
        work
        sc.setJobGroup(sentinel, "sentinel")
        sc.parallelize(Seq(1), 1).count()
        assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
      records.get()
    }
    // warm the store (may compute), then measure: a store hit reads
    // ONLY the tiny artifact parquet (nlist rows) — never the corpus.
    // The compute-closure-skipped semantics are pinned by the
    // vectorsOrCompute test above; this pins the scan volume.
    IvfAnn.trainCentroidsCached(spark, sfDir, "embeddings",
      vecs, "vec_id", "embedding")
    val hitRecords = countRecordsRead {
      IvfAnn.trainCentroidsCached(spark, sfDir, "embeddings",
        vecs, "vec_id", "embedding"); ()
    }
    val corpus = vecs.count()
    assert(hitRecords <= IvfAnn.NList,
      s"store hit read $hitRecords records — more than the artifact itself")
    assert(hitRecords < corpus,
      s"store hit ($hitRecords records) must not rescan the corpus ($corpus)")
  }
}
