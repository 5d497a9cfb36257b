package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.{BlockId, RDDBlockId}

import graft.{Json, SparkEntry}

/** One workload run in one `local[4]` JVM: a closed loop over a fixed list
  * of `SparkEntry.queries` keys, one call at a time, repeated in as many
  * whole passes as fit in `--seconds` (at least one).
  *
  * Each call is timed in two parts: the build (the key's function returns
  * the DataFrame, eager pins included) and the run (the result written as
  * parquet under `--sink`). A listener sums Spark's task counters per
  * (pass, call, phase) through a job-group-like local property; with
  * `--trace 1` it also keeps one span per job and the catalyst phase times
  * of every query execution the call completed. Everything goes into one
  * JSON record (`--record`) that `perfbench/run.py` reduces to metrics.
  *
  * Usage: Runner --data DIR --sink DIR --record FILE --models DIR
  *          --calls k1,k2,... --warmup KEY --seconds N --trace 0|1
  */
object Runner {
  private val SlotProp = "graftbench.slot"

  /** Counters of one (pass, call, phase) slot. */
  final class Counters {
    var jobs, tasks, stages, oneTaskStages = 0L
    var cpuNs, runMs, gcMs = 0L
    var inputBytes, inputRecords, outputBytes = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    var schemaJobs, schemaMs, pinJobs, pinMs = 0L

    def json: String = Seq(
      "jobs" -> jobs, "tasks" -> tasks, "stages" -> stages,
      "one_task_stages" -> oneTaskStages, "cpu_ns" -> cpuNs,
      "run_ms" -> runMs, "gc_ms" -> gcMs,
      "input_bytes" -> inputBytes, "input_records" -> inputRecords,
      "output_bytes" -> outputBytes, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
      "schema_jobs" -> schemaJobs, "schema_ms" -> schemaMs,
      "pin_jobs" -> pinJobs, "pin_ms" -> pinMs,
    ).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  }

  /** Job kind from the job's result stage: its short call site, and the
    * Spark method on top of its long call site. A parquet job started from
    * `DataFrameReader` is a schema (footer) read; writes start elsewhere. */
  def jobKind(stage: StageInfo): String = {
    val top = stage.details.takeWhile(_ != '\n')
    if (stage.name.startsWith("parquet at ") && top.contains("DataFrameReader")) "schema"
    else if (stage.name.contains("heckpoint at ")) "pin"
    else "other"
  }

  /** Sums task metrics per slot; in trace mode keeps one span per job. Also
    * adds up the RDD blocks first stored since the last `takePins`: what a
    * build pinned, whether or not the ContextCleaner has dropped it again
    * by the end of the build (that depends on when the driver GCs). */
  final class Recorder(trace: Boolean) extends SparkListener {
    val slots = mutable.HashMap[String, Counters]()
    private val storedBlocks = mutable.HashSet[BlockId]()
    private val pinRdds = mutable.HashSet[Int]()
    private var pinMem, pinDisk = 0L
    private val windows = mutable.ArrayBuffer[(Long, String)]()
    private val jobSlot = mutable.HashMap[Int, (String, Long, String, String)]()
    private val stageSlot = mutable.HashMap[Int, String]()
    val spans = mutable.ArrayBuffer[String]()
    var started, ended = 0L

    private def at(slot: String) = slots.getOrElseUpdate(slot, new Counters)

    /** Jobs submitted from the calling thread carry `slot` in their
      * properties; a job from a thread that did not inherit them is put in
      * the slot that was current when it was submitted. */
    def enter(sc: SparkContext, slot: String): Unit = {
      sc.setLocalProperty(SlotProp, slot)
      synchronized { windows += ((System.currentTimeMillis(), slot)) }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      started += 1
      val slot = Option(e.properties).flatMap(p => Option(p.getProperty(SlotProp)))
        .orElse(windows.findLast(_._1 <= e.time).map(_._2))
        .getOrElse("unattributed")
      val (kind, site) = e.stageInfos.maxByOption(_.stageId)
        .map(s => (jobKind(s), s.name)).getOrElse(("other", ""))
      jobSlot(e.jobId) = (slot, e.time, kind, site)
      e.stageIds.foreach(stageSlot(_) = slot)
      at(slot).jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      ended += 1
      jobSlot.remove(e.jobId).foreach { case (slot, t0, kind, site) =>
        val c = at(slot)
        val ms = e.time - t0
        kind match {
          case "schema" => c.schemaJobs += 1; c.schemaMs += ms
          case "pin" => c.pinJobs += 1; c.pinMs += ms
          case _ =>
        }
        if (trace) spans += Seq(
          s""""job":${e.jobId}""", s""""slot":${Json.str(slot)}""",
          s""""start_ms":$t0""", s""""end_ms":${e.time}""",
          s""""kind":${Json.str(kind)}""",
          s""""site":${Json.str(site.takeWhile(_ != '\n'))}""",
        ).mkString("{", ",", "}")
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSlot.get(e.stageInfo.stageId).foreach { slot =>
        val c = at(slot)
        c.stages += 1
        if (e.stageInfo.numTasks == 1) c.oneTaskStages += 1
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = at(stageSlot.getOrElse(e.stageId, "unattributed"))
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case RDDBlockId(rdd, _) if b.storageLevel.isValid &&
            b.memSize + b.diskSize > 0 && storedBlocks.add(b.blockId) =>
          pinRdds += rdd
          pinMem += b.memSize
          pinDisk += b.diskSize
        case _ =>
      }
    }

    /** (RDDs, memory bytes, disk bytes) pinned since the last take. */
    def takePins(): (Int, Long, Long) = synchronized {
      val out = (pinRdds.size, pinMem, pinDisk)
      pinRdds.clear(); pinMem = 0L; pinDisk = 0L
      out
    }
  }

  /** Catalyst phase times of every query execution since the last take. */
  final class Phases extends QueryExecutionListener {
    private val ms = mutable.LinkedHashMap("analysis" -> 0L, "optimization" -> 0L,
      "planning" -> 0L)
    private def add(qe: QueryExecution): Unit = synchronized {
      qe.tracker.phases.foreach { case (p, s) =>
        if (ms.contains(p)) ms(p) += s.durationMs
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    def take(): String = synchronized {
      val out = ms.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
      ms.keys.foreach(ms(_) = 0L)
      out
    }
  }

  private def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = args("data")
    val sink = args("sink")
    val models = new File(args("models"))
    val calls = args("calls").split(",").toSeq
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val unknown = calls.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown SparkEntry keys: ${unknown.mkString(",")}")

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir", args("local"))
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()
    val rec = new Recorder(trace)
    sc.addSparkListener(rec)
    val phases = new Phases
    if (trace) spark.listenerManager.register(phases)

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    // untimed warm-up: session, codegen and scan spin-up would otherwise
    // land on whichever call happens to run first
    rec.enter(sc, "warmup")
    SparkEntry.queries(args("warmup"))(spark, data)
      .write.mode("overwrite").parquet(s"$sink/warmup")
    cleanup()
    ListenerDrain(sc, 60000)
    phases.take()
    val readyMs = System.currentTimeMillis()

    val callJson = mutable.ArrayBuffer[String]()
    // whole passes: another one starts only if it should end within
    // `seconds`, judging by the last pass; there is always at least one
    val t0 = System.nanoTime()
    var pass = 0
    var lastPassS = 0.0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 + lastPassS <= seconds) {
      val p0 = System.nanoTime()
      // every pass starts from the same state: fit-or-load indexes refit
      rmTree(models)
      System.gc()
      calls.zipWithIndex.foreach { case (key, i) =>
        val slot = s"$pass/$i"
        var error: Option[String] = None
        ListenerDrain(sc, 60000)
        rec.takePins()
        rec.enter(sc, s"$slot/build")
        val b0 = System.currentTimeMillis(); val n0 = System.nanoTime()
        val df = try Some(SparkEntry.queries(key)(spark, data)) catch {
          case e: Throwable => error = Some(s"build: $e"); None
        }
        val n1 = System.nanoTime()
        ListenerDrain(sc, 60000)
        val (pins, pinMem, pinDisk) = rec.takePins()
        rec.enter(sc, s"$slot/run")
        val n2 = System.nanoTime()
        df.foreach { d =>
          try d.write.mode("overwrite").parquet(s"$sink/p$pass/$key") catch {
            case e: Throwable => error = Some(s"run: $e")
          }
        }
        val n3 = System.nanoTime(); val r1 = System.currentTimeMillis()
        rec.enter(sc, "cleanup")
        cleanup()
        error.foreach(e => System.err.println(s"[graftbench] $key failed: $e"))
        callJson += Seq(
          s""""pass":$pass""", s""""index":$i""", s""""key":${Json.str(key)}""",
          s""""ok":${error.isEmpty}""",
          s""""error":${error.map(e => Json.str(e.take(400))).getOrElse("null")}""",
          s""""build_s":${(n1 - n0) / 1e9}""", s""""run_s":${(n3 - n2) / 1e9}""",
          s""""build_start_ms":$b0""", s""""run_end_ms":$r1""",
          s""""pins":$pins""", s""""stored_bytes":${pinMem + pinDisk}""",
          s""""disk_bytes":$pinDisk""",
          s""""phases":${if (trace) { ListenerDrain(sc, 60000); phases.take() } else "{}"}""",
        ).mkString("{", ",", "}")
      }
      pass += 1
      lastPassS = (System.nanoTime() - p0) / 1e9
    }

    // every counter below must include every job that started
    ListenerDrain(sc, 120000)
    val slots = rec.synchronized {
      rec.slots.toSeq.sortBy(_._1)
        .map { case (k, c) => s"${Json.str(k)}:${c.json}" }.mkString("{", ",", "}")
    }
    val oracle = calls.distinct.map { k =>
      s"${Json.str(k)}:${SparkEntry.oracleSql.get(k).map(Json.str).getOrElse("null")}"
    }.mkString("{", ",", "}")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val record = Seq(
      s""""jvm_start_ms":$jvmStartMs""", s""""session_ms":$sessionMs""",
      s""""ready_ms":$readyMs""", s""""passes":$pass""",
      s""""jobs_started":${rec.started}""", s""""jobs_ended":${rec.ended}""",
      s""""calls":${callJson.mkString("[", ",", "]")}""",
      s""""slots":$slots""",
      s""""jobs":${rec.synchronized(rec.spans.mkString("[", ",", "]"))}""",
      s""""oracle":$oracle""",
    ).mkString("{", ",", "}")
    Files.write(Paths.get(args("record")), record.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
