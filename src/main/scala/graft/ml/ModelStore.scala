package graft.ml

import java.io.File
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.ml.util.MLWritable

/** Persist-and-reuse for fitted MLlib models — the serving seam of the
  * reference's workflow: models are saved as artifacts at train time and
  * loaded for scoring later
  * (/root/reference/MachineLearning/AzureML/endpoint/score.py:1-20 loads a
  * registered model in `init()` and scores in `run()`; the AzureML train
  * jobs emit the artifact). Spark-first shape: MLlib models are
  * `MLWritable` — `model.write.save(path)` emits a metadata JSON + a
  * parquet of tree nodes, and the companion's `MLReadable.load` restores a
  * score-identical model. This object adds the fit-or-load discipline on
  * top: the FIRST caller under a key fits and persists; every caller
  * (including the first) scores the PERSISTED artifact, so the
  * save→load roundtrip is exercised on every use, not only in the spec.
  *
  * Keys must encode everything the fit depends on — data dir AND a
  * [[fingerprint]] of the backing files (the test data is regenerated
  * in place between rounds, so the path alone is not an identity),
  * algorithm, hyperparameters, seed, and a harness version — because two
  * callers with the same key assert they'd fit the identical model. That
  * holds here: every gated fit is deterministic (fixed seed, hash split,
  * no `randomSplit`).
  *
  * Scope: the store is single-process — `java.io.File` paths and JVM
  * locks, matching the gated local[32] harness where Verify/Bench are one
  * driver JVM. A multi-driver deployment would swap the marker-file
  * commit for Hadoop `FileSystem` atomic rename on shared storage; the
  * call surface would not change.
  *
  * Scale: the artifact is O(trees · nodes) — kilobytes to megabytes —
  * written once; on a cluster the load is one small parquet read feeding
  * an executor-side broadcast. Reuse turns N gated keys over the same
  * model into 1 fit + N loads.
  */
object ModelStore {

  private val root = sys.props.getOrElse("graft.model.store", "/tmp/graft_models")

  /** One lock per ARTIFACT PATH (not per raw key): distinct raw keys can
    * never race on one directory because [[pathFor]] is injective, and
    * equal raw keys always coalesce onto the same lock object. */
  private val locks = new ConcurrentHashMap[String, Object]()

  /** Marker written only after a complete save — a crashed writer leaves
    * no marker, so the next caller refits over the partial artifact. */
  private def marker(p: String) = new File(p, "_GRAFT_SAVED")

  private def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Injective key→path mapping: a readable sanitized prefix for humans
    * plus a hash of the RAW key, so "a/b" vs "a_b" (or a hostile "..")
    * can never collide or escape `root` — the resolved path is always a
    * fresh child of the store root. */
  def pathFor(key: String): String = {
    val pretty = key.replaceAll("[^A-Za-z0-9._-]", "_").take(64)
      .replaceAll("^\\.+", "_") // no dot-leading dirs ("."/".." inexpressible)
    s"$root/$pretty-${sha256Hex(key).take(16)}"
  }

  /** Stable fingerprint of the files backing `dir/<table>.parquet` —
    * (relative name, length, mtime) per file, hashed. One filesystem
    * metadata listing per table; no data read. Lets cached fits go stale
    * the moment the generator rewrites a table in place. */
  def fingerprint(dir: String, tables: Seq[String]): String = {
    def files(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq
          .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
          .sortBy(_.getName).flatMap(files)
      else Seq(f)
    val desc = tables.sorted.flatMap { t =>
      val base = new File(dir, s"$t.parquet")
      files(base).map(f => s"$t/${f.getName}:${f.length}:${f.lastModified}")
    }
    sha256Hex(desc.mkString("\n")).take(16)
  }

  /** Load the model persisted under `key` if present, else run `fit`,
    * save it, and load it back. The returned model is ALWAYS the loaded
    * copy of the on-disk artifact. */
  def fitOrLoad[M <: MLWritable](key: String, load: String => M)(fit: => M): M = {
    val p = pathFor(key)
    val lock = locks.computeIfAbsent(p, _ => new Object)
    lock.synchronized {
      if (!marker(p).exists()) {
        fit.write.overwrite().save(p)
        if (!marker(p).createNewFile())
          sys.error(s"ModelStore: could not commit marker for $p")
      }
      load(p)
    }
  }

  /** Persist-or-load for small driver-side index tables — ANN coarse
    * centroids and PQ codebooks, the artifacts the reference's FAISS
    * workflow builds once and reuses across query batches
    * (/root/reference/MachineLearning/ML/performant_faiss.py:1-22
    * trains `IVF65536,PQ8x8` once, then serves many queries). Same
    * key/lock/marker discipline as [[fitOrLoad]]; the artifact is a
    * parquet of (grp, idx, vec array<bigint>) rows and the returned
    * value is ALWAYS the loaded copy, so the roundtrip is exercised on
    * every use. Quantized-integer vectors roundtrip bit-exactly, which
    * keeps the exhaustive-degeneracy hash gates valid under caching. */
  def vectorsOrCompute(spark: org.apache.spark.sql.SparkSession, key: String)
                      (compute: => Seq[(Int, Int, Seq[Long])]): Seq[(Int, Int, Seq[Long])] = {
    import spark.implicits._
    val p = pathFor(key)
    val lock = locks.computeIfAbsent(p, _ => new Object)
    lock.synchronized {
      val data = s"$p/vectors"
      if (!marker(p).exists()) {
        // same temp-dir + atomic-rename discipline as tableOrCompute
        val tmp = s"$p/vectors.tmp-${System.nanoTime()}"
        compute.toDF("grp", "idx", "vec")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        rmTree(new File(data))
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(data),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        if (!marker(p).createNewFile())
          sys.error(s"ModelStore: could not commit marker for $p")
      }
      graft.ParquetMeta.read(spark, data).as[(Int, Int, Seq[Long])].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    }
  }

  /** Persist-or-load for a whole DataFrame-shaped artifact — per-series
    * fitted forecast parameters, the shape the reference's decoupled
    * tune→predict split persists between jobs
    * (/root/reference/MachineLearning/Kubernetes/src/stats_forecast_predict.py
    * loads winning configs written by the tune job and only forecasts).
    * Unlike [[vectorsOrCompute]] this NEVER collects to the driver: the
    * compute writes executor-side parquet, the hit path is one parquet
    * read of the artifact — O(series) rows, arbitrarily many of them.
    * Same key/lock/marker discipline; the returned frame is ALWAYS the
    * loaded copy, so the roundtrip is exercised on every use. */
  def tableOrCompute(spark: org.apache.spark.sql.SparkSession, key: String)
                    (compute: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val p = pathFor(key)
    val lock = locks.computeIfAbsent(p, _ => new Object)
    lock.synchronized {
      val data = s"$p/table"
      if (!marker(p).exists()) {
        // temp dir + atomic rename (the VersionedTable discipline): the
        // JVM-local lock cannot order a CONCURRENT PROCESS's read against
        // this write, but after the move a reader can only ever observe a
        // complete artifact dir — never a half-written parquet
        val tmp = s"$p/table.tmp-${System.nanoTime()}"
        compute.write.mode("overwrite").parquet(tmp)
        rmTree(new File(data)) // a crashed prior writer's partial output
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(data),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        if (!marker(p).createNewFile())
          sys.error(s"ModelStore: could not commit marker for $p")
      }
      graft.ParquetMeta.read(spark, data)
    }
  }

  private def rmTree(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmTree)
    f.delete(); ()
  }

  /** Drop a persisted model (specs use this to force a refit). */
  def invalidate(key: String): Unit = {
    val p = pathFor(key)
    val lock = locks.computeIfAbsent(p, _ => new Object)
    lock.synchronized {
      val d = new File(p)
      val rootCanon = new File(root).getCanonicalPath
      require(d.getCanonicalPath.startsWith(rootCanon + File.separator),
        s"ModelStore.invalidate: $p escapes store root") // pathFor makes this unreachable
      def rm(f: File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
        f.delete(); ()
      }
      if (d.exists()) rm(d)
    }
  }
}
