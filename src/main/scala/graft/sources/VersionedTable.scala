package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Versioned parquet table with a JSON commit log — the portable slice
  * of the Delta-table contract the reference leans on
  * (/root/reference/DataEngineering/Python/delta_table_rs.py:10-25 reads
  * a Delta table AT A VERSION with pushed filters;
  * /root/reference/DataEngineering/DataBricks/merge_generator.py runs
  * MERGE against such a table; autocompact_delta.py relies on its
  * transaction log): append / overwrite / keyed-upsert commits, time
  * travel via `readVersion(n)`, history, and vacuum with a version
  * retention horizon.
  *
  * Layout:
  * {{{
  *   <table>/_commits/00000000000000000007.json   // one per version
  *   <table>/_commits/_vacuum.json                // min readable version
  *   <table>/data/<uuid>/part-*.parquet           // immutable file groups
  * }}}
  *
  * A commit is the ATOMIC APPEARANCE of `_commits/<padded-version>.json`
  * (content written to a `_tmp-*` file first, then renamed — a reader
  * never observes partial JSON, and a crashed writer leaves only
  * ignorable tmp litter plus an unreferenced data dir for vacuum). Each
  * commit records the file groups it ADDS and the file groups it
  * REMOVES from the live set; the snapshot at version v is the replay
  * of commits 0..v — exactly Delta's add/remove action replay, at
  * directory granularity. Data file groups are immutable and
  * uuid-named, so writers never contend on data paths; only the commit
  * rename decides who owns a version number.
  *
  * Concurrency contract: in-process writers are serialized by a
  * JVM-striped table lock (the [[graft.ml.ModelStore]] discipline) and
  * a lost version race is detected (commit file already exists) and
  * retried against the refreshed snapshot. CROSS-process exclusion
  * inherits the filesystem's create-if-absent atomicity — the same
  * place Delta plugs per-store LogStore implementations; on an object
  * store without atomic rename you'd bring the same coordinator Delta
  * does. Readers need no coordination ever: commits are immutable once
  * visible.
  *
  * Scale: the log is O(commits), never data-sized; replay is
  * driver-side over tiny JSON; reads hand Spark the exact live file
  * groups, so partition pruning / filter pushdown / column pruning on
  * the parquet scan are untouched. Copy-on-write upsert rewrites only
  * through [[graft.operators.MergeUpsert]]-style plans at 100 TB you'd
  * bound with key-range skipping (see `upsert` notes).
  */
object VersionedTable {

  /** One replayed commit-log entry. `add`/`remove` are data-dir names
    * relative to `<table>/data/`; `ts` is the commit wall-clock
    * (epoch millis, stamped at the rename that makes it visible);
    * `schema` is the table schema AS OF this commit (JSON, Delta's
    * metaData action) — reads apply it instead of merging parquet
    * footers, so schema resolution is O(1) in file count and older
    * groups surface nulls for later-added columns. */
  final case class Commit(version: Long, op: String,
                          add: Seq[String], remove: Seq[String],
                          ts: Long = 0L, schema: String = "",
                          txn: Long = -1L)

  private val mapper = new ObjectMapper()
  private val Pad = 20

  private def commitsDir(table: String) = new Path(table, "_commits")
  private def dataDir(table: String) = new Path(table, "data")
  private def commitPath(table: String, v: Long) =
    new Path(commitsDir(table), ("%0" + Pad + "d").format(v) + ".json")
  private def vacuumPath(table: String) =
    new Path(commitsDir(table), "_vacuum.json")
  private def checkpointsDir(table: String) = new Path(table, "_checkpoints")
  private def checkpointPath(table: String, v: Long) =
    new Path(checkpointsDir(table), ("%0" + Pad + "d").format(v) + ".json")
  private def lastCheckpointPath(table: String) =
    new Path(checkpointsDir(table), "_last.json")

  /** Materialized snapshot state at a version: the full live file-group
    * set + declared schema, so resolution needs only the log TAIL
    * after it (Delta's `_last_checkpoint` discipline). */
  final case class Checkpoint(version: Long, live: Seq[String],
                              schema: String, ts: Long)

  private def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // in-process writer exclusion, striped by table path (ModelStore's
  // lock discipline — cross-process safety is the FS rename's job)
  private val locks = Array.fill(64)(new Object)
  private def lockFor(table: String) =
    locks(math.floorMod(table.hashCode, locks.length))

  private def renderCommit(c: Commit): String = {
    def arr(xs: Seq[String]) = xs.map(graft.Json.str).mkString("[", ",", "]")
    s"""{"version":${c.version},"op":${graft.Json.str(c.op)},""" +
      s""""add":${arr(c.add)},"remove":${arr(c.remove)},"ts":${c.ts},""" +
      s""""schema":${graft.Json.str(c.schema)},"txn":${c.txn}}"""
  }

  private def parseCommit(bytes: Array[Byte]): Commit = {
    val n = mapper.readTree(bytes)
    def strs(field: String): Seq[String] =
      n.get(field).elements().asScala.map(_.asText()).toSeq
    Commit(n.get("version").asLong(), n.get("op").asText(),
      strs("add"), strs("remove"),
      Option(n.get("ts")).map(_.asLong()).getOrElse(0L),
      Option(n.get("schema")).map(_.asText()).getOrElse(""),
      Option(n.get("txn")).map(_.asLong()).getOrElse(-1L))
  }

  private def readFully(f: FileSystem, p: Path): Array[Byte] = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  private def writeAtomic(f: FileSystem, dir: Path, finalPath: Path,
                          content: String): Boolean = {
    val tmp = new Path(dir, s"_tmp-${java.util.UUID.randomUUID()}.json")
    val out = f.create(tmp, false)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (f.exists(finalPath)) { f.delete(tmp, false); false }
    else {
      val ok = f.rename(tmp, finalPath)
      if (!ok) f.delete(tmp, false)
      ok
    }
  }

  /** All commits, version-ascending. Tmp litter and the vacuum marker
    * are ignored; a commit file that fails to parse (a writer crashed
    * mid-rename on a non-atomic FS) ends the readable prefix. */
  def history(spark: SparkSession, table: String): Seq[Commit] = {
    val f = fs(spark, table)
    val dir = commitsDir(table)
    if (!f.exists(dir)) return Nil
    val names = f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("_"))
      .sorted
    // a commit that fails to parse (writer crashed mid-rename on a
    // non-atomic FS) ENDS the readable prefix, as documented — it must
    // not brick every read of the versions before it
    val out = Vector.newBuilder[Commit]
    var stop = false
    names.foreach { n =>
      if (!stop) {
        try out += parseCommit(readFully(f, new Path(dir, n)))
        catch { case scala.util.control.NonFatal(_) => stop = true }
      }
    }
    out.result()
  }

  def latestVersion(spark: SparkSession, table: String): Option[Long] =
    commitVersions(fs(spark, table), table).lastOption

  /** Read a marker file, treating a concurrent replace window (the
    * marker is delete-then-recreated) or absence as "no marker" —
    * stale/absent markers UNDER-report, which is the safe direction
    * for both the vacuum horizon and the checkpoint pointer. */
  private def readMarker(f: FileSystem, p: Path): Option[Array[Byte]] =
    try { if (f.exists(p)) Some(readFully(f, p)) else None }
    catch { case _: java.io.FileNotFoundException => None }

  /** Oldest version still reconstructable (vacuum advances this). */
  def minReadableVersion(spark: SparkSession, table: String): Long = {
    val f = fs(spark, table)
    readMarker(f, vacuumPath(table))
      .map(b => mapper.readTree(b).get("min_readable_version").asLong())
      .getOrElse(0L)
  }

  /** Live data-dir names after replaying commits 0..v. */
  private def liveDirs(commits: Seq[Commit], v: Long): Seq[String] =
    commits.filter(_.version <= v).foldLeft(Vector.empty[String]) {
      (live, c) => live.filterNot(c.remove.contains) ++ c.add
    }

  // ---- log checkpointing (O(tail) snapshot resolution) ----

  private def renderCheckpoint(k: Checkpoint): String = {
    val arr = k.live.map(graft.Json.str).mkString("[", ",", "]")
    s"""{"version":${k.version},"live":$arr,""" +
      s""""schema":${graft.Json.str(k.schema)},"ts":${k.ts}}"""
  }

  private def parseCheckpoint(bytes: Array[Byte]): Checkpoint = {
    val n = mapper.readTree(bytes)
    Checkpoint(n.get("version").asLong(),
      n.get("live").elements().asScala.map(_.asText()).toSeq,
      n.get("schema").asText(), n.get("ts").asLong())
  }

  /** Latest materialized checkpoint, if any. Tolerates the marker's
    * replace window and a dangling pointer (both degrade to "no
    * checkpoint", which only costs a full log replay). */
  def latestCheckpoint(spark: SparkSession, table: String): Option[Checkpoint] = {
    val f = fs(spark, table)
    readMarker(f, lastCheckpointPath(table)).flatMap { b =>
      val v = mapper.readTree(b).get("version").asLong()
      readMarker(f, checkpointPath(table, v)).map(parseCheckpoint)
    }
  }

  /** Commit versions present in the log, from file NAMES only — no
    * content reads (one directory listing at any log length). */
  private def commitVersions(f: FileSystem, table: String): Seq[Long] = {
    val dir = commitsDir(table)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("_"))
      .map(n => n.stripSuffix(".json").toLong).sorted
  }

  /** Parse ONLY the commits in [from, to] — with a checkpoint at
    * from−1 this is the entire read cost of the log, independent of
    * total history length. */
  private def commitsInRange(f: FileSystem, table: String,
                             from: Long, to: Long): Seq[Commit] =
    commitVersions(f, table).filter(v => v >= from && v <= to)
      .map(v => parseCommit(readFully(f, commitPath(table, v))))

  /** Snapshot state (live dirs, schema JSON) at `version`: latest
    * checkpoint at-or-below it plus the log tail; full replay only
    * when no checkpoint covers the version. */
  private def resolveState(spark: SparkSession, table: String,
                           version: Long): (Seq[String], Option[String]) = {
    val f = fs(spark, table)
    latestCheckpoint(spark, table).filter(_.version <= version) match {
      case Some(k) =>
        val tail = commitsInRange(f, table, k.version + 1, version)
        val live = tail.foldLeft(k.live.toVector) {
          (l, c) => l.filterNot(c.remove.contains) ++ c.add
        }
        val schema = tail.filter(_.schema.nonEmpty).lastOption.map(_.schema)
          .orElse(Option(k.schema).filter(_.nonEmpty))
        (live, schema)
      case None =>
        val commits = history(spark, table)
        (liveDirs(commits, version), schemaAt(commits, version).map(_.json))
    }
  }

  /** Materialize a checkpoint at the current head; returns its version.
    * After this, every read at-or-above the head parses only commits
    * AFTER it — at 10⁶-commit logs that is the difference between one
    * JSON read and a million. The `_last` pointer is replaced via
    * tmp+rename (readers never see partial JSON); a stale pointer
    * under-reports and stays safe, like the vacuum marker. Checkpoints
    * also make the log PREFIX disposable for current reads (an
    * aggressive log retention could drop it, Delta-style). */
  def checkpoint(spark: SparkSession, table: String): Long =
    lockFor(table).synchronized {
      val f = fs(spark, table)
      val head = latestVersion(spark, table)
        .getOrElse(sys.error(s"no commits at $table"))
      val (live, schema) = resolveState(spark, table, head)
      val k = Checkpoint(head, live, schema.getOrElse(""),
        System.currentTimeMillis())
      f.mkdirs(checkpointsDir(table))
      writeAtomic(f, checkpointsDir(table), checkpointPath(table, head),
        renderCheckpoint(k))
      // only repoint the marker at a checkpoint file that actually
      // exists (writeAtomic also returns false for already-exists,
      // which is fine — a re-checkpoint at the same head); a failed
      // rename must NOT leave the marker dangling
      require(f.exists(checkpointPath(table, head)),
        s"checkpoint file write failed at version $head")
      val marker = lastCheckpointPath(table)
      if (f.exists(marker)) f.delete(marker, false)
      require(writeAtomic(f, checkpointsDir(table), marker,
        s"""{"version":$head}"""),
        s"checkpoint marker write failed at $table")
      head
    }

  /** Declared table schema as of version v (the latest commit carrying
    * one). Reads apply THIS schema rather than merging parquet footers:
    * O(1) in file count, and file groups written before a column was
    * added surface NULL for it — the Delta metaData-action discipline. */
  private def schemaAt(commits: Seq[Commit], v: Long): Option[StructType] =
    commits.filter(c => c.version <= v && c.schema.nonEmpty).lastOption
      .map(c => DataType.fromJson(c.schema).asInstanceOf[StructType])

  /** Same (name → type) mapping, order-free — plain `append` must not
    * silently fork the schema; widening goes through [[appendEvolving]]. */
  private def requireCompatible(current: Option[StructType],
                                incoming: StructType): Unit =
    current.foreach { cur =>
      val a = cur.fields.map(f => f.name -> f.dataType).toMap
      val b = incoming.fields.map(f => f.name -> f.dataType).toMap
      require(a == b,
        s"append schema mismatch: table has ${a.keySet.toSeq.sorted}, " +
          s"incoming ${b.keySet.toSeq.sorted} (use appendEvolving to add columns)")
    }

  /** Snapshot at `version` (time travel). Fails loudly for a version
    * past the head or behind the vacuum horizon. */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame = {
    val head = latestVersion(spark, table)
      .getOrElse(sys.error(s"no commits at $table"))
    require(version <= head, s"version $version > head $head")
    require(version >= minReadableVersion(spark, table),
      s"version $version vacuumed (min readable " +
        s"${minReadableVersion(spark, table)})")
    val (dirs, schemaJson) = resolveState(spark, table, version)
    // every commit op adds exactly one file group, so a readable
    // version always has at least one live dir
    require(dirs.nonEmpty, s"version $version has no live file groups")
    val (dvDirs, dataDirs2) = dirs.partition(isDv)
    require(dataDirs2.nonEmpty, s"version $version has no live data groups")
    val base = readGroups(spark, table, schemaJson, dataDirs2)
    if (dvDirs.isEmpty) base
    else applyDvs(spark, table, withRowIdentity(base), dvDirs)
      .drop(DvFileCol, DvPosCol)
  }

  /** Snapshot as of a wall-clock instant — the reference's
    * `load_with_datetime` (delta_table_rs.py:16-25): the LAST commit
    * whose (monotonicized) timestamp is ≤ `tsMillis`. Commit clocks
    * are stamped under the table lock but a skewed clock could still
    * regress, so the effective timestamp is the running max across
    * versions — Delta's own commit-time monotonicization. */
  def readAsOf(spark: SparkSession, table: String, tsMillis: Long): DataFrame = {
    val commits = history(spark, table)
    require(commits.nonEmpty, s"no commits at $table")
    var eff = Long.MinValue
    val stamped = commits.map { c => eff = math.max(eff, c.ts); (c.version, eff) }
    val at = stamped.takeWhile(_._2 <= tsMillis).lastOption.getOrElse(
      sys.error(s"no version at or before ts=$tsMillis " +
        s"(earliest commit ts=${stamped.head._2})"))
    readVersion(spark, table, at._1)
  }

  /** Latest snapshot. */
  def read(spark: SparkSession, table: String): DataFrame =
    readVersion(spark, table, latestVersion(spark, table)
      .getOrElse(sys.error(s"no commits at $table")))

  /** File groups `dirs` of `table` read under the commit log's schema.
    * A log written before commits carried a schema falls back to the
    * footer schema ([[graft.ParquetMeta.read]]). */
  private def readGroups(spark: SparkSession, table: String,
                         schemaJson: Option[String], dirs: Seq[String]): DataFrame = {
    val paths = dirs.map(d => new Path(dataDir(table), d).toString)
    schemaJson match {
      case Some(s) => spark.read
        .schema(DataType.fromJson(s).asInstanceOf[StructType]).parquet(paths: _*)
      case None => graft.ParquetMeta.read(spark, paths: _*)
    }
  }

  /** Write df as a new immutable file group; returns its dir name. */
  private def writeGroup(spark: SparkSession, table: String, df: DataFrame): String = {
    val name = java.util.UUID.randomUUID().toString
    df.write.parquet(new Path(dataDir(table), name).toString)
    name
  }

  // ---- deletion vectors (merge-on-read row-level delete) ----

  /** A deletion-vector group is a live dir like any other in the commit
    * log (so checkpointing, vacuum, and history replay need no format
    * change), distinguished purely by this name prefix. Its parquet
    * holds (__dv_file, __dv_pos) = (scan-reported file path, row index
    * within that file) of retired rows. */
  private val DvPrefix = "dv-"
  private[graft] def isDv(name: String): Boolean = name.startsWith(DvPrefix)
  private val DvFileCol = "__dv_file"
  private val DvPosCol = "__dv_pos"

  private def writeDvGroup(spark: SparkSession, table: String,
                           dv: DataFrame): String = {
    val name = DvPrefix + java.util.UUID.randomUUID().toString
    dv.write.parquet(new Path(dataDir(table), name).toString)
    name
  }

  /** Base scan widened with the row identity the DV contract keys on:
    * the file path and within-file row index Spark's parquet scan
    * exposes through the `_metadata` struct (stable across re-reads of
    * the same immutable files — exactly what a file group is). */
  private def withRowIdentity(base: DataFrame): DataFrame =
    base.select(col("*"),
      col("_metadata.file_path").as(DvFileCol),
      col("_metadata.row_index").as(DvPosCol))

  /** Apply live deletion vectors to a row-identity-widened scan: one
    * left-anti join on (file, pos). DVs are a small fraction of the
    * table by design (a large delete should be an overwrite), so at
    * scale this is a broadcast anti-join against an unshuffled scan. */
  private def applyDvs(spark: SparkSession, table: String,
                       withIdentity: DataFrame,
                       dvDirs: Seq[String]): DataFrame = {
    // explicit schema: a predicate matching nothing commits a DV group
    // with zero part files, which must read as zero rows, not as a
    // schema-inference failure
    val dvSchema = StructType(Seq(
      StructField(DvFileCol, org.apache.spark.sql.types.StringType),
      StructField(DvPosCol, org.apache.spark.sql.types.LongType)))
    val dv = spark.read.schema(dvSchema).parquet(
        dvDirs.map(d => new Path(dataDir(table), d).toString): _*)
      .select(col(DvFileCol), col(DvPosCol))
    withIdentity.join(dv, Seq(DvFileCol, DvPosCol), "left_anti")
  }

  /** Row-level DELETE as merge-on-read (Delta deletion vectors /
    * Iceberg position deletes): rows of the current snapshot matching
    * `predicate` are retired by COMMITTING ONLY THEIR POSITIONS — no
    * data file is rewritten, so a needle-in-100-TB delete costs one
    * filtered scan plus a KB-scale DV write instead of a table rewrite.
    * Reads anti-join live DVs; [[compact]] (or any overwrite/upsert,
    * whose remove set is the whole live set) MATERIALIZES the deletes
    * and clears the vectors. Read-modify-write conflict discipline as
    * [[upsert]]: the matched positions derive from a base version, so
    * an interleaved commit forces a re-derive, never a silent rebase. */
  def delete(spark: SparkSession, table: String, predicate: Column): Long =
    lockFor(table).synchronized {
      var attempt = 0
      while (attempt < 5) {
        val st = logState(spark, table)
        require(st.head.nonEmpty, s"no commits at $table")
        val (dvDirs, dataDirs2) = st.live.partition(isDv)
        require(dataDirs2.nonEmpty, s"no live data groups at $table")
        val scan = withRowIdentity(
          readGroups(spark, table, st.schemaJson, dataDirs2))
        // match against LIVE rows only: positions an earlier DV already
        // retired must not reappear in the new vector (keeps per-row
        // delete multiplicity exact for the change feed)
        val alive = if (dvDirs.isEmpty) scan
          else applyDvs(spark, table, scan, dvDirs)
        val matches = alive.filter(predicate)
          .select(col(DvFileCol), col(DvPosCol))
        val grp = writeDvGroup(spark, table, matches)
        raceInjection(); raceInjection = () => ()
        try {
          return commit(spark, table, { s =>
            if (s.head != st.head) throw new CommitConflict
            Commit(s.next, "delete", Seq(grp), Nil,
              schema = st.schemaJson.getOrElse(""))
          })
        } catch { case _: CommitConflict => attempt += 1 }
      }
      sys.error(s"delete lost the data race 5 times at $table")
    }

  // ---- per-group key statistics (zonemap sidecars) ----

  private def statsPath(table: String, grp: String) =
    new Path(new Path(dataDir(table), grp), "_key_stats.json")

  /** Is this a key type the zonemap contract covers (castable to long
    * losslessly)? Non-integral keys simply get no sidecar — unprunable
    * but always correct. */
  private def integralKey(df: DataFrame, keyCol: String): Boolean =
    df.schema.find(_.name == keyCol).map(_.dataType).exists {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }

  /** Write df as a file group AND a `_key_stats.json` sidecar holding
    * the min/max of `keyCol` — the group is self-describing, so no
    * commit-log or checkpoint format change is needed and pruning
    * reads are O(live groups). The range comes from the row-group
    * statistics in the footers just written ([[graft.ParquetMeta.keyRange]]):
    * driver-side metadata, no scan job, and no re-run of df's plan.
    * When that range is unknown — an empty group, an all-null key, a
    * row group without key statistics — no sidecar is written, which
    * reads as always-overlapping (the safe default). */
  private def writeGroupWithStats(spark: SparkSession, table: String,
                                  df: DataFrame, keyCol: String): String = {
    val name = writeGroup(spark, table, df)
    if (!integralKey(df, keyCol)) return name // no sidecar: unprunable
    val grp = new Path(dataDir(table), name)
    graft.ParquetMeta.keyRange(spark, grp.toString, keyCol).foreach { case (lo, hi) =>
      writeAtomic(fs(spark, table), grp, statsPath(table, name),
        s"""{"key":${graft.Json.str(keyCol)},"min":$lo,"max":$hi}""")
    }
    name
  }

  /** (min, max) of the declared key for a live group, if the group
    * carries a sidecar FOR THAT KEY; None = unknown = must rewrite. */
  def groupKeyRange(spark: SparkSession, table: String, grp: String,
                    keyCol: String): Option[(Long, Long)] = {
    val f = fs(spark, table)
    val p = statsPath(table, grp)
    if (!f.exists(p)) None
    else {
      val n = mapper.readTree(readFully(f, p))
      if (n.get("key").asText() != keyCol) None
      else Some((n.get("min").asLong(), n.get("max").asLong()))
    }
  }

  /** What a committer needs to know about the current log — resolved
    * checkpoint-aware, so the write path is also O(tail). */
  private final case class LogState(head: Option[Long], live: Seq[String],
                                    schemaJson: Option[String]) {
    def next: Long = head.map(_ + 1).getOrElse(0L)
    def schemaStruct: Option[StructType] =
      schemaJson.map(s => DataType.fromJson(s).asInstanceOf[StructType])
  }

  private def logState(spark: SparkSession, table: String): LogState =
    latestVersion(spark, table) match {
      case None => LogState(None, Nil, None)
      case h @ Some(v) =>
        val (live, sch) = resolveState(spark, table, v)
        LogState(h, live, sch)
    }

  /** Thrown by a read-modify-write committer when the log head moved
    * under its feet — the DATA it wrote derives from a stale base, so
    * rebasing the version number alone would silently drop the
    * interleaved commit (a lost update). The caller re-derives. */
  private final class CommitConflict extends RuntimeException

  /** Test seam: invoked by read-modify-write ops between materializing
    * their output group and committing — a spec injects an interleaved
    * commit here to exercise the conflict-redo path (the in-process
    * lock is reentrant, so the injection can commit from the same
    * thread, exactly like another process would from outside). */
  private[graft] var raceInjection: () => Unit = () => ()

  /** Commit with version-race retry: `mkCommit` sees the refreshed
    * log state each attempt (an overwrite must recompute its remove
    * set if it lost the race). A [[CommitConflict]] thrown by
    * `mkCommit` propagates — data-level conflicts redo OUTSIDE. */
  private def commit(spark: SparkSession, table: String,
                     mkCommit: LogState => Commit): Long =
    lockFor(table).synchronized {
      val f = fs(spark, table)
      f.mkdirs(commitsDir(table))
      var attempt = 0
      while (attempt < 20) {
        val c = mkCommit(logState(spark, table))
          .copy(ts = System.currentTimeMillis())
        if (writeAtomic(f, commitsDir(table), commitPath(table, c.version),
            renderCommit(c)))
          return c.version
        attempt += 1
      }
      sys.error(s"lost the commit race 20 times at $table")
    }

  /** Append-commit; returns the new version. Schema must match the
    * table's (order-free) — additive widening is [[appendEvolving]]. */
  def append(spark: SparkSession, table: String, df: DataFrame): Long = {
    val grp = writeGroup(spark, table, df)
    commit(spark, table, { s =>
      val cur = s.schemaStruct
      requireCompatible(cur, df.schema)
      Commit(s.next, "append", Seq(grp), Nil,
        schema = cur.getOrElse(df.schema).json)
    })
  }

  /** Highest transaction id recorded in the log, scanning NEWEST-first
    * and stopping at the first hit — a streaming sink commits txns on
    * every batch, so the scan is O(1) in steady state (worst case one
    * pass over the log tail for a table that never saw a txn). */
  def lastTxn(spark: SparkSession, table: String): Long = {
    val f = fs(spark, table)
    commitVersions(f, table).reverseIterator
      .map(v => parseCommit(readFully(f, commitPath(table, v))).txn)
      .find(_ >= 0L)
      .getOrElse(-1L)
  }

  /** Idempotent append keyed by a monotone transaction id (Delta's
    * `txn` action — the exactly-once contract a Structured Streaming
    * foreachBatch sink needs): if `txn` is at or below the last
    * recorded txn the batch is a REPLAY and nothing is committed
    * (returns None); otherwise appends and records the txn in the
    * commit. The check and the commit share the table lock, so two
    * in-process replays cannot both pass the gate. */
  def appendOnce(spark: SparkSession, table: String, df: DataFrame,
                 txn: Long): Option[Long] = {
    require(txn >= 0L, "txn ids are non-negative and monotone")
    lockFor(table).synchronized {
      if (txn <= lastTxn(spark, table)) None
      else {
        val grp = writeGroup(spark, table, df)
        Some(commit(spark, table, { s =>
          val cur = s.schemaStruct
          requireCompatible(cur, df.schema)
          Commit(s.next, "append", Seq(grp), Nil,
            schema = cur.getOrElse(df.schema).json, txn = txn)
        }))
      }
    }
  }

  /** Schema-evolving append (Delta addNewColumns / the reference's
    * merge-with-evolution): incoming NEW columns widen the declared
    * schema; incoming may also omit existing columns. Existing rows
    * read NULL for added columns (schema-at-version read, no rewrite);
    * a type CONFLICT on a shared column fails loudly. */
  def appendEvolving(spark: SparkSession, table: String, df: DataFrame): Long = {
    val grp = writeGroup(spark, table, df)
    commit(spark, table, { s =>
      val cur = s.schemaStruct
      val evolved = cur match {
        case None => df.schema
        case Some(c) =>
          val have = c.fields.map(f => f.name -> f.dataType).toMap
          df.schema.fields.foreach(f => have.get(f.name).foreach(t =>
            require(t == f.dataType,
              s"column ${f.name}: incoming ${f.dataType} conflicts with $t")))
          StructType(c.fields ++
            df.schema.fields.filterNot(f => have.contains(f.name)))
      }
      Commit(s.next, "append", Seq(grp), Nil, schema = evolved.json)
    })
  }

  /** Overwrite-commit: the new snapshot (and schema) is exactly `df`. */
  def overwrite(spark: SparkSession, table: String, df: DataFrame): Long = {
    val grp = writeGroup(spark, table, df)
    commit(spark, table, s =>
      Commit(s.next, "overwrite", Seq(grp), s.live,
        schema = df.schema.json))
  }

  /** Copy-on-write keyed MERGE (upsert): rows of the current snapshot
    * whose key matches a change row are replaced; unmatched change rows
    * insert. Committed as one atomic version. At 100 TB the rewrite
    * narrows the same way [[graft.operators.MergeUpsert]] does — the
    * anti-join's key-range filter reaches the parquet scan — and a
    * file-level optimization would rewrite only overlapping groups;
    * richer changeset semantics (ordered dedup, deletes, evolution)
    * compose as `overwrite(MergeUpsert.apply(read(...), ...))`. */
  def upsert(spark: SparkSession, table: String, changes: DataFrame,
             keyCols: Seq[String]): Long =
    // read-modify-write: the table lock serializes in-process writers;
    // ACROSS processes the optimistic redo below detects an
    // interleaved commit (head moved since the merge read its base)
    // and re-derives the merge — Delta's conflict-detection discipline.
    // A lost race's orphan group is reclaimed by vacuum.
    lockFor(table).synchronized {
      var attempt = 0
      while (attempt < 5) {
        val baseHead = latestVersion(spark, table)
        val merged = read(spark, table)
          .join(changes.select(keyCols.map(col): _*), keyCols, "left_anti")
          .unionByName(changes)
        // materialize BEFORE the commit decides: the merged plan reads
        // the current snapshot, which the commit is about to retire
        val grp = writeGroup(spark, table, merged)
        raceInjection(); raceInjection = () => ()
        try {
          return commit(spark, table, { s =>
            if (s.head != baseHead) throw new CommitConflict
            Commit(s.next, "upsert", Seq(grp), s.live,
              schema = merged.schema.json)
          })
        } catch { case _: CommitConflict => attempt += 1 }
      }
      sys.error(s"upsert lost the data race 5 times at $table")
    }

  /** Keyed append that also writes the group's `_key_stats.json`
    * zonemap sidecar, making it prunable by [[upsertPruned]]. */
  def appendKeyed(spark: SparkSession, table: String, df: DataFrame,
                  keyCol: String): Long = {
    val grp = writeGroupWithStats(spark, table, df, keyCol)
    commit(spark, table, { s =>
      val cur = s.schemaStruct
      requireCompatible(cur, df.schema)
      Commit(s.next, "append", Seq(grp), Nil,
        schema = cur.getOrElse(df.schema).json)
    })
  }

  /** File-group-pruned MERGE — the optimization [[upsert]]'s docstring
    * promises: only live groups whose key ZONEMAP overlaps the
    * changeset's [min, max] are rewritten; disjoint groups stay in the
    * live set byte-identical (no read, no write). On a key-clustered
    * 100 TB table an incremental batch therefore costs
    * O(overlapping groups + changes), not O(table) — Delta's
    * file-skipping MERGE, with the group sidecars playing the role of
    * per-file stats. Groups WITHOUT a sidecar for `keyCol` (written by
    * plain [[append]], schema evolution, or a different key) count as
    * always-overlapping — pruning can only skip provably-disjoint
    * groups, never change the result. Returns
    * (version, rewrittenGroups, skippedGroups). */
  def upsertPruned(spark: SparkSession, table: String, changes: DataFrame,
                   keyCol: String): (Long, Int, Int) =
    lockFor(table).synchronized {
      require(integralKey(changes, keyCol),
        s"zonemap key '$keyCol' must be an integral column " +
          "(the sidecar contract); use upsert() for other key types")
      val ch = changes.localCheckpoint() // range scan + merge, one eval
      val mm = ch.agg(min(col(keyCol)).cast("long"),
        max(col(keyCol)).cast("long")).collect()(0)
      require(!mm.isNullAt(0), "empty or all-null-key changeset")
      val (clo, chi) = (mm.getLong(0), mm.getLong(1))
      var attempt = 0
      while (attempt < 5) {
        val st = logState(spark, table)
        // same contract as append: the changeset must match the
        // declared schema (an unchecked union would silently drop
        // new columns or pin a type the committed data doesn't have)
        requireCompatible(st.schemaStruct, ch.schema)
        // DV groups are not data: they never partition as rewrite
        // candidates (their parquet is positions, not table rows) and
        // they STAY LIVE — a vector retiring rows in a skipped group
        // must keep retiring them after the merge. Vectors over
        // rewritten groups go stale harmlessly (the files are gone, the
        // anti-join matches nothing) until compaction clears them.
        val (dvDirs, dataLive) = st.live.partition(isDv)
        val (overlap, skip) = dataLive.partition { g =>
          groupKeyRange(spark, table, g, keyCol) match {
            case Some((lo, hi)) => hi >= clo && lo <= chi
            case None           => true // unknown stats: must rewrite
          }
        }
        val base = if (overlap.isEmpty) None
          else {
            val scan = readGroups(spark, table, st.schemaJson, overlap)
            Some(if (dvDirs.isEmpty) scan
              else applyDvs(spark, table, withRowIdentity(scan), dvDirs)
                .drop(DvFileCol, DvPosCol))
          }
        val merged = base match {
          case Some(b) =>
            b.join(ch.select(col(keyCol)), Seq(keyCol), "left_anti")
              .unionByName(ch)
          case None => ch
        }
        val grp = writeGroupWithStats(spark, table, merged, keyCol)
        raceInjection(); raceInjection = () => ()
        try {
          val v = commit(spark, table, { s =>
            if (s.head != st.head) throw new CommitConflict
            Commit(s.next, "upsert", Seq(grp), overlap,
              schema = s.schemaJson.getOrElse(merged.schema.json))
          })
          return (v, overlap.size, skip.size)
        } catch { case _: CommitConflict => attempt += 1 }
      }
      sys.error(s"pruned merge lost the data race 5 times at $table")
    }

  /** Compaction commit: rewrite the live snapshot into ONE file group —
    * a logical no-op, physical consolidation (the reference's
    * autocompact job, DataEngineering/DataBricks/autocompact_delta.py:
    * OPTIMIZE on a cadence). Serialized with other read-modify-write
    * commits by the table lock (intrinsic locks are reentrant, so the
    * inner commit's lock nests); earlier versions still time-travel —
    * their groups are only reclaimed by [[vacuum]]. */
  def compact(spark: SparkSession, table: String): Long =
    lockFor(table).synchronized {
      var attempt = 0
      while (attempt < 5) {
        val baseHead = latestVersion(spark, table)
        val snap = read(spark, table)
        val grp = writeGroup(spark, table, snap)
        raceInjection(); raceInjection = () => ()
        try {
          return commit(spark, table, { s =>
            if (s.head != baseHead) throw new CommitConflict
            Commit(s.next, "compact", Seq(grp), s.live,
              schema = snap.schema.json)
          })
        } catch { case _: CommitConflict => attempt += 1 }
      }
      sys.error(s"compact lost the data race 5 times at $table")
    }

  /** Row-level change feed between two versions — Delta CDF's read
    * side, computed at FILE-GROUP granularity: only groups that
    * entered or left the live set between the versions are scanned
    * (a pure-append range reads just the appended groups and emits
    * them as inserts with ZERO diff work; the full-snapshot-diff
    * alternative would rescan the table). Multiset semantics via
    * exceptAll: an upserted key shows as delete(old row) +
    * insert(new row); a compaction (same rows, different groups)
    * correctly shows as no change. Output = data columns +
    * `_change_type` ('insert' | 'delete'). */
  def changesBetween(spark: SparkSession, table: String,
                     fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, "change feed runs forward")
    // same loud guards as readVersion: a past-head toVersion would
    // silently return a mislabeled head diff, a vacuumed fromVersion
    // would die mid-scan on missing paths
    val head = latestVersion(spark, table)
      .getOrElse(sys.error(s"no commits at $table"))
    require(toVersion <= head, s"toVersion $toVersion > head $head")
    require(fromVersion >= minReadableVersion(spark, table),
      s"fromVersion $fromVersion vacuumed (min readable " +
        s"${minReadableVersion(spark, table)})")
    val (beforeDirs, _) = resolveState(spark, table, fromVersion)
    val (afterDirs, afterSchema) = resolveState(spark, table, toVersion)
    // a deletion vector retires rows INSIDE still-live groups, so the
    // group-granular diff below cannot see it; DV-bearing endpoints
    // fall back to a full snapshot diff (readVersion applies the DVs).
    // The fast path is untouched for DV-free tables, and row-level
    // deletes are intrinsically per-row work anyway.
    if ((beforeDirs ++ afterDirs).exists(isDv)) {
      val afterDf = readVersion(spark, table, toVersion)
      val beforeRaw = readVersion(spark, table, fromVersion)
      val have = beforeRaw.columns.toSet
      // before-side read under the TO-version schema, like the fast path
      val beforeDf = beforeRaw.select(afterDf.schema.fields.map(f =>
        if (have.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
      return afterDf.exceptAll(beforeDf)
          .withColumn("_change_type", lit("insert"))
        .unionByName(beforeDf.exceptAll(afterDf)
          .withColumn("_change_type", lit("delete")))
    }
    val before = beforeDirs.toSet
    val after = afterDirs.toSet
    // both sides read under the TO-version schema so exceptAll stays
    // well-typed across schema evolution (old groups surface nulls)
    def readDirs(dirs: Set[String]): Option[DataFrame] =
      if (dirs.isEmpty) None
      else Some(readGroups(spark, table, afterSchema, dirs.toSeq.sorted))
    val added = readDirs(after -- before)
    val removed = readDirs(before -- after)
    val inserts = (added, removed) match {
      case (Some(a), Some(r)) => Some(a.exceptAll(r))
      case (Some(a), None)    => Some(a)
      case _                  => None
    }
    val deletes = (added, removed) match {
      case (Some(a), Some(r)) => Some(r.exceptAll(a))
      case (None, Some(r))    => Some(r)
      case _                  => None
    }
    val tagged =
      inserts.map(_.withColumn("_change_type", lit("insert"))).toSeq ++
        deletes.map(_.withColumn("_change_type", lit("delete"))).toSeq
    require(tagged.nonEmpty || fromVersion == toVersion,
      s"no commits between $fromVersion and $toVersion")
    tagged.reduceOption(_ unionByName _).getOrElse {
      readVersion(spark, table, toVersion).limit(0)
        .withColumn("_change_type", lit(""))
    }
  }

  /** Drop history: keep the last `retainVersions` versions readable,
    * delete every data dir no retained version references, and advance
    * the vacuum horizon. Returns the deleted dir names. Commit JSONs
    * are kept (the log stays an audit trail, Delta-style); reads below
    * the horizon fail loudly. */
  /** @param minAgeMillis unreferenced dirs younger than this survive —
    *   Delta's retention-threshold discipline. A writer stages its file
    *   group with a multi-second Spark job BEFORE taking the commit
    *   lock, so a zero threshold could delete an in-flight group and
    *   corrupt the commit about to reference it; the default outlives
    *   any realistic stage-to-commit gap. Tests that build and vacuum
    *   in one breath pass 0 explicitly. */
  def vacuum(spark: SparkSession, table: String, retainVersions: Int,
             minAgeMillis: Long = 20L * 60 * 1000): Seq[String] = {
    require(retainVersions >= 1, "must retain at least the head version")
    lockFor(table).synchronized {
      val f = fs(spark, table)
      val headOpt = latestVersion(spark, table)
      if (headOpt.isEmpty) return Nil
      val head = headOpt.get
      val horizon = math.max(minReadableVersion(spark, table),
        head - retainVersions + 1)
      // checkpoint-AWARE resolution, like the read path: a raw log
      // replay here would miss groups a checkpoint carries for a
      // table whose covered log prefix was dropped, and delete LIVE
      // data. ONE resolve at the horizon, then a single fold over the
      // tail accumulating the union of live sets (not a resolve per
      // retained version — that is O(retain × tail) small-file reads).
      val base = resolveState(spark, table, horizon)._1
      val tail = commitsInRange(f, table, horizon + 1, head)
      val (needed, _) = tail.foldLeft((base.toSet, base.toVector)) {
        case ((union, live), c) =>
          val next = live.filterNot(c.remove.contains) ++ c.add
          (union ++ next, next)
      }
      val now = System.currentTimeMillis()
      val all = if (f.exists(dataDir(table)))
        f.listStatus(dataDir(table)).toSeq else Nil
      val doomed = all
        .filterNot(s => needed.contains(s.getPath.getName))
        .filter(s => now - s.getModificationTime >= minAgeMillis)
        .map(_.getPath.getName)
      // fence readers FIRST: if the marker write fails, abort before
      // deleting anything (a deleted dir with an unadvanced horizon
      // would fail deep in a scan instead of loudly at the guard)
      val marker = vacuumPath(table)
      if (f.exists(marker)) f.delete(marker, false)
      require(writeAtomic(f, commitsDir(table), marker,
        s"""{"min_readable_version":$horizon}"""),
        s"vacuum horizon marker write failed at $table")
      doomed.foreach(d => f.delete(new Path(dataDir(table), d), true))
      doomed
    }
  }

  // ---- query-map entry (hash-gated) ----

  /** Gated time-travel instance: builds a 4-version table from orders
    * and reads EVERY version back — v0 append (pre-1995), v1 append
    * (1995–96), v2 keyed upsert (doubles cents for o_orderkey%97==0
    * keys, inserts 1997+), v3 overwrite (1998 slice only) — one output
    * row per version with exact aggregates. Any cross-version leakage
    * (time travel reconstructing the wrong live set) breaks the hash;
    * the DuckDB oracle recomputes each snapshot's content directly
    * from orders. The table is rebuilt deterministically per call
    * under java.io.tmpdir, so the query also exercises the write path
    * (reference anchor: delta_table_rs.py's `load_version`). */
  private[graft] def ordersFrame(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderdate").as("d"))

  /** Build the canonical 4-version demo table (append pre-1995, append
    * 1995–96, upsert doubling %97 keys + inserting 1997+, overwrite
    * with the 1998 slice) under a per-invocation UNIQUE tmp path
    * ([[graft.TmpPaths.unique]]), rebuilt each call so every gated run
    * exercises the whole write path. Unique paths (not fixed
    * per-(dir,suffix) names) keep concurrent drivers — Verify and
    * Bench over the same data dir — from racing on delete/append/read. */
  private[graft] def buildOrdersTable(spark: SparkSession, dir: String,
                               suffix: String): String = {
    val table = graft.TmpPaths.unique(s"graft_vtable_${suffix}")
    val o = ordersFrame(spark, dir)
    val d95 = lit("1995-01-01").cast("date")
    val d97 = lit("1997-01-01").cast("date")
    val d98 = lit("1998-01-01").cast("date")
    append(spark, table, o.filter(col("d") < d95))
    append(spark, table, o.filter(col("d") >= d95 && col("d") < d97))
    val changes = o.filter(col("d") < d97 && col("k") % 97 === 0)
        .withColumn("cents", col("cents") * 2)
      .unionByName(o.filter(col("d") >= d97))
    upsert(spark, table, changes, Seq("k"))
    overwrite(spark, table, o.filter(col("d") >= d98))
    table
  }

  /** Gated checkpoint instance: same 4-version table, but a checkpoint
    * is materialized at v1 — so v0/v1 resolve by full replay (below /
    * at the checkpoint is the degenerate tail) and v2/v3 resolve as
    * checkpoint + 1-commit and + 2-commit tails. Every version must
    * read back IDENTICALLY to the no-checkpoint table (the oracle is
    * the same per-era recomputation) — the hash breaks if checkpoint
    * state capture or tail replay diverges from log replay in any way. */
  def tableCheckpoint(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.TmpPaths.unique("graft_vtable_ck")
    val o = ordersFrame(spark, dir)
    val d95 = lit("1995-01-01").cast("date")
    val d97 = lit("1997-01-01").cast("date")
    val d98 = lit("1998-01-01").cast("date")
    append(spark, table, o.filter(col("d") < d95))
    append(spark, table, o.filter(col("d") >= d95 && col("d") < d97))
    checkpoint(spark, table)
    val changes = o.filter(col("d") < d97 && col("k") % 97 === 0)
        .withColumn("cents", col("cents") * 2)
      .unionByName(o.filter(col("d") >= d97))
    upsert(spark, table, changes, Seq("k"))
    overwrite(spark, table, o.filter(col("d") >= d98))
    (0L to 3L).map { v =>
      readVersion(spark, table, v).agg(
        count(lit(1)).as("n_rows"),
        sum("cents").cast("long").as("sum_cents"),
        min("k").cast("long").as("min_key"),
        max("k").cast("long").as("max_key"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_cents"),
          col("min_key"), col("max_key"))
    }.reduce(_ unionByName _)
  }

  /** Same per-era recomputation as the time-travel oracle — a
    * checkpointed table must read identically. */
  def checkpointOracleSql: String = oracleSql

  /** Gated pruned-MERGE instance: three keyed appends of DISJOINT
    * orderkey thirds, then a changeset confined to the middle third
    * (double cents where k % 7 == 0). The zonemap sidecars must prune
    * exactly the outer thirds — `groups_rewritten`/`groups_skipped`
    * are IN the hashed output (1 and 2), so the gate breaks if pruning
    * ever rewrites a disjoint group or skips an overlapping one — and
    * the final snapshot must equal the SQL recomputation per third. */
  def tableMergePruned(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.TmpPaths.unique("graft_vtable_mp")
    val o = ordersFrame(spark, dir).select(col("k"), col("cents"))
    val m = o.agg(max(col("k"))).collect()(0).getLong(0)
    val (t1, t2) = (m / 3, 2 * m / 3)
    appendKeyed(spark, table, o.filter(col("k") <= t1), "k")
    appendKeyed(spark, table,
      o.filter(col("k") > t1 && col("k") <= t2), "k")
    appendKeyed(spark, table, o.filter(col("k") > t2), "k")
    val changes = o.filter(col("k") > t1 && col("k") <= t2
        && col("k") % 7 === 0)
      .withColumn("cents", col("cents") * 2)
    val (_, rewritten, skipped) = upsertPruned(spark, table, changes, "k")
    read(spark, table)
      .select(
        when(col("k") <= t1, 1).when(col("k") <= t2, 2).otherwise(3)
          .as("third"),
        col("cents"))
      .groupBy("third")
      .agg(count(lit(1)).as("n_rows"), sum("cents").cast("long").as("sum_cents"))
      .withColumn("groups_rewritten", lit(rewritten))
      .withColumn("groups_skipped", lit(skipped))
  }

  def mergePrunedOracleSql: String =
    """WITH b AS (SELECT max(o_orderkey) AS m FROM orders),
      |o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), fin AS (
      |  SELECT k,
      |    CASE WHEN k > b.m // 3 AND k <= 2 * b.m // 3 AND k % 7 = 0
      |      THEN 2 * cents ELSE cents END AS cents,
      |    CASE WHEN k <= b.m // 3 THEN 1
      |      WHEN k <= 2 * b.m // 3 THEN 2 ELSE 3 END AS third
      |  FROM o CROSS JOIN b
      |)
      |SELECT third, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  1 AS groups_rewritten, 2 AS groups_skipped
      |FROM fin GROUP BY third""".stripMargin

  def tableTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val table = buildOrdersTable(spark, dir, "tt")
    (0L to 3L).map { v =>
      readVersion(spark, table, v).agg(
        count(lit(1)).as("n_rows"),
        sum("cents").cast("long").as("sum_cents"),
        min("k").cast("long").as("min_key"),
        max("k").cast("long").as("max_key"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_cents"),
          col("min_key"), col("max_key"))
    }.reduce(_ unionByName _)
  }

  def oracleSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    o_orderdate AS d
      |  FROM orders
      |), s0 AS (
      |  SELECT * FROM o WHERE d < DATE '1995-01-01'
      |), s1 AS (
      |  SELECT * FROM o WHERE d < DATE '1997-01-01'
      |), s2 AS (
      |  SELECT k, CASE WHEN k % 97 = 0 THEN 2 * cents ELSE cents END AS cents
      |  FROM o WHERE d < DATE '1997-01-01'
      |  UNION ALL
      |  SELECT k, cents FROM o WHERE d >= DATE '1997-01-01'
      |), s3 AS (
      |  SELECT * FROM o WHERE d >= DATE '1998-01-01'
      |)
      |SELECT CAST(0 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key
      |FROM s0
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
      |  CAST(sum(cents) AS BIGINT), CAST(min(k) AS BIGINT), CAST(max(k) AS BIGINT)
      |FROM s1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
      |  CAST(sum(cents) AS BIGINT), CAST(min(k) AS BIGINT), CAST(max(k) AS BIGINT)
      |FROM s2
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
      |  CAST(sum(cents) AS BIGINT), CAST(min(k) AS BIGINT), CAST(max(k) AS BIGINT)
      |FROM s3""".stripMargin

  // ---- query-map entry (hash-gated) ----

  /** Gated change-feed instance: the CDC read over each transition of
    * the 4-version demo table, aggregated per change type. The v1→v2
    * upsert must surface as delete(old)+insert(new) for the doubled
    * keys plus inserts for the new era; v2→v3's overwrite as the
    * retirement of everything pre-1998. Group-granular diff: the
    * append transition scans ONLY the appended group. The DuckDB
    * oracle recomputes each diff with EXCEPT ALL over the same
    * snapshots. */
  def tableChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val table = buildOrdersTable(spark, dir, "cdc")
    Seq((0L, 1L), (1L, 2L), (2L, 3L)).map { case (f, t) =>
      changesBetween(spark, table, f, t)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum("cents").cast("long").as("sum_cents"))
        .select(lit(f).as("from_version"), lit(t).as("to_version"),
          col("change_type"), col("n_rows"), col("sum_cents"))
    }.reduce(_ unionByName _)
  }

  def changeFeedOracleSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    o_orderdate AS d
      |  FROM orders
      |), s1 AS (
      |  SELECT * FROM o WHERE d < DATE '1997-01-01'
      |), s2 AS (
      |  SELECT k, CASE WHEN k % 97 = 0 THEN 2 * cents ELSE cents END AS cents, d
      |  FROM o WHERE d < DATE '1997-01-01'
      |  UNION ALL
      |  SELECT k, cents, d FROM o WHERE d >= DATE '1997-01-01'
      |), s3 AS (
      |  SELECT * FROM o WHERE d >= DATE '1998-01-01'
      |), t01 AS (
      |  SELECT 'insert' AS ct, k, cents, d FROM o
      |  WHERE d >= DATE '1995-01-01' AND d < DATE '1997-01-01'
      |), t12 AS (
      |  SELECT 'insert' AS ct, * FROM (
      |    SELECT * FROM s2 EXCEPT ALL SELECT * FROM s1)
      |  UNION ALL
      |  SELECT 'delete' AS ct, * FROM (
      |    SELECT * FROM s1 EXCEPT ALL SELECT * FROM s2)
      |), t23 AS (
      |  SELECT 'insert' AS ct, * FROM (
      |    SELECT * FROM s3 EXCEPT ALL SELECT * FROM s2)
      |  UNION ALL
      |  SELECT 'delete' AS ct, * FROM (
      |    SELECT * FROM s2 EXCEPT ALL SELECT * FROM s3)
      |)
      |SELECT CAST(0 AS BIGINT) AS from_version, CAST(1 AS BIGINT) AS to_version,
      |  ct AS change_type, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM t01 GROUP BY ct
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), CAST(2 AS BIGINT), ct,
      |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
      |FROM t12 GROUP BY ct
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(3 AS BIGINT), ct,
      |  CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
      |FROM t23 GROUP BY ct""".stripMargin

  // ---- query-map entry (hash-gated) ----

  /** Gated compaction instance: three era appends, then a compact
    * commit — the head snapshot's aggregates must be IDENTICAL before
    * (v2) and after (v3) compaction; a lost or duplicated row breaks
    * the hash. Physical consolidation (group count → 1) is pinned in
    * VersionedTableSpec. */
  def tableCompact(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.TmpPaths.unique("graft_vtable_cmp")
    val o = ordersFrame(spark, dir)
    append(spark, table, o.filter(col("k") % 3 === 0))
    append(spark, table, o.filter(col("k") % 3 === 1))
    append(spark, table, o.filter(col("k") % 3 === 2))
    compact(spark, table)
    Seq(2L, 3L).map { v =>
      readVersion(spark, table, v).agg(
        count(lit(1)).as("n_rows"),
        sum("cents").cast("long").as("sum_cents"),
        min("k").cast("long").as("min_key"),
        max("k").cast("long").as("max_key"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_cents"),
          col("min_key"), col("max_key"))
    }.reduce(_ unionByName _)
  }

  // ---- query-map entry (hash-gated) ----

  /** Gated schema-evolution instance: v0 appends (k, cents); v1
    * appendEvolving adds a `prio` column. Reading v0 yields the
    * original two-column schema; reading v1 yields the widened schema
    * with NULL prio on every v0-era row — no rewrite of old groups.
    * The hash breaks if evolution rewrites, drops, or misaligns
    * columns. */
  def tableSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.TmpPaths.unique("graft_vtable_evo")
    val o = graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      substring(col("o_orderpriority"), 1, 1).cast("long").as("prio"))
    // key-modulo split (not dates): both eras provably non-empty on any
    // testdata generation, so the oracle's additive decomposition never
    // trips NULL-sum propagation over an empty era
    append(spark, table, o.filter(col("k") % 3 === 0).select("k", "cents"))
    appendEvolving(spark, table,
      o.filter(col("k") % 3 =!= 0).select("k", "cents", "prio"))
    val v0 = readVersion(spark, table, 0).agg(
      count(lit(1)).as("n_rows"), sum("cents").cast("long").as("sum_cents"))
      .select(lit(0L).as("version"), col("n_rows"), col("sum_cents"),
        lit(null).cast("long").as("n_prio_null"),
        lit(null).cast("long").as("sum_prio"))
    val v1 = readVersion(spark, table, 1).agg(
      count(lit(1)).as("n_rows"), sum("cents").cast("long").as("sum_cents"),
      sum(when(col("prio").isNull, 1L).otherwise(0L)).as("n_prio_null"),
      sum("prio").cast("long").as("sum_prio"))
      .select(lit(1L).as("version"), col("n_rows"), col("sum_cents"),
        col("n_prio_null"), col("sum_prio"))
    v0.unionByName(v1)
  }

  def schemaEvolutionOracleSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS prio
      |  FROM orders
      |), pre AS (
      |  SELECT * FROM o WHERE k % 3 = 0
      |), mid AS (
      |  SELECT * FROM o WHERE k % 3 <> 0
      |)
      |SELECT CAST(0 AS BIGINT) AS version,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(NULL AS BIGINT) AS n_prio_null,
      |  CAST(NULL AS BIGINT) AS sum_prio
      |FROM pre
      |UNION ALL
      |SELECT CAST(1 AS BIGINT),
      |  (SELECT CAST(count(*) AS BIGINT) FROM pre)
      |    + (SELECT CAST(count(*) AS BIGINT) FROM mid),
      |  (SELECT CAST(sum(cents) AS BIGINT) FROM pre)
      |    + (SELECT CAST(sum(cents) AS BIGINT) FROM mid),
      |  (SELECT CAST(count(*) AS BIGINT) FROM pre),
      |  (SELECT CAST(sum(prio) AS BIGINT) FROM mid)""".stripMargin

  def compactOracleSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(cents) AS BIGINT) AS sum_cents,
      |    CAST(min(k) AS BIGINT) AS min_key,
      |    CAST(max(k) AS BIGINT) AS max_key
      |  FROM o
      |)
      |SELECT CAST(2 AS BIGINT) AS version, n_rows, sum_cents, min_key, max_key
      |FROM agg
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), n_rows, sum_cents, min_key, max_key
      |FROM agg""".stripMargin

  // ---- query-map entry (hash-gated) ----

  /** Gated deletion-vector instance: v0 appends all orders, v1 deletes
    * the low-cents-digit slice, v2 deletes the %13 keys (composes
    * with v1's vector against the SAME untouched data group), v3
    * compacts (materializes both vectors into one rewritten group). All
    * four versions read back with exact aggregates: v1/v2 prove
    * merge-on-read (the data group is never rewritten, yet reads see
    * the retirement), v3 == v2 proves materialization is a logical
    * no-op, and time travel to v0 proves the vectors never touch
    * history. The oracle recomputes each snapshot by re-applying the
    * predicates to orders. Reference anchor: merge_generator.py's
    * delete branch run against a Delta table — Delta serves it with
    * deletion vectors; this is that read/write contract on the
    * portable layer. */
  def tableDvDelete(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.TmpPaths.unique("graft_vtable_dv")
    val o = ordersFrame(spark, dir)
    // value- and key-modulo predicates (not dates): provably non-empty
    // match sets on any testdata generation, the tableSchemaEvolution
    // discipline
    append(spark, table, o)
    delete(spark, table, col("cents") % 10 < 3)
    delete(spark, table, col("k") % 13 === 0)
    compact(spark, table)
    (0L to 3L).map { v =>
      readVersion(spark, table, v).agg(
        count(lit(1)).as("n_rows"),
        sum("cents").cast("long").as("sum_cents"),
        min("k").cast("long").as("min_key"),
        max("k").cast("long").as("max_key"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_cents"),
          col("min_key"), col("max_key"))
    }.reduce(_ unionByName _)
  }

  def dvDeleteOracleSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    o_orderdate AS d
      |  FROM orders
      |), s1 AS (
      |  SELECT * FROM o WHERE NOT (cents % 10 < 3)
      |), s2 AS (
      |  SELECT * FROM s1 WHERE NOT (k % 13 = 0)
      |), agg0 AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(cents) AS BIGINT) AS sum_cents,
      |    CAST(min(k) AS BIGINT) AS min_key,
      |    CAST(max(k) AS BIGINT) AS max_key FROM o
      |), agg1 AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(cents) AS BIGINT) AS sum_cents,
      |    CAST(min(k) AS BIGINT) AS min_key,
      |    CAST(max(k) AS BIGINT) AS max_key FROM s1
      |), agg2 AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(cents) AS BIGINT) AS sum_cents,
      |    CAST(min(k) AS BIGINT) AS min_key,
      |    CAST(max(k) AS BIGINT) AS max_key FROM s2
      |)
      |SELECT CAST(0 AS BIGINT) AS version, * FROM agg0
      |UNION ALL SELECT CAST(1 AS BIGINT), * FROM agg1
      |UNION ALL SELECT CAST(2 AS BIGINT), * FROM agg2
      |UNION ALL SELECT CAST(3 AS BIGINT), * FROM agg2""".stripMargin

  // ---- query-map entry (hash-gated) ----

  /** Gated vacuum instance — the retention flow the reference's
    * autocompact job implies (DataEngineering/DataBricks/
    * autocompact_delta.py: OPTIMIZE + VACUUM keeps a Delta table's
    * file count and history bounded): a 4-version table built ONLY
    * from single-group commits (append g0 / append g1 / overwrite g2
    * / append g3 — exactly one data dir each, so the file accounting
    * is provable in SQL), then `vacuum(retainVersions = 2)`. The gate
    * pins, per version: the fence (v0/v1 must FAIL the read — their
    * groups are gone), the surviving snapshots' exact aggregates
    * (v2/v3 read from disk AFTER deletion — any live-set resolution
    * error surfaces as a broken hash), and the physical dir
    * accounting (2 live, 2 deleted) carried on every row. */
  def tableVacuum(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.TmpPaths.unique("graft_vtable_vac")
    val o = ordersFrame(spark, dir)
    val d95 = lit("1995-01-01").cast("date")
    val d97 = lit("1997-01-01").cast("date")
    val d98 = lit("1998-01-01").cast("date")
    append(spark, table, o.filter(col("d") < d95))
    append(spark, table, o.filter(col("d") >= d95 && col("d") < d97))
    overwrite(spark, table, o.filter(col("d") >= d97 && col("d") < d98))
    append(spark, table, o.filter(col("d") >= d98))
    val deleted = vacuum(spark, table, retainVersions = 2, minAgeMillis = 0L)
    val liveDirs = fs(spark, table).listStatus(dataDir(table)).length
    val rows = (0L to 3L).map { v =>
      val agg = try {
        val r = readVersion(spark, table, v)
          .agg(count(lit(1)).cast("long").as("n"),
            sum("cents").cast("long").as("s")).collect()(0)
        Some((r.getLong(0), r.getLong(1)))
      } catch { case scala.util.control.NonFatal(_) => None }
      (v, if (agg.isDefined) 1 else 0,
        agg.map(_._1), agg.map(_._2))
    }
    import spark.implicits._
    rows.toDF("version", "readable", "n_rows", "sum_cents")
      .withColumn("n_live_dirs", lit(liveDirs))
      .withColumn("n_deleted_dirs", lit(deleted.length))
  }

  def vacuumOracleSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    CAST(o_orderdate AS DATE) AS d
      |  FROM orders
      |), v2 AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
      |  FROM o WHERE d >= DATE '1997-01-01' AND d < DATE '1998-01-01'
      |), v3 AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
      |  FROM o WHERE d >= DATE '1997-01-01'
      |)
      |SELECT CAST(0 AS BIGINT) AS version, 0 AS readable,
      |  CAST(NULL AS BIGINT) AS n_rows, CAST(NULL AS BIGINT) AS sum_cents,
      |  2 AS n_live_dirs, 2 AS n_deleted_dirs
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), 0, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 2, 2
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), 1, n, s, 2, 2 FROM v2
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), 1, n, s, 2, 2 FROM v3""".stripMargin
}
