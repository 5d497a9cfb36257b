package graft

import java.nio.file.Files
import graft.sources.VersionedTable
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

/** Contracts of the versioned parquet table (the Delta-semantics
  * mini-layer): commit replay, time travel, upsert semantics, vacuum
  * retention, commit atomicity (tmp litter is invisible), and
  * in-process concurrent writers getting distinct versions. */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("vtable").resolve("t").toString

  test("append/overwrite/upsert commits replay into correct snapshots") {
    val t = freshTable()
    val v0 = VersionedTable.append(spark, t,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "v"))
    val v1 = VersionedTable.append(spark, t,
      Seq((3L, "c", 30L)).toDF("k", "s", "v"))
    val v2 = VersionedTable.upsert(spark, t,
      Seq((2L, "B", 99L), (4L, "d", 40L)).toDF("k", "s", "v"), Seq("k"))
    val v3 = VersionedTable.overwrite(spark, t,
      Seq((9L, "z", 1L)).toDF("k", "s", "v"))
    assert(Seq(v0, v1, v2, v3) == Seq(0L, 1L, 2L, 3L))

    def snap(v: Long) = VersionedTable.readVersion(spark, t, v)
      .as[(Long, String, Long)].collect().toSet
    assert(snap(0) == Set((1L, "a", 10L), (2L, "b", 20L)))
    assert(snap(1) == Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    assert(snap(2) == Set((1L, "a", 10L), (2L, "B", 99L), (3L, "c", 30L),
      (4L, "d", 40L)), "upsert must replace matched keys and insert new ones")
    assert(snap(3) == Set((9L, "z", 1L)))
    assert(VersionedTable.read(spark, t).count() == 1L)
    assert(VersionedTable.history(spark, t).map(_.op) ==
      Seq("append", "append", "upsert", "overwrite"))
  }

  test("change feed: upsert shows delete+insert, appends show inserts only") {
    val t = freshTable()
    VersionedTable.append(spark, t,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "v"))
    VersionedTable.append(spark, t, Seq((3L, "c", 30L)).toDF("k", "s", "v"))
    VersionedTable.upsert(spark, t,
      Seq((2L, "B", 99L), (4L, "d", 40L)).toDF("k", "s", "v"), Seq("k"))
    def feed(f: Long, to: Long) =
      VersionedTable.changesBetween(spark, t, f, to)
        .select("_change_type", "k", "s", "v")
        .as[(String, Long, String, Long)].collect().toSet
    assert(feed(0, 1) == Set(("insert", 3L, "c", 30L)),
      "append transition must emit only the appended rows")
    assert(feed(1, 2) == Set(
      ("insert", 2L, "B", 99L), ("insert", 4L, "d", 40L),
      ("delete", 2L, "b", 20L)),
      "upsert must emit delete(old)+insert(new) for replaced keys")
    assert(feed(0, 2) == Set(
      ("insert", 3L, "c", 30L), ("insert", 2L, "B", 99L),
      ("insert", 4L, "d", 40L), ("delete", 2L, "b", 20L)))
  }

  test("compact consolidates groups, changes nothing logically") {
    val t = freshTable()
    (0 to 3).foreach(i => VersionedTable.append(spark, t,
      Seq((i.toLong, i.toLong)).toDF("k", "v")))
    val before = VersionedTable.read(spark, t)
      .as[(Long, Long)].collect().toSet
    val v = VersionedTable.compact(spark, t)
    assert(v == 4L)
    val last = VersionedTable.history(spark, t).last
    assert(last.op == "compact" && last.add.size == 1 && last.remove.size == 4)
    assert(VersionedTable.read(spark, t)
      .as[(Long, Long)].collect().toSet == before)
    // compaction is invisible to the change feed (same rows, new group)
    assert(VersionedTable.changesBetween(spark, t, 3, 4).count() == 0L)
    // pre-compact versions still time-travel until vacuumed
    assert(VersionedTable.readVersion(spark, t, 1).count() == 2L)
    // vacuum to head leaves exactly the one compacted group on disk
    VersionedTable.vacuum(spark, t, retainVersions = 1, minAgeMillis = 0L)
    assert(new java.io.File(s"$t/data").list().length == 1)
  }

  test("vacuum deletes unreferenced file groups and fences old reads") {
    val t = freshTable()
    (0 to 4).foreach(i => VersionedTable.overwrite(spark, t,
      Seq((i.toLong, i.toLong)).toDF("k", "v")))
    val dataDirs = new java.io.File(s"$t/data").list().toSet
    assert(dataDirs.size == 5)
    val deleted = VersionedTable.vacuum(spark, t, retainVersions = 2, minAgeMillis = 0L)
    // versions 3 and 4 each reference exactly one overwrite group
    assert(deleted.size == 3)
    assert(VersionedTable.minReadableVersion(spark, t) == 3L)
    assert(VersionedTable.readVersion(spark, t, 3).as[(Long, Long)]
      .collect().toSet == Set((3L, 3L)))
    assert(VersionedTable.readVersion(spark, t, 4).as[(Long, Long)]
      .collect().toSet == Set((4L, 4L)))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, t, 2)
    }
    assert(e.getMessage.contains("vacuumed"))
    // history is retained as an audit trail even below the horizon
    assert(VersionedTable.history(spark, t).size == 5)
  }

  test("vacuum retention window: young unreferenced dirs survive") {
    val t = freshTable()
    VersionedTable.overwrite(spark, t, Seq((1L, 1L)).toDF("k", "v"))
    VersionedTable.overwrite(spark, t, Seq((2L, 2L)).toDF("k", "v"))
    // default threshold: the just-retired v0 group is younger than the
    // retention window — an in-flight writer's staged group would look
    // exactly like this, so it must NOT be deleted
    assert(VersionedTable.vacuum(spark, t, retainVersions = 1).isEmpty)
    // explicit zero window reclaims it
    assert(VersionedTable.vacuum(spark, t, retainVersions = 1,
      minAgeMillis = 0L).size == 1)
  }

  test("change feed guards: past-head and vacuumed ranges fail loudly") {
    val t = freshTable()
    VersionedTable.append(spark, t, Seq((1L, 1L)).toDF("k", "v"))
    VersionedTable.overwrite(spark, t, Seq((2L, 2L)).toDF("k", "v"))
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.changesBetween(spark, t, 0L, 99L)
    }
    assert(e1.getMessage.contains("head"))
    VersionedTable.vacuum(spark, t, retainVersions = 1, minAgeMillis = 0L)
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.changesBetween(spark, t, 0L, 1L)
    }
    assert(e2.getMessage.contains("vacuumed"))
  }

  test("a truncated commit file ends the readable prefix, not the table") {
    val t = freshTable()
    VersionedTable.append(spark, t, Seq((1L, 1L)).toDF("k", "v"))
    VersionedTable.append(spark, t, Seq((2L, 2L)).toDF("k", "v"))
    // a writer crashed mid-rename on a non-atomic FS: garbage commit 2
    Files.writeString(java.nio.file.Paths.get(t, "_commits",
      f"${2L}%020d.json"), """{"version":2,"op":"app""")
    assert(VersionedTable.history(spark, t).map(_.version) == Seq(0L, 1L),
      "history must end at the readable prefix")
    assert(VersionedTable.readVersion(spark, t, 1L).count() == 2L)
  }

  test("tmp litter in the commit dir is invisible to readers") {
    val t = freshTable()
    VersionedTable.append(spark, t, Seq((1L, 1L)).toDF("k", "v"))
    // a crashed writer's leftovers: a tmp commit file + an orphan group
    Files.writeString(java.nio.file.Paths.get(t, "_commits", "_tmp-dead.json"),
      """{"version":99,"op":"append","add":["dead"],"remove":[]}""")
    Files.createDirectories(java.nio.file.Paths.get(t, "data", "orphan"))
    assert(VersionedTable.latestVersion(spark, t).contains(0L))
    assert(VersionedTable.read(spark, t).count() == 1L)
    // vacuum reclaims the orphan group (referenced by no version)
    val deleted = VersionedTable.vacuum(spark, t, retainVersions = 10, minAgeMillis = 0L)
    assert(deleted.contains("orphan"))
  }

  test("concurrent in-process appends commit distinct consecutive versions") {
    val t = freshTable()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val vs = Await.result(
      Future.sequence((1 to 4).map(i => Future {
        VersionedTable.append(spark, t, Seq((i.toLong, i.toLong)).toDF("k", "v"))
      })), 2.minutes).toList.sorted
    assert(vs == List(0L, 1L, 2L, 3L))
    assert(VersionedTable.read(spark, t).count() == 4L,
      "all four appends must be present in the final snapshot")
  }

  test("schema evolution: new column widens, old groups read NULL, no rewrite") {
    val t = freshTable()
    VersionedTable.append(spark, t, Seq((1L, 10L)).toDF("k", "v"))
    val groupsBefore = new java.io.File(s"$t/data").list().toSet
    VersionedTable.appendEvolving(spark, t,
      Seq((2L, 20L, "x")).toDF("k", "v", "tag"))
    // old group untouched on disk (no rewrite)
    assert(new java.io.File(s"$t/data").list().toSet.intersect(groupsBefore)
      == groupsBefore)
    // v0 read keeps the original schema; v1 read widens with nulls
    assert(VersionedTable.readVersion(spark, t, 0).columns.toSeq == Seq("k", "v"))
    val head = VersionedTable.read(spark, t)
      .select("k", "v", "tag").as[(Long, Long, Option[String])]
      .collect().toSet
    assert(head == Set((1L, 10L, None), (2L, 20L, Some("x"))))
    // plain append with a diverging schema fails loudly
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(spark, t, Seq((3L, "oops")).toDF("k", "other"))
    }
    assert(e.getMessage.contains("appendEvolving"))
    // evolving with a conflicting TYPE on a shared column fails loudly
    assertThrows[IllegalArgumentException] {
      VersionedTable.appendEvolving(spark, t,
        Seq((4L, "not-a-long", "y")).toDF("k", "v", "tag"))
    }
  }

  test("readAsOf picks the last commit at or before the instant") {
    val t = freshTable()
    VersionedTable.append(spark, t, Seq((1L, 1L)).toDF("k", "v"))
    Thread.sleep(20)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    VersionedTable.overwrite(spark, t, Seq((2L, 2L)).toDF("k", "v"))
    assert(VersionedTable.readAsOf(spark, t, between)
      .as[(Long, Long)].collect().toSet == Set((1L, 1L)))
    assert(VersionedTable.readAsOf(spark, t, System.currentTimeMillis())
      .as[(Long, Long)].collect().toSet == Set((2L, 2L)))
    val e = intercept[RuntimeException] {
      VersionedTable.readAsOf(spark, t, 1L) // before the first commit
    }
    assert(e.getMessage.contains("no version at or before"))
  }

  test("versioned reads keep parquet pushdown and column pruning") {
    // the delta_table_rs.py read shape: a version read WITH pushed
    // filters — time travel must hand Spark plain file groups so the
    // scan-level optimizations survive
    val t = freshTable()
    VersionedTable.append(spark, t,
      (1L to 100L).map(i => (i, s"s$i", i * 10)).toDF("k", "s", "v"))
    VersionedTable.append(spark, t,
      (101L to 200L).map(i => (i, s"s$i", i * 10)).toDF("k", "s", "v"))
    val plan = VersionedTable.readVersion(spark, t, 1)
      .filter($"k" > 150L).select("k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,150)]"),
      s"filter must reach the parquet scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<k:bigint>"),
      s"projection must prune to the selected column:\n$plan")
  }

  test("gated time-travel query matches per-era recomputation") {
    val out = VersionedTable.tableTimeTravel(spark, sfDir)
      .select("version", "n_rows").as[(Long, Long)].collect().toMap
    val o = Tables.orders(spark, sfDir)
    val pre95 = o.filter(col("o_orderdate") < lit("1995-01-01").cast("date")).count()
    val pre97 = o.filter(col("o_orderdate") < lit("1997-01-01").cast("date")).count()
    val all = o.count()
    val late98 = o.filter(col("o_orderdate") >= lit("1998-01-01").cast("date")).count()
    assert(out(0L) == pre95)
    assert(out(1L) == pre97)
    assert(out(2L) == all, "upsert snapshot covers every order exactly once")
    assert(out(3L) == late98)
  }

  test("checkpoint: every version reads identically through the checkpoint") {
    val t = freshTable()
    VersionedTable.append(spark, t,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "v"))
    VersionedTable.append(spark, t, Seq((3L, "c", 30L)).toDF("k", "s", "v"))
    def snap(v: Long) = VersionedTable.readVersion(spark, t, v)
      .as[(Long, String, Long)].collect().toSet
    val before = (0L to 1L).map(snap)
    val ckv = VersionedTable.checkpoint(spark, t)
    assert(ckv == 1L)
    // commits AFTER the checkpoint replay as tail on top of it
    VersionedTable.upsert(spark, t,
      Seq((2L, "B", 99L), (4L, "d", 40L)).toDF("k", "s", "v"), Seq("k"))
    VersionedTable.overwrite(spark, t, Seq((9L, "z", 1L)).toDF("k", "s", "v"))
    assert((0L to 1L).map(snap) == before)
    assert(snap(2) == Set((1L, "a", 10L), (2L, "B", 99L), (3L, "c", 30L),
      (4L, "d", 40L)))
    assert(snap(3) == Set((9L, "z", 1L)))
    assert(VersionedTable.latestCheckpoint(spark, t).map(_.version)
      .contains(1L))
  }

  test("checkpoint makes the log prefix disposable for covered reads") {
    val t = freshTable()
    VersionedTable.append(spark, t,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "v"))
    VersionedTable.append(spark, t, Seq((3L, "c", 30L)).toDF("k", "s", "v"))
    VersionedTable.checkpoint(spark, t)
    VersionedTable.append(spark, t, Seq((4L, "d", 40L)).toDF("k", "s", "v"))
    // destroy commit JSONs 0 and 1 — everything the checkpoint covers
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(0L, 1L).foreach { v =>
      val p = new org.apache.hadoop.fs.Path(t,
        f"_commits/$v%020d.json")
      assert(f.delete(p, false))
    }
    // reads at and above the checkpoint never touch the dead prefix
    assert(VersionedTable.readVersion(spark, t, 1L)
      .as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    assert(VersionedTable.readVersion(spark, t, 2L).count() == 4L)
    // below the checkpoint there is nothing to replay: loud failure
    intercept[Exception] {
      VersionedTable.readVersion(spark, t, 0L).collect()
    }
  }

  test("pruned merge: disjoint groups are skipped byte-identical") {
    val t = freshTable()
    VersionedTable.appendKeyed(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), "k")
    VersionedTable.appendKeyed(spark, t,
      Seq((10L, "x"), (11L, "y")).toDF("k", "s"), "k")
    VersionedTable.appendKeyed(spark, t,
      Seq((20L, "p")).toDF("k", "s"), "k")
    // remember the middle group's physical files
    val before = VersionedTable.history(spark, t).flatMap(_.add)
    val (_, rewritten, skipped) = VersionedTable.upsertPruned(spark, t,
      Seq((11L, "Y"), (12L, "z")).toDF("k", "s"), "k")
    assert(rewritten == 1 && skipped == 2)
    val snap = VersionedTable.read(spark, t)
      .as[(Long, String)].collect().toSet
    assert(snap == Set((1L, "a"), (2L, "b"), (10L, "x"), (11L, "Y"),
      (12L, "z"), (20L, "p")))
    // the two disjoint groups are still the ORIGINAL dirs in the live
    // set (no rewrite), and time travel to pre-merge still works
    val liveNow = VersionedTable.history(spark, t)
      .foldLeft(Vector.empty[String]) { (l, c) =>
        l.filterNot(c.remove.contains) ++ c.add
      }
    assert(liveNow.count(before.contains) == 2)
    assert(VersionedTable.readVersion(spark, t, 2L).count() == 5L)
  }

  test("pruned merge: the changeset's key range is observed in its pin's job") {
    val t = freshTable()
    VersionedTable.appendKeyed(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), "k")
    VersionedTable.appendKeyed(spark, t,
      Seq((10L, "x"), (11L, "y")).toDF("k", "s"), "k")
    VersionedTable.appendKeyed(spark, t,
      Seq((20L, "p")).toDF("k", "s"), "k")
    var counts = (0, 0)
    val events = eventsDuring {
      val (_, rewritten, skipped) = VersionedTable.upsertPruned(spark, t,
        Seq((11L, "Y"), (12L, "z")).toDF("k", "s"), "k")
      counts = (rewritten, skipped)
    }
    assert(counts == ((1, 2)))
    // the pin and the rewrite, and no aggregate query of the changeset
    val plans = events.collect { case e: SparkListenerSQLExecutionStart => e.physicalPlanDescription }
    assert(plans.size == 2, plans.mkString("\n"))
    assert(!plans.exists(_.contains("HashAggregate")), plans.mkString("\n"))
  }

  test("pruned merge: stats-less groups always count as overlapping") {
    val t = freshTable()
    VersionedTable.append(spark, t, Seq((1L, "a")).toDF("k", "s"))
    VersionedTable.appendKeyed(spark, t,
      Seq((100L, "q")).toDF("k", "s"), "k")
    // changes far from BOTH ranges: the keyed group prunes, the plain
    // append (no sidecar) must be rewritten anyway — safe default
    val (_, rewritten, skipped) = VersionedTable.upsertPruned(spark, t,
      Seq((500L, "w")).toDF("k", "s"), "k")
    assert(rewritten == 1 && skipped == 1)
    assert(VersionedTable.read(spark, t).count() == 3L)
  }

  test("vacuum is checkpoint-aware: never deletes groups the checkpoint carries") {
    val t = freshTable()
    VersionedTable.append(spark, t, Seq((1L, "a")).toDF("k", "s"))
    VersionedTable.append(spark, t, Seq((2L, "b")).toDF("k", "s"))
    VersionedTable.checkpoint(spark, t)
    VersionedTable.append(spark, t, Seq((3L, "c")).toDF("k", "s"))
    // drop the covered log prefix (the documented disposability contract)
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(0L, 1L).foreach { v =>
      assert(f.delete(new org.apache.hadoop.fs.Path(t,
        f"_commits/$v%020d.json"), false))
    }
    // vacuum retaining the head: groups A and B are ONLY reachable
    // through the checkpoint — a raw log replay would delete them
    VersionedTable.vacuum(spark, t, retainVersions = 1, minAgeMillis = 0L)
    assert(VersionedTable.read(spark, t)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")),
      "vacuum must not delete live groups carried by the checkpoint")
  }

  test("optimistic concurrency: an interleaved commit forces a merge redo") {
    val t = freshTable()
    VersionedTable.append(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    // simulate another process committing BETWEEN the upsert's merge
    // materialization and its commit: the interleaved append must
    // survive (no lost update) — the upsert detects the moved head,
    // throws away its stale merge, and re-derives against v1
    VersionedTable.raceInjection = () =>
      VersionedTable.append(spark, t, Seq((3L, "late")).toDF("k", "s"))
    VersionedTable.upsert(spark, t,
      Seq((2L, "B")).toDF("k", "s"), Seq("k"))
    val snap = VersionedTable.read(spark, t)
      .as[(Long, String)].collect().toSet
    assert(snap == Set((1L, "a"), (2L, "B"), (3L, "late")),
      "the interleaved append must not be clobbered by the stale merge")
    assert(VersionedTable.history(spark, t).map(_.op) ==
      Seq("append", "append", "upsert"))
  }

  test("optimistic concurrency: pruned merge and compact also redo") {
    val t = freshTable()
    VersionedTable.appendKeyed(spark, t, Seq((1L, "a")).toDF("k", "s"), "k")
    VersionedTable.raceInjection = () =>
      VersionedTable.appendKeyed(spark, t,
        Seq((50L, "mid")).toDF("k", "s"), "k")
    VersionedTable.upsertPruned(spark, t,
      Seq((1L, "A")).toDF("k", "s"), "k")
    assert(VersionedTable.read(spark, t).as[(Long, String)].collect().toSet
      == Set((1L, "A"), (50L, "mid")))
    VersionedTable.raceInjection = () =>
      VersionedTable.append(spark, t, Seq((60L, "x")).toDF("k", "s"))
    VersionedTable.compact(spark, t)
    assert(VersionedTable.read(spark, t).count() == 3L,
      "compact must not erase a commit that landed during its rewrite")
  }

  test("checkpoint: schema evolution state is captured and applied") {
    val t = freshTable()
    VersionedTable.append(spark, t, Seq((1L, 10L)).toDF("k", "v"))
    VersionedTable.appendEvolving(spark, t,
      Seq((2L, 20L, "x")).toDF("k", "v", "tag"))
    VersionedTable.checkpoint(spark, t)
    VersionedTable.appendEvolving(spark, t, Seq((3L, 30L)).toDF("k", "v"))
    val got = VersionedTable.readVersion(spark, t, 2L)
      .select("k", "v", "tag").as[(Long, Long, Option[String])]
      .collect().toSet
    assert(got == Set((1L, 10L, None), (2L, 20L, Some("x")),
      (3L, 30L, None)))
  }

  test("gated vacuum instance: fence pattern, accounting, survivors re-read") {
    val all = VersionedTable.tableVacuum(spark, sfDir).collect()
    val rows = all.map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(rows.map(_._2).toSeq == Seq(0, 0, 1, 1),
      "v0/v1 fenced, v2/v3 readable")
    assert(all.forall(r => r.getInt(4) == 2 && r.getInt(5) == 2),
      "2 live dirs survive, 2 deleted")
  }
}
