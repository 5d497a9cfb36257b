package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.ImportanceSelect

/** DSIR-style selection must rank in-domain-looking docs above
  * out-of-domain ones, accept deterministically by the portable bucket
  * draw, and keep everything on a degenerate (uniform) corpus. */
class ImportanceSelectSpec extends SparkSpec {
  import spark.implicits._

  test("target-vocabulary docs score higher than off-domain docs") {
    // target domain speaks {alpha beta gamma}; raw pool adds docs
    // speaking {xx yy zz}; a mixed doc sits between
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta gamma alpha beta", true),
      (2L, "beta gamma alpha beta gamma alpha beta gamma", true),
      (10L, "alpha beta gamma alpha beta gamma beta alpha", false),
      (11L, "xx yy zz xx yy zz xx yy", false),
      (12L, "alpha beta xx yy zz gamma xx yy", false)
    ).toDF("doc_id", "text", "tgt")
    val out = ImportanceSelect.importanceSelect(docs, "doc_id", "text",
        col("tgt"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(10L) > out(11L),
      s"in-domain text must outscore off-domain: $out")
    assert(out(10L) > out(12L) && out(12L) > out(11L),
      s"the mixed doc must sit between: $out")
  }

  test("degenerate corpus (all scores equal) keeps everything") {
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val out = ImportanceSelect.importanceSelect(docs, "doc_id", "text",
        col("doc_id") === 1L)
      .collect()
    assert(out.forall(_.getBoolean(3)), "max = min must accept all")
  }

  test("acceptance replays the portable bucket rule exactly") {
    val docs = Seq(
      (1L, "alpha alpha alpha alpha"), (2L, "alpha alpha zz zz"),
      (3L, "zz zz zz zz"), (4L, "alpha zz zz zz"),
      (5L, "alpha alpha alpha zz")
    ).toDF("doc_id", "text")
    val rows = ImportanceSelect.importanceSelect(docs, "doc_id", "text",
        col("doc_id") <= 2L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    val (mn, mx) = (rows.map(_._2).min, rows.map(_._2).max)
    def bucket(id: Long) =
      (((id % 100003L) * 1103515245L + 12345L) % 1000000L + 1000000L) % 1000000L
    rows.foreach { case (id, imp, sel) =>
      val expect = mx == mn || bucket(id) * (mx - mn) < (imp - mn) * 1000000L
      assert(sel == expect, s"doc $id: selected=$sel expected=$expect")
    }
    // the max-importance doc is always kept (imp−mn = range beats any
    // bucket < 1e6); the min-importance doc never is (0 < nothing)
    assert(rows.find(_._2 == mx).get._3)
    assert(!rows.find(_._2 == mn).get._3 || mx == mn)
  }

  test("gated instance: full corpus coverage, schema, n_tokens sane") {
    val out = ImportanceSelect.importanceSelectDocs(spark, sfDir)
      .localCheckpoint()
    assert(out.columns.toSeq ==
      Seq("doc_id", "n_tokens", "importance_micros", "selected"))
    assert(out.count() == Tables.documents(spark, sfDir).count())
    assert(out.filter(col("n_tokens") <= 0).count() == 0)
    // selection is nontrivial on the synthetic corpus: some in, some out
    val sel = out.filter(col("selected")).count()
    assert(sel > 0 && sel < out.count(), s"degenerate selection: $sel")
  }

  /** The earlier form, kept as the reference: the exploded words and
    * the vocabulary each pinned, a (doc, word) count, then Σ c·lw. */
  private def pinnedReference(docs: DataFrame, idCol: String, textCol: String,
                              isTarget: Column): DataFrame = {
    val words = docs.select(col(idCol), isTarget.as("__tgt"),
        explode(split(col(textCol), "\\s+")).as("__w"))
      .localCheckpoint()
    val vocab = words.groupBy(col("__w"))
      .agg(count(lit(1)).as("__cs"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"))
      .localCheckpoint()
    val totals = vocab.agg(sum(col("__cs")).as("__ns"),
      sum(col("__ct")).as("__nt"), count(lit(1)).as("__v"))
    val lw = vocab.crossJoin(broadcast(totals))
      .select(col("__w"), round(
        log((col("__ct") + 1).cast("double") * (col("__ns") + col("__v")).cast("double")
          / ((col("__cs") + 1).cast("double") * (col("__nt") + col("__v")).cast("double")))
          * lit(1e6)).cast("long").as("__lw"))
    val imp = words.groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__c"))
      .join(lw, "__w").groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_tokens"),
        sum(col("__c") * col("__lw")).as("importance_micros"))
    val bounds = imp.agg(min(col("importance_micros")).as("__mn"),
      max(col("importance_micros")).as("__mx"))
    imp.crossJoin(broadcast(bounds))
      .withColumn("selected", expr(
        s"""__mx = __mn OR
           |  (((($idCol % 100003) * 1103515245 + 12345) % 1000000 + 1000000) % 1000000)
           |    * (__mx - __mn) < (importance_micros - __mn) * 1000000
           |""".stripMargin))
      .select(col(idCol), col("n_tokens"), col("importance_micros"), col("selected"))
  }

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"${a.collect().toSeq} vs ${b.collect().toSeq}")
  }

  test("per-token score equals the pinned (doc, word)-count reference") {
    // repeated words inside a doc, a leading space (split yields an
    // empty token, which is a vocabulary word like any other), and ids
    // that spread the acceptance draw
    val docs = Seq(
      (1L, "alpha alpha alpha beta", true),
      (2L, " alpha beta beta", true),
      (3L, "gamma gamma beta gamma gamma", false),
      (4L, "  delta alpha", false),
      (57L, "gamma delta delta delta delta", false),
      (1234567L, "alpha", false)
    ).toDF("doc_id", "text", "tgt")
    val got = ImportanceSelect.importanceSelect(docs, "doc_id", "text", col("tgt"))
    assertSameRows(got, pinnedReference(docs, "doc_id", "text", col("tgt")))
    assert(got.filter(col("doc_id") === 2L).head().getLong(1) == 4L,
      "the leading space's empty token is counted")
    // a one-word vocabulary: every doc scores the same multiple of lw
    val one = Seq((1L, "zz zz"), (2L, "zz"), (3L, "zz zz zz")).toDF("doc_id", "text")
    assertSameRows(
      ImportanceSelect.importanceSelect(one, "doc_id", "text", col("doc_id") === 1L),
      pinnedReference(one, "doc_id", "text", col("doc_id") === 1L))
  }

  test("building and running over an in-memory frame stores no RDD block") {
    val docs = Seq((1L, "a b a c"), (2L, "b c c"), (3L, "a d d d"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = ImportanceSelect.importanceSelect(docs, "doc_id", "text",
      col("doc_id") === 1L)
    assert(out.collect().length == 3)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"pinned RDDs: $added")
  }
}
