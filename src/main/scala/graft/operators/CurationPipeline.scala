package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Checkpoints, Tables}
import graft.functions.TextFunctions
import graft.dedup.{Decontaminate, ExactDedup, SubstringDedup}

/** The composed end-to-end curation pipeline — every stage is an
  * already-gated operator, chained in the order a real LLM-corpus
  * build runs them (the reference's prep flow:
  * /root/reference/NLP/llama2/src/prepare_dataset.py quality-filters
  * and dedups before templating;
  * /root/reference/MachineLearning/Data/flan2022_submix/
  * spark_data_generating.py mixes and shards after):
  *
  *   1. quality_floor     — [[TextFunctions.withQuality]] score ≥ 0.45
  *   2. dedup_exact       — [[ExactDedup.dedup]] keep min-id per content
  *   3. neardup_minhash   — [[graft.dedup.MinHashLsh]] near-dup cut at
  *                          the DEGENERATE 1-band/full-signature setting
  *                          (threshold 1.0 ⇒ equal-shingle-set classes;
  *                          keep the min id per class — equality is
  *                          transitive, so class min ≡ component min),
  *                          which keeps the stage SQL-expressible and
  *                          the whole accounting hash-gated; the banded
  *                          probabilistic form stays dedup_minhash_lsh's
  *                          spec-gated 100 TB path (prepare_dataset.py
  *                          dedups before templating)
  *   4. substring_cut     — [[SubstringDedup.repeatedWindowStats]]
  *                          repeated_ppm < 250000 (docs too short for a
  *                          window carry no signal and are kept)
  *   5. decontaminate     — [[Decontaminate.decontaminate]] vs the fixed
  *                          benchmark set (raw doc_id ≡ 0 mod 17), which
  *                          is itself excluded from the training corpus
  *   6. importance_select — [[ImportanceSelect.importanceSelect]] DSIR
  *                          acceptance toward source='src0', models fit
  *                          ON THE SURVIVORS (stage contract: upstream
  *                          cuts change the raw unigram model)
  *   7. submix_temperature— [[Sampling.submixTemperature]] T=2 over
  *                          lang strata, 120-row target
  *   8. shard_assign      — [[Sampling.shardAssign]] 64-row shards
  *                          (drops nothing; proves the export composes)
  *
  * The gated output is the STAGE ACCOUNTING — (stage_rank, stage,
  * n_in, n_kept, n_dropped) — the contract a per-key gate cannot see:
  * every stage's input is exactly the previous stage's survivors, and
  * drops sum to input − output (spec-asserted). Each stage's oracle
  * CTE is the sibling gate's formula parameterized on the previous
  * stage's CTE; all CTEs are MATERIALIZED (each feeds the next stage
  * plus two counts — default inlining would go exponential, the
  * BpeEncode lesson).
  *
  * Scale: the chain is 8 sequential corpus-linear stages, each pinned
  * by [[Checkpoints.pinCounted]] so no stage's plan re-derives its
  * predecessors; the 9 counts the accounting reports (input plus 8
  * stages) are observed inside those 9 pin jobs, so the accounting
  * costs no scan of its own. Per-stage shapes are documented on the
  * operators themselves.
  */
object CurationPipeline {

  val QualityFloor = 0.45
  val SubstringCutPpm = 250000L
  val BenchMod = 17
  val MixTemperature = 2.0
  val MixTargetRows = 120.0
  val ShardSize = 64L

  /** Run the pipeline over (doc_id, text, source, lang) rows; returns
    * each stage's pinned survivor frame with its row count, input
    * first. `bench` is the FIXED external benchmark set (drawn from the
    * raw corpus, not from survivors — a cut upstream must not change
    * what counts as contamination). */
  private def stagePins(docs: DataFrame): Seq[(String, DataFrame, Long)] = {
    val pins = Seq.newBuilder[(String, DataFrame, Long)]
    def pin(name: String, df: DataFrame): DataFrame = {
      val (p, n) = Checkpoints.pinCounted(df)
      pins += ((name, p, n))
      p
    }
    val base = pin("input", docs)
    val bench = base.filter(pmod(col("doc_id"), lit(BenchMod)) === 0)

    val s1 = pin("quality_floor", TextFunctions.withQuality(base, "text")
      .filter(col("quality_score") >= QualityFloor)
      .select("doc_id", "text", "source", "lang"))
    val s2 = pin("dedup_exact", ExactDedup.dedup(s1, "doc_id", "text"))
    // near-dup at the degenerate gate setting: pairs = docs with EQUAL
    // trigram-shingle sets (MinHashLsh's 1-band/full-signature path);
    // equality is an equivalence, so every non-class-minimum id appears
    // as some pair's b_id — one distinct + one anti-join, no union-find
    val nd = graft.dedup.MinHashLsh
      .identicalShingleSetPairs(s2, "doc_id", "text")
      .select(col("b_id").as("doc_id")).distinct()
    val s2b = pin("neardup_minhash", s2.join(nd, Seq("doc_id"), "left_anti"))
    val stats = SubstringDedup.repeatedWindowStats(s2b, "doc_id", "text",
      SubstringDedup.WindowTokens)
    val s3 = pin("substring_cut",
      s2b.join(stats.select("doc_id", "repeated_ppm"), Seq("doc_id"), "left")
        .filter(col("repeated_ppm").isNull ||
          col("repeated_ppm") < SubstringCutPpm)
        .select("doc_id", "text", "source", "lang"))
    val s4 = pin("decontaminate", Decontaminate.decontaminate(
      s3.filter(pmod(col("doc_id"), lit(BenchMod)) =!= 0),
      bench, "doc_id", "text", n = 8))
    val s5 = pin("importance_select", s4.join(
      ImportanceSelect.importanceSelect(s4, "doc_id", "text",
          col("source") === "src0")
        .filter(col("selected")).select("doc_id"),
      Seq("doc_id")))
    val s6 = pin("submix_temperature", Sampling.submixTemperature(s5, "lang",
      "doc_id", MixTemperature, MixTargetRows))
    pin("shard_assign", Sampling.shardAssign(s6, "doc_id", ShardSize)
      .select("doc_id", "text", "source", "lang"))
    pins.result()
  }

  /** Each stage's pinned survivor frame, input first. */
  def stageFrames(docs: DataFrame): Seq[(String, DataFrame)] =
    stagePins(docs).map { case (name, df, _) => name -> df }

  /** (stage_rank, stage, n_in, n_kept, n_dropped) for the 8 stages. */
  def accounting(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = stagePins(docs).map { case (name, _, n) => name -> n }
    counts.sliding(2).zipWithIndex.map {
      case (Seq((_, nIn), (stage, nKept)), i) =>
        (i + 1, stage, nIn, nKept, nIn - nKept)
    }.toSeq.toDF("stage_rank", "stage", "n_in", "n_kept", "n_dropped")
  }

  // ---- query-map entries (hash-gated) ----

  /** The corpus carries no equal-shingle-set near-dups at test SF, so
    * the gated instances PLANT them (the dedup_minhash_exhaustive
    * discipline): every 20th doc re-keyed at +1,000,000 with every
    * space DOUBLED — a different byte string (sha256 dedup keeps it, a
    * quality score ≥ the original's since only the punctuation penalty
    * moves, and downward) but the identical \s+-split word sequence,
    * hence the identical trigram-shingle set the near-dup stage cuts. */
  private[graft] def plantNearDups(docs: DataFrame): DataFrame =
    docs.unionByName(docs.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), " ", "  ").as("text"),
        col("source"), col("lang")))

  def curationPipelineDocs(spark: SparkSession, dir: String): DataFrame =
    accounting(plantNearDups(Tables.documents(spark, dir)
      .select("doc_id", "text", "source", "lang")))

  /** Per-document drop attribution: the FIRST stage that dropped each
    * doc (or 'kept') — the lineage answer a curation run owes its
    * operators ("why is doc X missing from the training mix?"). Seven
    * left semi-flags over the stage survivor frames, first-null wins;
    * entirely reuses [[stageFrames]]'s checkpointed stages. */
  def trace(docs: DataFrame): DataFrame = {
    val frames = stageFrames(docs)
    val base = frames.head._2
    val flagged = frames.tail.zipWithIndex.foldLeft(
        base.select("doc_id")) { case (acc, ((name, df), i)) =>
      acc.join(df.select(col("doc_id"), lit(true).as(s"__in$i")),
        Seq("doc_id"), "left")
    }
    val stageNames = frames.tail.map(_._1)
    val firstDrop = stageNames.indices.foldRight(lit("kept"): org.apache.spark.sql.Column) {
      case (i, acc) => when(col(s"__in$i").isNull, lit(stageNames(i))).otherwise(acc)
    }
    flagged.select(col("doc_id"), firstDrop.as("stage_dropped"))
  }

  def curationTraceDocs(spark: SparkSession, dir: String): DataFrame =
    trace(plantNearDups(Tables.documents(spark, dir)
      .select("doc_id", "text", "source", "lang")))

  /** Every stage CTE is the sibling gate's SQL re-anchored on the
    * previous stage (anchors in the scaladoc above); MATERIALIZED
    * throughout. Shared by the accounting and trace oracles. */
  private def oracleStageCtes: String = {
    val stages =
      s"""base AS MATERIALIZED (
         |  SELECT doc_id, text, source, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, replace(text, ' ', '  '), source, lang
         |  FROM documents WHERE doc_id % 20 = 0),
         |s1 AS MATERIALIZED (
         |  SELECT doc_id, text, source, lang FROM (
         |    SELECT doc_id, text, source, lang,
         |      (CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','is','to','in'))) AS DOUBLE) / len(ws)) * 0.3
         |        + (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.3
         |        + (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / len(text)) * 0.2
         |        + least(len(ws) / 100.0, 1.0) * 0.2 AS sc
         |    FROM (SELECT doc_id, text, source, lang,
         |            string_split_regex(text, '\\s+') AS ws FROM base) t)
         |  WHERE sc >= $QualityFloor),
         |s2 AS MATERIALIZED (
         |  SELECT i.* FROM s1 i
         |  JOIN (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY sha256(text)) k
         |    USING (doc_id)),
         |shg AS MATERIALIZED (
         |  SELECT doc_id, list_sort(list_distinct(
         |    list_transform(generate_series(1, len(ws) - 2),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sg
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM s2)
         |  WHERE len(ws) >= 3),
         |s2b AS MATERIALIZED (
         |  SELECT i.* FROM s2 i ANTI JOIN (
         |    SELECT DISTINCT b.doc_id FROM shg a JOIN shg b
         |      ON a.doc_id < b.doc_id AND a.sg = b.sg) d
         |  ON i.doc_id = d.doc_id),
         |sw AS MATERIALIZED (
         |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS w
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM s2b) s,
         |    unnest(generate_series(1, len(t) - 7)) AS u(i)
         |  WHERE len(t) >= 8),
         |sp AS MATERIALIZED (
         |  SELECT doc_id,
         |    (1000000 * CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT))
         |      // count(*) AS p
         |  FROM sw JOIN (SELECT w, count(DISTINCT doc_id) AS nd FROM sw GROUP BY w) f
         |    USING (w)
         |  GROUP BY doc_id),
         |s3 AS MATERIALIZED (
         |  SELECT i.doc_id, i.text, i.source, i.lang
         |  FROM s2b i LEFT JOIN sp USING (doc_id)
         |  WHERE sp.p IS NULL OR sp.p < $SubstringCutPpm),
         |bench AS MATERIALIZED (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w
         |  FROM base WHERE doc_id % $BenchMod = 0),
         |bg AS MATERIALIZED (
         |  SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS gram
         |  FROM bench, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS t(i)),
         |hits AS MATERIALIZED (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
         |    FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
         |          FROM s3 WHERE doc_id % $BenchMod <> 0) c,
         |      unnest(generate_series(1, greatest(len(w) - 7, 0))) AS t(i)) g
         |  JOIN bg USING (gram)),
         |s4 AS MATERIALIZED (
         |  SELECT * FROM s3
         |  WHERE doc_id % $BenchMod <> 0
         |    AND doc_id NOT IN (SELECT doc_id FROM hits)),
         |iw AS MATERIALIZED (
         |  SELECT doc_id, source = 'src0' AS tgt,
         |    unnest(string_split_regex(text, '\\s+')) AS w
         |  FROM s4),
         |ivocab AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS cs,
         |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |  FROM iw GROUP BY w),
         |itot AS MATERIALIZED (
         |  SELECT CAST(sum(cs) AS BIGINT) AS ns, CAST(sum(ct) AS BIGINT) AS nt,
         |    CAST(count(*) AS BIGINT) AS v
         |  FROM ivocab),
         |ilw AS MATERIALIZED (
         |  SELECT w, CAST(round(ln(
         |      CAST(ct + 1 AS DOUBLE) * CAST(ns + v AS DOUBLE)
         |        / (CAST(cs + 1 AS DOUBLE) * CAST(nt + v AS DOUBLE))) * 1e6)
         |    AS BIGINT) AS lw
         |  FROM ivocab, itot),
         |iimp AS MATERIALIZED (
         |  SELECT doc_id, CAST(sum(c * ilw.lw) AS BIGINT) AS im
         |  FROM (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
         |        FROM iw GROUP BY doc_id, w) dw
         |  JOIN ilw ON ilw.w = dw.w GROUP BY doc_id),
         |ibounds AS MATERIALIZED (
         |  SELECT min(im) AS mn, max(im) AS mx FROM iimp),
         |s5 AS MATERIALIZED (
         |  SELECT i.* FROM s4 i JOIN (
         |    SELECT doc_id FROM iimp, ibounds
         |    WHERE mx = mn OR
         |      ((((doc_id % 100003) * 1103515245 + 12345) % 1000000 + 1000000)
         |        % 1000000) * (mx - mn) < (im - mn) * 1000000) s
         |    USING (doc_id)),
         |mc AS MATERIALIZED (
         |  SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM s5 GROUP BY lang),
         |mw AS MATERIALIZED (
         |  SELECT lang, n, pow(n, ${1.0 / MixTemperature}) AS wt FROM mc),
         |mf AS MATERIALIZED (
         |  SELECT lang,
         |    CAST(round(least(1.0, $MixTargetRows * wt / (SELECT sum(wt) FROM mw) / n)
         |         * 1000000, 0) AS BIGINT) AS thr
         |  FROM mw),
         |s6 AS MATERIALIZED (
         |  SELECT i.* FROM s5 i JOIN mf USING (lang)
         |  WHERE ((doc_id % 100003) * 1103515245 + 12345) % 1000000 < thr),
         |s7 AS MATERIALIZED (SELECT * FROM s6)""".stripMargin
    stages
  }

  def oracleSql: String = {
    val rows = Seq("s1" -> ("base", "quality_floor"),
      "s2" -> ("s1", "dedup_exact"), "s2b" -> ("s2", "neardup_minhash"),
      "s3" -> ("s2b", "substring_cut"),
      "s4" -> ("s3", "decontaminate"), "s5" -> ("s4", "importance_select"),
      "s6" -> ("s5", "submix_temperature"), "s7" -> ("s6", "shard_assign"))
    val sel = rows.zipWithIndex.map { case ((out, (in, name)), i) =>
      s"""SELECT CAST(${i + 1} AS INT) AS stage_rank, '$name' AS stage,
         |  (SELECT count(*) FROM $in) AS n_in,
         |  (SELECT count(*) FROM $out) AS n_kept,
         |  (SELECT count(*) FROM $in) - (SELECT count(*) FROM $out) AS n_dropped""".stripMargin
    }.mkString("\nUNION ALL\n")
    "WITH " + oracleStageCtes + "\n" + sel
  }

  def traceOracleSql: String =
    "WITH " + oracleStageCtes + "\n" +
      """SELECT b.doc_id,
        |  CASE WHEN b.doc_id NOT IN (SELECT doc_id FROM s1) THEN 'quality_floor'
        |       WHEN b.doc_id NOT IN (SELECT doc_id FROM s2) THEN 'dedup_exact'
        |       WHEN b.doc_id NOT IN (SELECT doc_id FROM s2b) THEN 'neardup_minhash'
        |       WHEN b.doc_id NOT IN (SELECT doc_id FROM s3) THEN 'substring_cut'
        |       WHEN b.doc_id NOT IN (SELECT doc_id FROM s4) THEN 'decontaminate'
        |       WHEN b.doc_id NOT IN (SELECT doc_id FROM s5) THEN 'importance_select'
        |       WHEN b.doc_id NOT IN (SELECT doc_id FROM s6) THEN 'submix_temperature'
        |       ELSE 'kept' END AS stage_dropped
        |FROM base b""".stripMargin
}
