package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** DSIR-style data selection — importance resampling toward a target
  * domain (Xie, Santurkar, Ma, Liang 2023, "Data Selection for
  * Language Models via Importance Resampling", arXiv:2302.03169): the
  * step that turns a raw web corpus into a domain-matched training mix
  * by sampling documents with probability tied to the likelihood ratio
  * between a TARGET unigram model and the RAW-corpus unigram model.
  * This is the principled sibling of [[Sampling.submix]]'s fixed
  * per-stratum fractions — the weights come from the data, not a
  * config (the reference's FLAN submix builder,
  * /root/reference/MachineLearning/Data/flan2022_submix/
  * spark_data_generating.py, is the fixed-fraction form).
  *
  * Exactness discipline: both unigram models are add-one-smoothed
  * exact integer counts over the shared corpus vocabulary; each
  * vocab word's log likelihood ratio
  *   lw(w) = round(10⁶ · ln( (c_t(w)+1)(N_s+V) / ((c_s(w)+1)(N_t+V)) ))
  * is ONE double ln per VOCAB word rounded once to micros (the
  * pmi_bigrams discipline — cell-bounded, never per row), after which
  * every per-doc importance is an exact BIGINT dot product
  * Σ_w c_doc(w)·lw(w). Resampling is the engine-portable
  * [[Sampling.portableBucket]] draw: accept iff
  * bucket(doc_id)·(max−min) < (imp−min)·10⁶ — acceptance probability
  * linear in the doc's importance over the observed range, fully
  * deterministic, no seeded sampler whose kept-set drifts with
  * partitioning. A degenerate corpus (max = min) keeps everything.
  *
  * Scale shape: the caller's text is tokenized twice and no token is
  * stored. One tokenize pass feeds the vocabulary aggregate, which
  * shuffles on the word key after a map-side partial count
  * (vocab-bounded output; at 100 TB the word key would be a hashed
  * n-gram bucket — DSIR's own construction — changing bytes shuffled,
  * not semantics); AQE runs the vocabulary's exchange once and reads it
  * back for both the totals row and the lw table. The second pass joins
  * each token to its lw and sums per doc: Σ_w c_doc(w)·lw(w) is the sum
  * of lw over the doc's tokens, so no (doc, word) count forms and the
  * partial aggregate collapses each doc to one row before the doc_id
  * exchange. min/max is one scalar aggregate broadcast back. The
  * exploded word frame is NOT pinned: it has a row per token and is
  * larger than the text it came from, so re-splitting the text (which
  * the curation pipeline already holds in a stage pin) costs less than
  * storing that frame and scanning it twice. Nothing corpus-quadratic,
  * no global sort, no driver-side weight table.
  */
object ImportanceSelect {

  /** Per-doc importance + deterministic acceptance. `isTarget` marks
    * the in-domain sample rows. Returns (doc_id, n_tokens,
    * importance_micros, selected). `idCol` must be an INTEGRAL column:
    * the acceptance draw is the portableBucket LCG over `id % 100003`,
    * which has no meaning for strings — hash such ids first (e.g.
    * xxhash64, mirrored in the oracle) before calling. */
  def importanceSelect(docs: DataFrame, idCol: String, textCol: String,
                       isTarget: org.apache.spark.sql.Column): DataFrame = {
    val idType = docs.schema(idCol).dataType
    require(Seq("long", "integer", "short", "byte").contains(idType.typeName),
      s"importanceSelect: idCol '$idCol' must be integral (got $idType) — " +
        "the portableBucket acceptance draw is modular integer arithmetic")
    val words = docs.select(col(idCol), isTarget.as("__tgt"),
      explode(split(col(textCol), "\\s+")).as("__w"))
    val vocab = words.groupBy(col("__w"))
      .agg(count(lit(1)).as("__cs"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"))
    val totals = vocab.agg(
      sum(col("__cs")).as("__ns"), sum(col("__ct")).as("__nt"),
      count(lit(1)).as("__v"))
    // one ln per vocab word, micro-rounded once (cell-bounded)
    val lw = vocab.crossJoin(broadcast(totals))
      .select(col("__w"), round(
        log((col("__ct") + 1).cast("double") * (col("__ns") + col("__v")).cast("double")
          / ((col("__cs") + 1).cast("double") * (col("__nt") + col("__v")).cast("double")))
          * lit(1e6)).cast("long").as("__lw"))
    val imp = words.join(lw, "__w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lw")).as("importance_micros"))
    val bounds = imp.agg(min(col("importance_micros")).as("__mn"),
      max(col("importance_micros")).as("__mx"))
    imp.crossJoin(broadcast(bounds))
      .withColumn("selected", expr(
        s"""__mx = __mn OR
           |  (((($idCol % 100003) * 1103515245 + 12345) % 1000000 + 1000000) % 1000000)
           |    * (__mx - __mn) < (importance_micros - __mn) * 1000000
           |""".stripMargin))
      .select(col(idCol), col("n_tokens"), col("importance_micros"),
        col("selected"))
  }

  // ---- query-map entry (hash-gated) ----

  /** Gated instance: target domain = source 'src0' documents; raw =
    * the whole documents corpus. */
  def importanceSelectDocs(spark: SparkSession, dir: String): DataFrame =
    importanceSelect(Tables.documents(spark, dir), "doc_id", "text",
      col("source") === "src0")

  def oracleSql: String =
    """WITH words AS (
      |  SELECT doc_id, source = 'src0' AS tgt,
      |    unnest(string_split_regex(text, '\s+')) AS w
      |  FROM documents
      |), vocab AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cs,
      |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
      |  FROM words GROUP BY w
      |), totals AS (
      |  SELECT CAST(sum(cs) AS BIGINT) AS ns, CAST(sum(ct) AS BIGINT) AS nt,
      |    CAST(count(*) AS BIGINT) AS v
      |  FROM vocab
      |), lw AS (
      |  SELECT w, CAST(round(ln(
      |      CAST(ct + 1 AS DOUBLE) * CAST(ns + v AS DOUBLE)
      |        / (CAST(cs + 1 AS DOUBLE) * CAST(nt + v AS DOUBLE))) * 1e6)
      |    AS BIGINT) AS lw
      |  FROM vocab, totals
      |), dw AS (
      |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
      |  FROM words GROUP BY doc_id, w
      |), imp AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(sum(c * lw.lw) AS BIGINT) AS importance_micros
      |  FROM dw JOIN lw ON lw.w = dw.w
      |  GROUP BY doc_id
      |), bounds AS (
      |  SELECT min(importance_micros) AS mn, max(importance_micros) AS mx
      |  FROM imp
      |)
      |SELECT doc_id, n_tokens, importance_micros,
      |  mx = mn OR
      |    ((((doc_id % 100003) * 1103515245 + 12345) % 1000000 + 1000000)
      |      % 1000000) * (mx - mn)
      |      < (importance_micros - mn) * 1000000 AS selected
      |FROM imp, bounds""".stripMargin
}
