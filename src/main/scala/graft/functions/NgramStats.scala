package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus n-gram statistics for LLM-training-data curation: PMI
  * collocation mining, Gopher-style within-document repetition signals,
  * and unigram-LM document surprisal (the CCNet/Gopher quality-filter
  * family — the reference curates its corpora by embedding similarity,
  * /root/reference/MachineLearning/NLP/ray_batch_embedding_generator.py;
  * these are the lexical-statistics complements used by the public
  * corpus-cleaning pipelines).
  *
  * All are shaped for 100 TB: bigrams are generated MAP-SIDE from each
  * document's token array (a `transform` over an index sequence — no
  * self-join, nothing quadratic). The corpus statistics (PMI, the
  * surprisals, the pair and next-token tables) shuffle on uniform
  * token/bigram keys with map-side partial aggregation, and
  * corpus-level constants (N, V) ride a broadcast single-row frame into
  * the plan rather than a driver collect. The repetition signals read
  * only one document's tokens, so they are a projection and never
  * shuffle. Scores are exact integers or
  * integer MICROS computed per row from exact-integer inputs, so the
  * cross-engine hash gate never rides on float-sum ordering.
  */
object NgramStats {

  /** Same tokenization as [[TextScoring.tokens]] (and its oracle CTE). */
  private def toks(text: Column): Column = TextScoring.tokens(text)

  /** Adjacent-token bigrams as array<struct<w1,w2>>, map-side. Empty for
    * docs with fewer than two tokens (`sequence` would run DESCENDING on
    * a 1-token doc — the guard is load-bearing, not cosmetic). Built from
    * the PASSED column via the lambda API (element_at is 1-based), so any
    * token column works — not just one named `__ts`. */
  private def bigramArr(ts: Column): Column =
    when(size(ts) >= 2,
      transform(sequence(lit(1), size(ts) - 1),
        i => struct(element_at(ts, i).as("w1"),
          element_at(ts, i + lit(1)).as("w2"))))
      .otherwise(expr("CAST(array() AS array<struct<w1:string,w2:string>>)"))

  /** Ordered skip-gram pairs (center token, context token ≤ `w` ahead)
    * as array<struct<w1,w2>>, map-side — the word2vec/GloVe training-pair
    * generation step, built like [[bigramArr]] (which is this with
    * w = 1): a nested `transform` over index sequences, flattened, so
    * pair generation never self-joins and stays linear in tokens · w.
    * The inner sequence runs i+1 .. min(i+w, size) and i stops at
    * size−1, so it is always ascending — the same guard discipline as
    * [[bigramArr]]. */
  private def skipgramArr(ts: Column, w: Int): Column =
    when(size(ts) >= 2,
      flatten(transform(sequence(lit(1), size(ts) - 1),
        i => transform(sequence(i + lit(1), least(i + lit(w), size(ts))),
          j => struct(element_at(ts, i).as("w1"),
            element_at(ts, j).as("w2"))))))
      .otherwise(expr("CAST(array() AS array<struct<w1:string,w2:string>>)"))

  /** Corpus skip-gram co-occurrence counts: (w1, w2, n_pairs) for
    * ordered pairs within a forward window of `w` tokens, kept when
    * `n_pairs >= minCount` — the count table word2vec's negative
    * sampling and GloVe's objective both consume. One shuffle on the
    * (w1, w2) key with map-side combine; output cardinality is bounded
    * by surviving pair types, not corpus size. */
  def skipgramPairs(docs: DataFrame, idCol: String, textCol: String,
                    w: Int, minCount: Long): DataFrame =
    docs.select(toks(col(textCol)).as("__ts"))
      .select(explode(skipgramArr(col("__ts"), w)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minCount)

  /** [[skipgramArr]] with the pair distance kept:
    * array<struct<w1,w2,d>>, d = j − i ∈ [1, w]. */
  private def skipgramArrD(ts: Column, w: Int): Column =
    when(size(ts) >= 2,
      flatten(transform(sequence(lit(1), size(ts) - 1),
        i => transform(sequence(i + lit(1), least(i + lit(w), size(ts))),
          j => struct(element_at(ts, i).as("w1"),
            element_at(ts, j).as("w2"), (j - i).as("d"))))))
      .otherwise(expr(
        "CAST(array() AS array<struct<w1:string,w2:string,d:int>>)"))

  /** GloVe-style DISTANCE-WEIGHTED co-occurrence: each pair at distance
    * d contributes weight 1/d, accumulated as the exact integer
    * `1000000 div d` micros (d ≤ w, so the per-distance weights are a
    * fixed small set of exact constants — no float sum ever forms).
    * Output (w1, w2, n_pairs, x_micros) for pairs seen ≥ `minCount`
    * times: the X_ij matrix GloVe's objective weights and factorizes,
    * one step up from [[skipgramPairs]]' unweighted counts. Same cost
    * envelope: map-side pair explode, one shuffle on the pair key. */
  def gloveCooccur(docs: DataFrame, idCol: String, textCol: String,
                   w: Int, minCount: Long): DataFrame =
    docs.select(toks(col(textCol)).as("__ts"))
      .select(explode(skipgramArrD(col("__ts"), w)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"),
        expr("1000000 div p.d").as("__wt"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("n_pairs"), sum("__wt").as("x_micros"))
      .filter(col("n_pairs") >= minCount)

  /** Corpus-level PMI collocations: (w1, w2, c_xy, pmi_micros) for
    * adjacent bigrams with `c_xy >= minCount`, where
    * `pmi = ln(c_xy · N_bigrams / (c_x · c_y))` over corpus unigram
    * counts — all inputs exact integers, the log evaluated once per
    * surviving bigram. */
  def pmiBigrams(docs: DataFrame, idCol: String, textCol: String,
                 minCount: Long): DataFrame = {
    val withToks = docs.select(col(idCol), toks(col(textCol)).as("__ts"))
    val uni = withToks.select(explode(col("__ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val big = withToks.select(explode(bigramArr(col("__ts"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bigCounts = big.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    // N = ALL bigram occurrences (pre-filter) — a single broadcast row
    val totals = bigCounts.agg(sum("c_xy").as("__n"))
    bigCounts.filter(col("c_xy") >= minCount)
      .join(uni.withColumnRenamed("t", "w1").withColumnRenamed("c", "c_x"), "w1")
      .join(uni.withColumnRenamed("t", "w2").withColumnRenamed("c", "c_y"), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi_micros",
        round(log(col("c_xy").cast("double") * col("__n") /
          (col("c_x") * col("c_y"))) * lit(1e6)).cast("long"))
      .select("w1", "w2", "c_xy", "pmi_micros")
  }

  /** Gopher-style per-document repetition signals, ALL exact integers:
    * token count, distinct-token count, most-frequent-token count,
    * most-frequent-bigram count, duplicated-bigram type count and the
    * tokens they cover. Docs with ≥1 token appear; bigram columns are 0
    * for single-token docs. Every signal reads one document's own
    * tokens, so all six are one projection over the token array: counts
    * are run lengths over the SORTED tokens and the sorted bigrams. No
    * explode, no aggregate, no shuffle. */
  def repetitionSignals(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val ts = col("__ts")
    // a doc has a token iff its lowercased text has an [a-z0-9] char:
    // the same test as size(tokens) > 0, without a second tokenize pass
    // where the optimizer pushes the filter below the projection
    docs.filter(lower(col(textCol)).rlike("[a-z0-9]"))
      .select(col(idCol).as("doc_id"), toks(col(textCol)).as("__ts"))
      .select(col("doc_id"), size(ts).cast("long").as("n_tokens"),
        size(array_distinct(ts)).cast("long").as("n_types"),
        runStats(array_sort(ts), "string")("top").as("top_token_n"),
        runStats(array_sort(bigramArr(ts)), "struct<w1:string,w2:string>")
          .as("__b"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        col("top_token_n"), col("__b.top").as("top_bigram_n"),
        col("__b.dup_types").as("dup_bigram_types"),
        col("__b.dup_n").as("dup_bigram_n"))
  }

  /** Run statistics of a sorted array of `elemType` in one left fold:
    * the longest run (`top`), the number of runs of length ≥ 2
    * (`dup_types`) and the elements those runs hold (`dup_n`). A run
    * counts when it reaches 2 (+1 type, +2 elements); each further
    * element adds 1. All 0 for an empty array. */
  private def runStats(sorted: Column, elemType: String): Column =
    aggregate(sorted,
      struct(lit(null).cast(elemType).as("prev"), lit(0L).as("run"),
        lit(0L).as("top"), lit(0L).as("dup_types"), lit(0L).as("dup_n")),
      (acc, x) => {
        val run = when(acc("prev") === x, acc("run") + 1L).otherwise(1L)
        struct(x.as("prev"), run.as("run"), greatest(acc("top"), run).as("top"),
          (acc("dup_types") + when(run === 2L, 1L).otherwise(0L)).as("dup_types"),
          (acc("dup_n") + when(run === 2L, 2L).when(run > 2L, 1L).otherwise(0L))
            .as("dup_n"))
      })

  /** Per-document unigram-LM surprisal (the CCNet perplexity-filter
    * shape, with the LM trained on the corpus itself): add-one-smoothed
    * negative log-prob per token, rounded to micros PER TOKEN (a scalar
    * expression over exact integers) then summed — so the per-doc total
    * is an exact BIGINT and the mean is integer division. High
    * `nll_per_token_micros` = surprising/low-quality text. */
  def docSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(toks(col(textCol))).as("t"))
    val uni = tok.groupBy("t").agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum("c").as("__n"), count(lit(1)).as("__v"))
    tok.join(uni, "t")
      .crossJoin(broadcast(totals))
      .withColumn("__nll_micros",
        round(-log((col("c") + lit(1)).cast("double") / (col("__n") + col("__v")))
          * lit(1e6)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("__nll_micros").as("nll_total_micros"))
      .withColumn("nll_per_token_micros",
        expr("nll_total_micros DIV n_tokens"))
  }

  /** Per-document BIGRAM-LM surprisal — the conditional upgrade of
    * [[docSurprisal]] (a unigram LM scores words in isolation; the
    * bigram LM scores them in context, which is what separates fluent
    * text from shuffled words — the CCNet discipline one order up).
    * P(w₂|w₁) = (c(w₁w₂)+1) / (ctx(w₁)+V) with ctx counted over bigram
    * starts and V the corpus vocabulary; per-bigram micros rounding
    * then exact BIGINT sums, mean by integer division. Docs with fewer
    * than two tokens have no bigrams and are absent. */
  def docBigramSurprisal(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val withToks = docs.select(col(idCol).as("doc_id"), toks(col(textCol)).as("__ts"))
    val big = withToks
      .select(col("doc_id"), explode(bigramArr(col("__ts"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = big.groupBy("w1", "w2").agg(count(lit(1)).as("__cxy"))
    val ctx = big.groupBy("w1").agg(count(lit(1)).as("__cx"))
    val vocab = withToks.select(explode(col("__ts")).as("t"))
      .agg(countDistinct("t").as("__v"))
    big.join(bc, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__nll_micros",
        round(-log((col("__cxy") + lit(1)).cast("double")
          / (col("__cx") + col("__v"))) * lit(1e6)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum("__nll_micros").as("nll2_total_micros"))
      .withColumn("nll2_per_bigram_micros",
        expr("nll2_total_micros DIV n_bigrams"))
  }

  // ---- query-map entries (hash-gated) ----

  def bigramSurprisalDocs(spark: SparkSession, dir: String): DataFrame =
    docBigramSurprisal(Tables.documents(spark, dir), "doc_id", "text")

  /** Gated instance: forward-window-3 skip-gram pairs seen ≥ 3 times. */
  def skipgramPairsDocs(spark: SparkSession, dir: String): DataFrame =
    skipgramPairs(Tables.documents(spark, dir), "doc_id", "text",
      w = 3, minCount = 3L)

  /** One UNION arm per distance d: DuckDB zips parallel `unnest`s
    * positionally, so slicing the token list against itself shifted by
    * d enumerates exactly the ordered pairs at that distance — the
    * [[BigCte]] idiom generalized from d = 1 to d ≤ w. */
  def skipgramOracleSql: String = {
    val arms = (1 to 3).map { d =>
      s"""  SELECT unnest(ts[1:len(ts)-$d]) AS w1,
         |         unnest(ts[${d + 1}:len(ts)]) AS w2
         |  FROM tok WHERE len(ts) >= ${d + 1}""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH $TokCte,
       |pairs AS (
       |$arms
       |)
       |SELECT w1, w2, count(*) AS n_pairs FROM pairs
       |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin
  }

  /** Gated instance: window-3 distance-weighted co-occurrence ≥ 3. */
  def gloveCooccurDocs(spark: SparkSession, dir: String): DataFrame =
    gloveCooccur(Tables.documents(spark, dir), "doc_id", "text",
      w = 3, minCount = 3L)

  /** The [[skipgramOracleSql]] arms with each arm's exact per-distance
    * weight constant riding along (1000000 div d, computed here so both
    * engines share the identical integer). */
  def gloveOracleSql: String = {
    val arms = (1 to 3).map { d =>
      s"""  SELECT unnest(ts[1:len(ts)-$d]) AS w1,
         |         unnest(ts[${d + 1}:len(ts)]) AS w2,
         |         CAST(${1000000L / d} AS BIGINT) AS wt
         |  FROM tok WHERE len(ts) >= ${d + 1}""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH $TokCte,
       |pairs AS (
       |$arms
       |)
       |SELECT w1, w2, count(*) AS n_pairs,
       |  CAST(sum(wt) AS BIGINT) AS x_micros
       |FROM pairs GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin
  }

  def pmiBigramsDocs(spark: SparkSession, dir: String): DataFrame =
    pmiBigrams(Tables.documents(spark, dir), "doc_id", "text", minCount = 3L)

  def repetitionDocs(spark: SparkSession, dir: String): DataFrame =
    repetitionSignals(Tables.documents(spark, dir), "doc_id", "text")

  def surprisalDocs(spark: SparkSession, dir: String): DataFrame =
    docSurprisal(Tables.documents(spark, dir), "doc_id", "text")

  private val TokCte =
    """tok AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      |  FROM documents
      |)""".stripMargin

  private val BigCte =
    """big AS (
      |  SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2
      |  FROM tok WHERE len(ts) >= 2
      |)""".stripMargin

  def pmiOracleSql: String =
    s"""WITH $TokCte, $BigCte,
       |uni AS (SELECT t, count(*) AS c
       |        FROM (SELECT unnest(ts) AS t FROM tok) GROUP BY 1),
       |bc AS (SELECT w1, w2, count(*) AS c_xy FROM big GROUP BY 1, 2),
       |tot AS (SELECT sum(c_xy) AS n FROM bc)
       |SELECT bc.w1, bc.w2, bc.c_xy,
       |  CAST(round(ln(CAST(bc.c_xy AS DOUBLE) * tot.n / (ux.c * uy.c)) * 1e6)
       |       AS BIGINT) AS pmi_micros
       |FROM bc
       |JOIN uni ux ON ux.t = bc.w1
       |JOIN uni uy ON uy.t = bc.w2
       |CROSS JOIN tot
       |WHERE bc.c_xy >= 3""".stripMargin

  def repetitionOracleSql: String =
    s"""WITH $TokCte, $BigCte,
       |ud AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    count(*) AS n_types, max(c) AS top_token_n
       |  FROM (SELECT doc_id, t, count(*) AS c
       |        FROM (SELECT doc_id, unnest(ts) AS t FROM tok) GROUP BY 1, 2)
       |  GROUP BY 1
       |), bd AS (
       |  SELECT doc_id, max(c) AS top_bigram_n,
       |    CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_bigram_types,
       |    CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_bigram_n
       |  FROM (SELECT doc_id, w1, w2, count(*) AS c FROM big GROUP BY 1, 2, 3)
       |  GROUP BY 1
       |)
       |SELECT ud.doc_id, ud.n_tokens, ud.n_types, ud.top_token_n,
       |  CAST(coalesce(bd.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
       |  CAST(coalesce(bd.dup_bigram_types, 0) AS BIGINT) AS dup_bigram_types,
       |  CAST(coalesce(bd.dup_bigram_n, 0) AS BIGINT) AS dup_bigram_n
       |FROM ud LEFT JOIN bd USING (doc_id)""".stripMargin

  def bigramSurprisalOracleSql: String =
    s"""WITH $TokCte, $BigCte,
       |bc AS (SELECT w1, w2, count(*) AS cxy FROM big GROUP BY 1, 2),
       |ctx AS (SELECT w1, count(*) AS cx FROM big GROUP BY 1),
       |voc AS (SELECT count(DISTINCT t) AS v
       |        FROM (SELECT unnest(ts) AS t FROM tok))
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(CAST(round(-ln(CAST(bc.cxy + 1 AS DOUBLE) / (ctx.cx + voc.v))
       |    * 1e6) AS BIGINT)) AS BIGINT) AS nll2_total_micros,
       |  CAST(sum(CAST(round(-ln(CAST(bc.cxy + 1 AS DOUBLE) / (ctx.cx + voc.v))
       |    * 1e6) AS BIGINT)) // count(*) AS BIGINT) AS nll2_per_bigram_micros
       |FROM big JOIN bc USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN voc
       |GROUP BY doc_id""".stripMargin

  def surprisalOracleSql: String =
    s"""WITH $TokCte,
       |t AS (SELECT doc_id, unnest(ts) AS t FROM tok),
       |uni AS (SELECT t, count(*) AS c FROM t GROUP BY 1),
       |tot AS (SELECT sum(c) AS n, count(*) AS v FROM uni)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(CAST(round(-ln(CAST(uni.c + 1 AS DOUBLE) / (tot.n + tot.v))
       |    * 1e6) AS BIGINT)) AS BIGINT) AS nll_total_micros,
       |  CAST(sum(CAST(round(-ln(CAST(uni.c + 1 AS DOUBLE) / (tot.n + tot.v))
       |    * 1e6) AS BIGINT)) // count(*) AS BIGINT) AS nll_per_token_micros
       |FROM t JOIN uni USING (t) CROSS JOIN tot
       |GROUP BY doc_id""".stripMargin

  /** Conditional next-token table — the language model AS A TABLE: for
    * each of the corpus's top-`v` first tokens (count DESC, token ASC
    * total order, the [[Vocab]] TakeOrdered discipline), the argmax
    * continuation under (pair count DESC, token ASC) with its exact
    * per-mille conditional probability. The GENERATION-side twin of
    * [[pmiBigrams]] (PMI scores association; this answers "what comes
    * next"), feeding the same greedy-decode shape the reference's
    * fine-tuned models serve. The argmax is a `min(struct(-n, w2))`
    * aggregate — no per-key window, one pair-keyed shuffle. */
  def bigramNext(docs: DataFrame, idCol: String, textCol: String,
                 v: Int): DataFrame = {
    val withToks = docs.select(toks(col(textCol)).as("__ts"))
    val big = withToks.select(explode(bigramArr(col("__ts"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .localCheckpoint() // consumed by totals AND the argmax pass
    val w1Tot = big.groupBy("w1").agg(sum(col("n")).as("w1_n"))
      .orderBy(col("w1_n").desc, col("w1").asc).limit(v)
    val best = big.groupBy("w1")
      .agg(min(struct((-col("n")).as("nn"), col("w2"))).as("__b"))
      .select(col("w1"), col("__b.w2").as("next_tok"),
        (-col("__b.nn")).as("pair_n"))
    w1Tot.join(best, "w1")
      .select(col("w1"), col("w1_n"), col("next_tok"), col("pair_n"),
        expr("(1000 * pair_n) div w1_n").as("cond_permille"))
  }

  def bigramNextDocs(spark: SparkSession, dir: String): DataFrame =
    bigramNext(graft.Tables.documents(spark, dir), "doc_id", "text", v = 200)

  /** Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1998's interpolated form) with the standard
    * discount d = 0.75 — the LM-quality upgrade of [[bigramNext]]'s
    * raw conditional: P(w2|w1) = (c12−d)/c1 + d·N1+(w1·)/c1 ·
    * N1+(·w2)/N1+(··). The continuation factor is what makes "francisco"
    * improbable outside "san francisco" — the distinguishing KN
    * behavior, pinned by the spec.
    *
    * d = 3/4 keeps everything RATIONAL: multiply through by 4 and the
    * permicro report is two truncating integer divisions,
    *   (10⁶·(4·c12−3)) div (4·c1)  +  (3·10⁶·nf·nb) div (4·c1·nAll),
    * all in DECIMAL(38,0) (3·10⁶·nf·nb ≤ ~10²⁷ at 10¹⁰ bigram types).
    * One corpus pass to bigram cells; everything after is type-table
    * sized. Reported for bigrams with c12 ≥ minCount. */
  def kneserNeyBigrams(docs: DataFrame, idCol: String, textCol: String,
                       minCount: Long): DataFrame = {
    val withToks = docs.select(toks(col(textCol)).as("__ts"))
    val bc = withToks.select(explode(bigramArr(col("__ts"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).cast("decimal(38,0)").as("c12"))
      .localCheckpoint() // feeds both marginals, the total, and the report
    val fwd = bc.groupBy("w1").agg(sum(col("c12")).as("c1"),
      count(lit(1)).cast("decimal(38,0)").as("nf"))
    val bwd = bc.groupBy("w2").agg(
      count(lit(1)).cast("decimal(38,0)").as("nb"))
    val tot = bc.agg(count(lit(1)).cast("decimal(38,0)").as("nall"))
    bc.filter(col("c12") >= minCount)
      .join(fwd, "w1")
      .join(bwd, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"),
        col("c12").cast("long").as("c12"),
        col("c1").cast("long").as("c1"),
        col("nf").cast("long").as("nf"),
        col("nb").cast("long").as("nb"),
        expr("""CAST((1000000 * (4 * c12 - 3)) div (4 * c1)
            + (3000000 * nf * nb) div (4 * c1 * nall)
          AS BIGINT)""").as("pkn_permicro"))
  }

  def kneserNeyDocs(spark: SparkSession, dir: String): DataFrame =
    kneserNeyBigrams(graft.Tables.documents(spark, dir), "doc_id", "text",
      minCount = 5L)

  def kneserNeyOracleSql: String =
    s"""WITH $TokCte, $BigCte,
       |bc AS (SELECT w1, w2, CAST(count(*) AS HUGEINT) AS c12
       |       FROM big GROUP BY 1, 2),
       |fwd AS (SELECT w1, sum(c12) AS c1, CAST(count(*) AS HUGEINT) AS nf
       |        FROM bc GROUP BY 1),
       |bwd AS (SELECT w2, CAST(count(*) AS HUGEINT) AS nb FROM bc GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS HUGEINT) AS nall FROM bc)
       |SELECT bc.w1, bc.w2, CAST(c12 AS BIGINT) AS c12,
       |  CAST(c1 AS BIGINT) AS c1, CAST(nf AS BIGINT) AS nf,
       |  CAST(nb AS BIGINT) AS nb,
       |  CAST((1000000 * (4 * c12 - 3)) // (4 * c1)
       |    + (3000000 * nf * nb) // (4 * c1 * nall) AS BIGINT)
       |    AS pkn_permicro
       |FROM bc
       |JOIN fwd USING (w1)
       |JOIN bwd USING (w2)
       |CROSS JOIN tot
       |WHERE c12 >= 5""".stripMargin

  def bigramNextOracleSql: String =
    s"""WITH $TokCte, $BigCte,
       |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
       |       FROM big GROUP BY 1, 2),
       |w1tot AS (SELECT w1, CAST(sum(n) AS BIGINT) AS w1_n FROM bc
       |          GROUP BY 1 ORDER BY sum(n) DESC, w1 ASC LIMIT 200),
       |best AS (
       |  SELECT w1, min(struct_pack(nn := -n, w2 := w2)) AS b
       |  FROM bc GROUP BY 1
       |)
       |SELECT t.w1, t.w1_n, b.b.w2 AS next_tok,
       |  CAST(-b.b.nn AS BIGINT) AS pair_n,
       |  CAST((1000 * -b.b.nn) // t.w1_n AS BIGINT) AS cond_permille
       |FROM w1tot t JOIN best b ON t.w1 = b.w1""".stripMargin
}
