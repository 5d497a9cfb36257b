package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Checkpoints, Tables}
import graft.operators.Sampling

/** Multinomial Naive Bayes text classifier — train AND score in one
  * declarative plan: the from-first-principles version of the
  * reference's fit-then-predict classifier loops
  * (/root/reference/MachineLearning/DataBricks-ML/automl_generator.py,
  * /root/reference/NLP/llama2/src classification eval), expressed as
  * pure aggregates + joins so Catalyst sees the whole pipeline.
  *
  * Features are character BIGRAMS of the lowercased text (the classic
  * language-ID feature: script and digraph statistics dominate), split
  * train/test by [[Sampling.portableBucket]] so the partition is
  * deterministic across runs, engines, and cluster sizes.
  *
  * Exactness contract (the [[graft.functions.NgramStats]] surprisal
  * discipline): each Laplace-smoothed log-probability
  * ln((n_tc + 1)/(N_c + V)) is evaluated ONCE as a double and rounded
  * to MICROS per (gram, class) — from there every document score is an
  * exact BIGINT sum Σ n_td·w_micro + prior_micro, and argmax breaks
  * ties by class name, so the prediction is a pure function of the
  * rounded weight table, not of float summation order. Docs shorter
  * than 2 chars have no bigrams and docs whose every gram is outside
  * the train vocabulary are unscorable; both are excluded (declared).
  *
  * Scale: gram explode is map-side; the only shuffles are uniform-key
  * groupBys on (gram[, class]) and the test⋈weights equi-join on gram.
  * The weight grid is V·C rows (character-bigram vocabulary × classes
  * — sublinear in corpus size), classes/priors are broadcast scalars.
  * The 100 TB cost is the two corpus scans.
  */
object NaiveBayes {

  /** Confusion matrix (actual, predicted, n) of a multinomial NB
    * trained on `isTrain` rows and scored on the rest. */
  def confusion(df: DataFrame, idCol: String, labelCol: String,
                textCol: String, isTrain: Column): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(labelCol).as("label"),
        lower(col(textCol)).as("t"), isTrain.as("is_train"))
      .filter(length(col("t")) >= 2)
    // char-bigram explode (map-side; sequence is ascending: len >= 2)
    val grams = base.select(col("id"), col("label"), col("is_train"),
      explode(expr("transform(sequence(1, length(t) - 1)," +
        " i -> substring(t, i, 2))")).as("g"))
    val train = grams.filter(col("is_train"))
    // per-(gram, class) counts and per-class totals over the train split
    val counts = train.groupBy(col("g"), col("label"))
      .agg(count(lit(1)).as("n_tc"))
    val classes = train.groupBy(col("label"))
      .agg(count(lit(1)).as("n_c")).localCheckpoint() // grid + priors
    val (vocab, v) = Checkpoints.pinCounted(counts.select("g").distinct())
    // class priors from train DOC counts (not gram counts)
    val priors = base.filter(col("is_train"))
      .groupBy(col("label")).agg(count(lit(1)).as("d_c"))
      .crossJoin(base.filter(col("is_train")).agg(count(lit(1)).as("d")))
      .select(col("label"),
        round(log(col("d_c").cast("double") / col("d")) * 1e6)
          .cast("long").as("prior_micro"))
    // complete (gram × class) weight grid: absent pairs get the +1
    // Laplace floor, so the test join needs no per-class default path
    val grid = vocab.crossJoin(broadcast(classes))
      .join(counts, Seq("g", "label"), "left")
      .select(col("g"), col("label").as("cls"),
        round(log((coalesce(col("n_tc"), lit(0L)) + lit(1)).cast("double")
          / (col("n_c") + lit(v))) * 1e6).cast("long").as("w_micro"))
    val testTerms = grams.filter(!col("is_train"))
      .groupBy(col("id"), col("label"), col("g"))
      .agg(count(lit(1)).as("n_td"))
    val scores = testTerms.join(grid, Seq("g")) // inner: OOV grams drop
      .groupBy(col("id"), col("label"), col("cls"))
      .agg(sum(col("n_td") * col("w_micro")).as("s"))
      .join(broadcast(priors.withColumnRenamed("label", "cls")), Seq("cls"))
      .select(col("id"), col("label"), col("cls"),
        (col("s") + col("prior_micro")).as("score"))
    val best = scores
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("score").desc, col("cls"))))
      .filter(col("rk") === 1)
    best.groupBy(col("label").as("actual"), col("cls").as("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  // ---- query-map entry (hash-gated) ----

  /** Gated instance: language ID over documents, 80/20 hash split on
    * doc_id, classes = the stored lang labels. */
  def nbLangDocuments(spark: SparkSession, dir: String): DataFrame =
    confusion(Tables.documents(spark, dir), "doc_id", "lang", "text",
      Sampling.portableBucket(col("doc_id")) < lit(800000L))

  def oracleSql: String =
    """WITH base AS (
      |  SELECT doc_id AS id, lang AS label, lower(text) AS t,
      |    ((doc_id % 100003) * 1103515245 + 12345) % 1000000 < 800000
      |      AS is_train
      |  FROM documents WHERE length(lower(text)) >= 2
      |), grams AS (
      |  SELECT id, label, is_train,
      |    unnest([substr(t, CAST(i AS INT), 2)
      |            FOR i IN range(1, length(t))]) AS g
      |  FROM base
      |), counts AS (
      |  SELECT g, label, CAST(count(*) AS BIGINT) AS n_tc
      |  FROM grams WHERE is_train GROUP BY 1, 2
      |), classes AS (
      |  SELECT label, CAST(count(*) AS BIGINT) AS n_c
      |  FROM grams WHERE is_train GROUP BY 1
      |), vocab AS (SELECT DISTINCT g FROM counts),
      |vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
      |priors AS (
      |  SELECT label, CAST(round(ln(CAST(count(*) AS DOUBLE)
      |      / (SELECT count(*) FROM base WHERE is_train)) * 1e6)
      |    AS BIGINT) AS prior_micro
      |  FROM base WHERE is_train GROUP BY 1
      |), grid AS (
      |  SELECT vo.g, cl.label AS cls,
      |    CAST(round(ln(CAST(coalesce(c.n_tc, 0) + 1 AS DOUBLE)
      |        / (cl.n_c + vs.v)) * 1e6) AS BIGINT) AS w_micro
      |  FROM vocab vo CROSS JOIN classes cl CROSS JOIN vsize vs
      |  LEFT JOIN counts c ON c.g = vo.g AND c.label = cl.label
      |), test_terms AS (
      |  SELECT id, label, g, CAST(count(*) AS BIGINT) AS n_td
      |  FROM grams WHERE NOT is_train GROUP BY 1, 2, 3
      |), scores AS (
      |  SELECT t.id, t.label, w.cls,
      |    CAST(sum(t.n_td * w.w_micro) AS BIGINT) + any_value(p.prior_micro)
      |      AS score
      |  FROM test_terms t JOIN grid w ON t.g = w.g
      |  JOIN priors p ON p.label = w.cls
      |  GROUP BY 1, 2, 3
      |), best AS (
      |  SELECT id, label, cls,
      |    row_number() OVER (PARTITION BY id ORDER BY score DESC, cls) AS rk
      |  FROM scores
      |)
      |SELECT label AS actual, cls AS predicted, CAST(count(*) AS BIGINT) AS n
      |FROM best WHERE rk = 1 GROUP BY 1, 2""".stripMargin
}
