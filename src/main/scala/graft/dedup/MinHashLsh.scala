package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Checkpoints, Tables}

/** MinHash + LSH near-duplicate detection — the flagship linear-scale
  * near-dup path for a 100 TB corpus.
  *
  * Pipeline: word-trigram shingles → 32-component MinHash signature
  * (min over shingles of seeded xxhash64) → 16 bands × 2 rows → band
  * buckets → candidate pairs within buckets → exact Jaccard verification
  * → per-doc representative (min verified neighbor).
  *
  * Detection probability at Jaccard j is 1-(1-j²)¹⁶: ≈0.99 at j=0.5,
  * ≈1 at j≥0.7, while unrelated docs (j≈0.05) almost never collide —
  * so candidate volume stays linear in corpus size. Everything through
  * banding is a map-side expression pipeline (no UDFs); the signature
  * itself is the compiled [[graft.functions.MinHashSignature]] — one
  * O(|shingles|·32) long loop per document, the pass that runs once per
  * corpus row at 100 TB. The only shuffles are the band-bucket join and
  * the signature join-back, both on uniformly-distributed hash keys.
  */
object MinHashLsh {

  val SigLen = 32
  val Bands = 16
  val RowsPerBand = SigLen / Bands

  /** MinHash signature of a hashed-shingle array (compiled expression,
    * registered on the active session). */
  def signature(hashedShingleArr: Column): Column =
    graft.functions.Native.call("graft_minhash_signature",
      exprs => graft.functions.MinHashSignature(exprs.head, SigLen), hashedShingleArr)

  /** Signature table (__id, __sh hashed shingles, __sig minhash array),
    * materialized once — by design: at scale the table is |docs| ×
    * (32 longs + hashed shingles), tiny next to the corpus, and both the
    * banding join and the verification join-back read it.
    * localCheckpoint (EAGER — one job at construction) rather than
    * cache(): checkpoint blocks are released by the ContextCleaner when
    * the plan is garbage collected, so a library caller looping over
    * corpora doesn't accumulate pinned signature tables the way
    * un-unpersisted cache() entries did. Shared by the banded pipeline
    * and the full-signature degeneracy gate so the two can never
    * de-synchronize on shingling/signing. */
  private def sigTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("__id"), NGramJaccard.hashedShingles(col(textCol)).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .withColumn("__sig", signature(col("__sh")))
      .localCheckpoint()

  /** Exact-Jaccard verification of candidate (a_id, b_id) pairs against
    * the signature table's shingle sets — the one shared verify step. */
  private def verifyJaccard(cand: DataFrame, sig: DataFrame,
                            threshold: Double): DataFrame = {
    val nCommon = size(array_intersect(col("__sha"), col("__shb")))
    cand
      .join(sig.select(col("__id").as("a_id"), col("__sh").as("__sha")), "a_id")
      .join(sig.select(col("__id").as("b_id"), col("__sh").as("__shb")), "b_id")
      .withColumn("jaccard",
        nCommon.cast("double") / (size(col("__sha")) + size(col("__shb")) - nCommon))
      .filter(col("jaccard") >= threshold)
  }

  /** Verified near-dup pairs (a_id < b_id, Jaccard ≥ threshold). */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double): DataFrame = {
    val sig = sigTable(docs, idCol, textCol)
    val bands = sig.select(col("__id"), explode(
      transform(sequence(lit(0), lit(Bands - 1)),
        j => struct(j.cast("int").as("band_idx"),
          xxhash64(element_at(col("__sig"), j * RowsPerBand + 1),
                   element_at(col("__sig"), j * RowsPerBand + 2)).as("band_h"))))
      .as("__b"))
      .select(col("__id"), col("__b.band_idx"), col("__b.band_h"))

    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_h") === col("b.band_h") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("a_id"), col("b.__id").as("b_id"))
      .distinct()

    verifyJaccard(cand, sig, threshold).select("a_id", "b_id", "jaccard")
  }

  /** Per-doc keeper assignment: rep_id = the minimum id of the document's
    * CONNECTED COMPONENT in the near-dup pair graph — so a transitive
    * chain a~b~c collapses to one keeper even when (a,c) was never a
    * direct pair (min-direct-neighbor would keep both a and c's docs).
    *
    * Algorithm: iterated GRAPH CONTRACTION with partition-local
    * union-find. Each round runs a min-root union-find over every edge
    * partition in one mapPartitions pass (a whole chain inside a
    * partition collapses at once — where hop-at-a-time label
    * propagation needs log₂(diameter) shuffle rounds, the r15 bench's
    * ~400-edge near-dup PATH took 8), takes the per-node min across
    * partitions, relabels both edge endpoints, and drops the edges that
    * became intra-component. Edges shrink by roughly the per-partition
    * component size every round — 1 round when the graph fits one
    * partition, 2-3 at any realistic scale — and the maxRounds bound of
    * 10 is a pathology backstop (non-convergence logs a warning: a
    * dangling rep_id would point at a doc that is itself flagged
    * duplicate). Converged labels are the global component minimum, so
    * the result is partitioning-independent.
    *
    * The loop's shuffles are EDGE-GRAPH sized, not corpus sized, but
    * AQE's parallelismFirst keeps every post-shuffle stage at full
    * parallelism (32 near-empty tasks per stage dominated the r15
    * bench) — so the loop sizes its shuffle partitions to the measured
    * edge count and restores the session setting after; at 100 TB the
    * cap is the session setting, unchanged. Ids must be integral (every
    * dedup id in the engine is a long doc key). */
  def assignReps(docs: DataFrame, idCol: String, pairs: DataFrame,
                 maxRounds: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (edges0, edgeRows) = Checkpoints.pinCounted(pairs
      .select(col("a_id").cast("long").as("_1"), col("b_id").cast("long").as("_2")))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val loopParts = math.max(1L,
      math.min(prevParts.toLong, edgeRows / 2000000L + 1L)).toInt
    spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    val mapping = try {
      var e = edges0.as[(Long, Long)].coalesce(loopParts)
      var remaining = edgeRows
      var round = 0
      var m: DataFrame = null // cumulative (__node, rep_id)
      while (remaining > 0 && round < maxRounds) {
        val g = e.mapPartitions(localMinUnionFind)
          .toDF("__node", "__lbl")
          .groupBy("__node").agg(min("__lbl").as("__lbl"))
          .localCheckpoint()
        val (next, nextRows) = Checkpoints.pinCounted(e.toDF("__a", "__b")
          .join(g.select(col("__node").as("__a"), col("__lbl").as("__la")), "__a")
          .join(g.select(col("__node").as("__b"), col("__lbl").as("__lb")), "__b")
          .filter(col("__la") =!= col("__lb"))
          .select(least(col("__la"), col("__lb")).as("_1"),
            greatest(col("__la"), col("__lb")).as("_2"))
          .distinct())
        e = next.as[(Long, Long)]
        remaining = nextRows
        round += 1
        // compose: previous labels that g re-contracts follow it; ≤
        // maxRounds lazy joins of checkpointed frames, lineage bounded
        m = if (m == null) g
        else m.join(g.select(col("__node").as("__lbl"), col("__lbl").as("__lbl2")),
            Seq("__lbl"), "left")
          .select(col("__node"), coalesce(col("__lbl2"), col("__lbl")).as("__lbl"))
      }
      if (remaining > 0)
        System.err.println(
          s"WARN assignReps: contraction did not converge in $maxRounds rounds; " +
            "some rep_id values may reference non-component-minimum docs")
      m
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    if (mapping == null)
      docs.select(col(idCol), col(idCol).cast("long").as("rep_id"))
        .withColumn("is_dup", lit(0))
    else
      // the corpus-sized join back is LAZY: it plans at the caller's
      // action, under the restored session parallelism
      docs.select(col(idCol).cast("long").as("__node"))
        .join(mapping, Seq("__node"), "left")
        .select(col("__node").as(idCol),
          coalesce(col("__lbl"), col("__node")).as("rep_id"))
        .withColumn("is_dup", (col("rep_id") =!= col(idCol)).cast("int"))
  }

  /** Min-root union-find with path compression over one edge partition:
    * emits (node, partition-local component min) for every endpoint. */
  private[dedup] def localMinUnionFind(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- it) {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      // record endpoints so isolated-in-this-partition nodes still emit
      parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
    }
    parent.keysIterator.map(n => (n, find(n))).toSeq.iterator
  }

  /** Degeneracy gate (the ann_*_exhaustive trick): ONE band spanning the
    * WHOLE signature — the bucket key is a hash of all 32 minhash
    * components. Identical shingle sets always produce identical
    * signatures, so every Jaccard-1 pair is a candidate (zero false
    * negatives at threshold 1.0), and the exact set verification keeps
    * only shingle-set-identical pairs. The output is therefore exactly
    * "pairs of documents with equal trigram-shingle sets" — which IS
    * SQL-expressible, so the minhash machinery (compiled signature
    * expression, banding explode, bucket join, verify join-back) runs
    * inside a DuckDB hash gate. The banded probabilistic form stays the
    * declared 100 TB path; this pins its plumbing. */
  def identicalShingleSetPairs(docs: DataFrame, idCol: String,
                               textCol: String): DataFrame = {
    val sig = sigTable(docs, idCol, textCol)
    // one band = the full signature: xxhash64 over the whole array
    val bucket = sig.select(col("__id"), xxhash64(col("__sig")).as("band_h"))
    val cand = bucket.as("a").join(bucket.as("b"),
        col("a.band_h") === col("b.band_h") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("a_id"), col("b.__id").as("b_id"))
      .distinct()
    verifyJaccard(cand, sig, threshold = 1.0)
      .select(col("a_id"), col("b_id"),
        size(col("__sha")).cast("int").as("n_common"))
  }

  // ---- query-map entry (#28, rows-gated; semantics asserted in ScalaTest) ----

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    assignReps(docs, "doc_id", nearDupPairs(docs, "doc_id", "text", threshold = 0.5))
  }

  // ---- degeneracy-gated sibling (hash-gated) ----

  /** The corpus carries no exact-duplicate texts at test SF, so the
    * gated instance PLANTS them (every 20th doc re-keyed at +1,000,000 —
    * the impute_median discipline: synthetic signal inside the gate so
    * the pipeline's positive path is exercised, with the oracle planting
    * identically). */
  def dedupMinhashExhaustive(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    identicalShingleSetPairs(docs.unionAll(planted), "doc_id", "text")
  }

  /** Equal-shingle-set pairs, straight from the text — the ground truth
    * the degenerate 1-band pipeline must reproduce exactly. */
  def exhaustiveOracleSql: String =
    """WITH docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0
      |), sh AS (
      |  SELECT doc_id, list_sort(list_distinct(
      |         list_transform(generate_series(1, len(ws)-2),
      |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) sg
      |  FROM (SELECT doc_id, string_split_regex(text, '\s+') ws FROM docs)
      |  WHERE len(ws) >= 3
      |)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(len(a.sg) AS INT) AS n_common
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND a.sg = b.sg""".stripMargin
}
