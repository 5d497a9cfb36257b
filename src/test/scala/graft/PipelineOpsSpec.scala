package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Compaction, EmbedDocs, Sampling}

/** Specs for submix sampling (#22), compaction (#23), embed plumbing (#26). */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("submix keeps per-stratum fractions approximately and deterministically") {
    val docs = Tables.documents(spark, sfDir)
    val out = Sampling.submix(docs, "source", "doc_id", Sampling.DemoFracs)
    val kept = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    // dropped strata: absent entirely
    assert(!kept.contains("src7") && !kept.contains("src19"))
    // determinism: same result on re-run (different partitioning)
    val again = Sampling.submix(docs.repartition(13), "source", "doc_id", Sampling.DemoFracs)
      .select("doc_id").as[Long].collect().toSet
    val first = out.select("doc_id").as[Long].collect().toSet
    assert(first == again)
    // overall kept count within loose binomial bounds of the target
    val total = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    Sampling.DemoFracs.foreach { case (s, f) =>
      val n = total(s).toDouble
      val k = kept.getOrElse(s, 0L).toDouble
      assert(math.abs(k - f * n) <= math.max(5, 4 * math.sqrt(n * f * (1 - f)) + 2),
        s"stratum $s kept $k of $n at frac $f")
    }
  }

  test("hash split covers every row exactly once with stable assignment") {
    val docs = Tables.documents(spark, sfDir)
    val s = Sampling.hashSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(s.count() == docs.count())
    val bySplit = s.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
    // stability: same assignment under different partitioning
    val again = Sampling.hashSplit(docs.repartition(11), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val first = s.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(first == again)
  }

  test("compaction preserves content and reduces file count") {
    val out = Compaction.compactionOrders(spark, sfDir)
    val orig = Tables.orders(spark, sfDir)
    assert(out.count() == orig.count())
    assert(out.agg(sum(col("o_orderkey"))).as[Long].head() ==
      orig.agg(sum(col("o_orderkey"))).as[Long].head())
    val scratch = scratchOf(out)
    assert(Compaction.dataFileCount(spark, s"$scratch/small") == 64)
    assert(Compaction.dataFileCount(spark, s"$scratch/compacted") == 1)
  }

  /** The call's scratch dir: the parent of the read-back's `compacted`. */
  private def scratchOf(out: DataFrame): String =
    new Path(out.inputFiles.head).getParent.getParent.toUri.getPath

  test("compaction stages each call under its own tmp dir, rows unchanged") {
    val first = scratchOf(Compaction.compactionOrders(spark, sfDir))
    val out = Compaction.compactionOrders(spark, sfDir)
    val second = scratchOf(out)
    assert(first != second)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath
    Seq(first, second).foreach(p =>
      assert(new java.io.File(p).getParentFile.getCanonicalPath == tmp,
        s"$p is not under $tmp"))
    val orig = Tables.orders(spark, sfDir).select(out.columns.map(col): _*)
    assert(out.exceptAll(orig).isEmpty && orig.exceptAll(out).isEmpty)
  }

  test("embed plumbing: dim, unit norm, determinism, batch-size independence") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val out = EmbedDocs.embed(docs, "doc_id", "text")
      .select($"doc_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    assert(out.size == 100)
    assert(out.values.forall(_.length == EmbedDocs.Dim))
    assert(out.values.forall(v =>
      math.abs(v.map(x => x.toDouble * x).sum - 1.0) < 1e-5), "not unit-norm")
    // same text -> same vector regardless of partitioning/batch boundaries
    val again = EmbedDocs.embed(docs.repartition(7), "doc_id", "text")
      .select($"doc_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    assert(out == again)
  }

  test("encoder interface: one model init per partition, fixed-size batch dispatch") {
    CountingEncoderFactory.reset()
    val docs = Tables.documents(spark, sfDir).limit(150).repartition(4)
    val n = EmbedDocs.embed(docs, "doc_id", "text", CountingEncoderFactory).count()
    assert(n == 150)
    // the broadcast-model / actor-init contract: create() once per
    // partition, never per row or per batch
    assert(CountingEncoderFactory.creates.get() == 4,
      s"inits = ${CountingEncoderFactory.creates.get()}")
    val sizes = CountingEncoderFactory.sizes()
    assert(sizes.sum == 150)
    assert(sizes.forall(_ <= EmbedDocs.BatchSize), s"oversize batch in $sizes")
    // at most one ragged tail batch per partition; the rest are full
    assert(sizes.count(_ < EmbedDocs.BatchSize) <= 4, s"under-full batches: $sizes")
  }

  test("hashed-BoW encoder: non-stub vectors match an independent formulation") {
    import EmbedDocs.HashedBowEncoder
    // independent computation: token COUNTS via groupBy, then one signed
    // write per distinct token — different code path than the per-token
    // accumulation loop in the encoder
    def expected(text: String): Array[Float] = {
      val v = new Array[Double](EmbedDocs.Dim)
      text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .groupBy(identity).foreach { case (tok, occs) =>
          val (idx, sign) = HashedBowEncoder.bucketAndSign(tok)
          v(idx) += sign * occs.length
        }
      val norm = math.sqrt(v.map(x => x * x).sum)
      if (norm == 0) new Array[Float](EmbedDocs.Dim) else v.map(x => (x / norm).toFloat)
    }
    val texts = Seq("the quick brown fox", "the quick brown fox jumps",
      "completely different words entirely", "", "The THE the")
    val got = HashedBowEncoder.encodeBatch(texts)
    texts.lazyZip(got).foreach { (t, v) =>
      assert(v.sameElements(expected(t)), s"mismatch for '$t'")
    }
    // semantic sanity: overlapping vocabulary -> high cosine; disjoint -> low
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.lazyZip(b).map((x, y) => x.toDouble * y).sum
    assert(cos(got(0), got(1)) > 0.8, "shared-vocab cosine too low")
    assert(math.abs(cos(got(0), got(2))) < 0.5, "disjoint-vocab cosine too high")
    assert(got(3).forall(_ == 0f), "empty text must be the zero vector")

    // end-to-end through the factory plumbing: deterministic across
    // partitionings, unit norm for non-empty docs
    val docs = Tables.documents(spark, sfDir).limit(80)
    val a = EmbedDocs.embed(docs, "doc_id", "text", EmbedDocs.HashedBowEncoderFactory)
      .select($"doc_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    val b = EmbedDocs.embed(docs.repartition(5), "doc_id", "text",
        EmbedDocs.HashedBowEncoderFactory)
      .select($"doc_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    assert(a == b && a.size == 80)
    assert(a.values.forall(v =>
      math.abs(v.map(x => x.toDouble * x).sum - 1.0) < 1e-5))
  }

  test("random-projection encoder: vectors match a count-weighted independent formulation") {
    import EmbedDocs.RandomProjectionEncoder
    // independent path: distinct-token COUNTS via groupBy, one
    // count-scaled projection-row add per distinct token — vs the
    // encoder's per-occurrence accumulation loop
    def expected(text: String): Array[Float] = {
      val v = new Array[Double](EmbedDocs.Dim)
      text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .groupBy(identity).foreach { case (tok, occs) =>
          val tv = RandomProjectionEncoder.tokenVector(tok)
          for (j <- 0 until EmbedDocs.Dim) v(j) += tv(j) * occs.length
        }
      val norm = math.sqrt(v.map(x => x * x).sum)
      if (norm == 0) new Array[Float](EmbedDocs.Dim) else v.map(x => (x / norm).toFloat)
    }
    val texts = Seq("the quick brown fox", "the quick brown fox jumps",
      "completely different words entirely", "", "The THE the")
    val got = RandomProjectionEncoder.encodeBatch(texts)
    texts.lazyZip(got).foreach { (t, v) =>
      assert(v.sameElements(expected(t)), s"mismatch for '$t'")
    }
    // embedding semantics a stub cannot have: shared token bags are
    // close, disjoint vocabularies decorrelate, repetition is invariant
    // under normalization
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.lazyZip(b).map((x, y) => x.toDouble * y).sum
    assert(cos(got(0), got(1)) > 0.8, "shared-vocab cosine too low")
    assert(math.abs(cos(got(0), got(2))) < 0.5, "disjoint-vocab cosine too high")
    assert(got(3).forall(_ == 0f), "empty text must be the zero vector")
    assert(cos(got(4), RandomProjectionEncoder.encodeBatch(Seq("the")).head) > 0.999,
      "repeated single token must normalize to the token direction")
  }

  test("identity-projection twin: embed plumbing output ≡ embed_bow_expr") {
    // the degeneracy gate's core claim, asserted frame-level: the
    // mapPartitions/factory/batch path under SignedBowIntEncoder
    // reproduces the expression-built sparse BoW rows exactly —
    // including touched-but-zero-sum buckets — at any partitioning
    val viaPlumbing = EmbedDocs.embedDocumentsExhaustive(spark, sfDir)
    val viaExpr = graft.functions.BowVectors.embedBowExpr(spark, sfDir)
    assert(viaPlumbing.exceptAll(viaExpr).isEmpty &&
      viaExpr.exceptAll(viaPlumbing).isEmpty,
      "plumbing twin diverged from the expression form")
  }
}

/** Test double for [[EmbedDocs.EncoderFactory]]: counts model inits and
  * records dispatched batch sizes (statics are visible because local-mode
  * executors share the driver JVM). */
object CountingEncoderFactory extends EmbedDocs.EncoderFactory {
  val creates = new java.util.concurrent.atomic.AtomicInteger(0)
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
  def reset(): Unit = { creates.set(0); batches.clear() }
  def sizes(): List[Int] = {
    import scala.jdk.CollectionConverters._
    batches.asScala.map(_.toInt).toList
  }
  def create(): EmbedDocs.BatchEncoder = {
    creates.incrementAndGet()
    new EmbedDocs.BatchEncoder {
      def encodeBatch(texts: Seq[String]): Seq[Array[Float]] = {
        batches.add(texts.length)
        EmbedDocs.RandomProjectionEncoder.encodeBatch(texts)
      }
    }
  }
}
