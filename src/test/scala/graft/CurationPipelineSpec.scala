package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.CurationPipeline

/** Composed curation pipeline: stage-count accounting and inter-stage
  * contracts no per-key gate can see. */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("stage accounting: drops per stage sum to input minus output") {
    val acc = CurationPipeline.curationPipelineDocs(spark, sfDir)
      .orderBy("stage_rank")
      .as[(Int, String, Long, Long, Long)].collect()
    assert(acc.map(_._2).toSeq == Seq("quality_floor", "dedup_exact",
      "neardup_minhash", "substring_cut", "decontaminate",
      "importance_select", "submix_temperature", "shard_assign"))
    // the planted whitespace-doubled twins reach the near-dup stage
    // (exact dedup can't see them) and are cut there
    assert(acc.find(_._2 == "neardup_minhash").get._5 > 0,
      "the near-dup stage dropped nothing despite the planted twins")
    acc.foreach { case (_, stage, nIn, nKept, nDropped) =>
      assert(nDropped == nIn - nKept, s"$stage accounting broken")
      assert(nKept >= 0 && nKept <= nIn, s"$stage kept outside [0, n_in]")
    }
    // each stage's input IS the previous stage's output
    acc.sliding(2).foreach { case Array(prev, next) =>
      assert(next._3 == prev._4,
        s"${next._2} input ${next._3} != ${prev._2} output ${prev._4}")
    }
    // total drop accounting: sum of drops == corpus - final
    val corpus = acc.head._3
    val fin = acc.last._4
    assert(acc.map(_._5).sum == corpus - fin)
    // the export stage never drops
    assert(acc.last._5 == 0L)
    // the pipeline actually curates: something was dropped overall
    assert(fin < corpus && fin > 0)
  }

  private def plantedDocs =
    CurationPipeline.plantNearDups(graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text", "source", "lang"))

  test("accounting: n_kept is each stage frame's count, taken inside the pins") {
    var acc: DataFrame = null
    val counted = jobsDuring { acc = CurationPipeline.accounting(plantedDocs) }
    var counts: Seq[(String, Long)] = Nil
    val pinThenCount = jobsDuring {
      counts = CurationPipeline.stageFrames(plantedDocs)
        .map { case (stage, df) => stage -> df.count() }
    }
    val kept = acc.as[(Int, String, Long, Long, Long)].collect()
      .map(r => r._2 -> r._4).toMap
    assert(kept == counts.tail.toMap)
    // one count per frame (input + 8 stages), each at least one job
    assert(pinThenCount - counted >= 9,
      s"accounting ran $counted jobs, pins then 9 counts $pinThenCount")
  }

  test("trace: per-doc drop attribution ties out against the accounting") {
    val acc = CurationPipeline.curationPipelineDocs(spark, sfDir)
      .as[(Int, String, Long, Long, Long)].collect()
      .map(r => r._2 -> r._5).toMap
    val trace = CurationPipeline.curationTraceDocs(spark, sfDir)
      .groupBy("stage_dropped").count()
      .as[(String, Long)].collect().toMap
    acc.foreach { case (stage, nDropped) =>
      assert(trace.getOrElse(stage, 0L) == nDropped,
        s"trace count for $stage must equal the accounting's n_dropped")
    }
    // kept count = final survivors
    val fin = CurationPipeline.curationPipelineDocs(spark, sfDir)
      .orderBy(desc("stage_rank")).limit(1)
      .select("n_kept").as[Long].head()
    assert(trace("kept") == fin)
    // every doc the near-dup stage dropped is a planted +1M twin (its
    // original has the smaller id, so the class minimum is never cut)
    val ndDropped = CurationPipeline.curationTraceDocs(spark, sfDir)
      .filter($"stage_dropped" === "neardup_minhash")
      .select("doc_id").as[Long].collect()
    assert(ndDropped.nonEmpty && ndDropped.forall(_ >= 1000000L))
  }

  test("ctx_truncation: kept+dropped = n_tokens, pad complements to ctx") {
    val out = graft.functions.BpeEncode.ctxTruncationDocs(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Boolean, Long)].collect()
    assert(out.nonEmpty)
    val ctx = graft.functions.BpeEncode.GatedCtxLen
    out.foreach { case (_, n, kept, dropped, pad, trunc, util) =>
      assert(kept + dropped == n)
      assert(kept + pad >= ctx && (pad == 0 || dropped == 0))
      assert(trunc == (n > ctx))
      assert(util == (1000L * kept) / ctx)
    }
    // both regimes occur in the corpus at ctx=256
    assert(out.exists(_._6) && out.exists(!_._6))
  }

  test("inter-stage contracts: dedup before substring, bench fully excluded") {
    val frames = CurationPipeline.stageFrames(
      graft.Tables.documents(spark, sfDir)
        .select("doc_id", "text", "source", "lang")).toMap
    // after dedup_exact no two survivors share content
    val s2 = frames("dedup_exact")
    assert(s2.groupBy(sha2($"text", 256)).count()
      .filter($"count" > 1).count() == 0)
    // after decontaminate no survivor is a benchmark member
    val s4 = frames("decontaminate")
    assert(s4.filter(pmod($"doc_id", lit(17)) === 0).count() == 0)
    // monotone: survivor sets only shrink (s5 ⊆ s4)
    val s5 = frames("importance_select")
    assert(s5.join(s4, Seq("doc_id"), "left_anti").count() == 0)
  }
}
