package graft

import org.apache.spark.sql.functions._
import graft.operators.Covisitation

/** Planted-ground-truth checks for the co-visitation recommender:
  * pair counts, the top-M cap order, history exclusion, the power-user
  * basket cap, and hand-computed recall/MAP on a tiny holdout. */
class CovisitationSpec extends SparkSpec {
  import spark.implicits._

  test("covisit counts users sharing both items; cap keeps top-M by (n, item)") {
    // items 1,2,3: u1: {1,2,3}  u2: {1,2}  u3: {1,3}
    // → c(1,2)=2 c(1,3)=2 c(2,3)=1
    val ui = Seq(("u1", 1L), ("u1", 2L), ("u1", 3L), ("u2", 1L),
      ("u2", 2L), ("u3", 1L), ("u3", 3L), ("u3", 3L)).toDF("u", "i")
    val m = Covisitation.covisitTopM(ui, "u", "i", m = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // per item_a keep 1 neighbor: ties (1: 2=2, 3=2) break item ASC → 2
    assert(m === Set((1L, 2L, 2L), (2L, 1L, 2L), (3L, 1L, 2L)))
  }

  test("maxBasket drops power users whole") {
    val big = (101L to 150L).map(i => ("bot", i)) ++
      Seq(("u1", 1L), ("u1", 2L), ("u2", 1L), ("u2", 2L))
    val m = Covisitation.covisitTopM(big.toDF("u", "i"), "u", "i",
      m = 5, maxBasket = 10)
    // only u1/u2 survive: every pair count is 2, none includes bot-only items
    assert(m.agg(max("n_users")).head.getLong(0) === 2L)
    assert(m.count() === 2L) // (1,2) and (2,1)
  }

  test("recommend scores sum capped counts and excludes history") {
    val hist = Seq(("u1", 1L), ("u1", 2L)).toDF("u", "i")
    val cov = Seq((1L, 2L, 5L, 1L), (1L, 3L, 3L, 2L),
      (2L, 3L, 2L, 1L), (2L, 4L, 1L, 2L))
      .toDF("item_a", "item_b", "n_users", "rk")
    val recs = Covisitation.recommend(hist, cov, cov.count(), "u", "i", k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // 2 excluded (history); 3 = 3+2 = 5 at rank 1, 4 = 1 at rank 2
    assert(recs.toSeq === Seq((3L, 5L, 1L), (4L, 1L, 2L)))
  }

  test("evaluate: exact hits, truncating recall and MAP on a planted holdout") {
    // u1 recs [x(hit), y, z(hit)]; truth {x, z, w} (n_rel=3)
    val recs = Seq(("u1", "x", 9L, 1L), ("u1", "y", 8L, 2L), ("u1", "z", 7L, 3L))
      .toDF("u", "i", "score", "rk")
    val truth = Seq(("u1", "x"), ("u1", "z"), ("u1", "w")).toDF("u", "i")
    val ev = Covisitation.evaluate(recs, truth, "u", "i", Seq(3))
      .collect().head
    assert(ev.getAs[Long]("n_users") === 1L)
    assert(ev.getAs[Long]("n_hits") === 2L)
    // precision@3 = 2/3 → 666666; recall = 2/3 → 666666
    assert(ev.getAs[Long]("precision_permicro") === 666666L)
    assert(ev.getAs[Long]("recall_permicro") === 666666L)
    // AP numerator: rank1 hit → 1e6·1/1; rank3 hit → 1e6·2/3=666666
    // ap = (1000000+666666) div min(3,3) = 555555
    assert(ev.getAs[Long]("map_permicro") === 555555L)
  }

  test("gated instances return rows at sf0.001") {
    assert(Covisitation.covisitParts(spark, sfDir).count() > 0)
    val ev = Covisitation.recsysEval(spark, sfDir)
    assert(ev.count() === 4)
  }
}
