package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.NegativeSample

/** The basket form of the labeled frame against the DISTINCT +
  * anti-join form that the oracle SQL spells out. */
class NegativeSampleSpec extends SparkSpec {
  import spark.implicits._

  /** The reference: distinct positives, k LCG candidates per positive,
    * candidate distinct, anti-join against the positives. */
  private def antiJoinForm(purchases: DataFrame, n: Long, k: Int): DataFrame = {
    val pos = purchases.select("user_id", "item_id").distinct()
    val cands = pos
      .withColumn("__j", explode(sequence(lit(0), lit(k - 1))))
      .select(col("user_id"),
        expr(s"((user_id * 131071L + item_id * 524287L + __j * 8191L)" +
          s" % 1000003L) % ${n}L + 1L").as("item_id"))
      .distinct()
    pos.withColumn("label", lit(1))
      .unionByName(cands.join(pos, Seq("user_id", "item_id"), "left_anti")
        .withColumn("label", lit(0)))
  }

  private def basketForm(purchases: DataFrame, n: Long, k: Int): DataFrame =
    NegativeSample.labeled(NegativeSample.baskets(purchases), lit(n), k)

  private def rows(df: DataFrame): Seq[(Long, Long, Int)] =
    df.select("user_id", "item_id", "label").as[(Long, Long, Int)]
      .collect().toSeq.sorted

  /** How many of the k draws per purchase against a catalog of n land
    * on one of the user's items, and how many repeat another draw of
    * the same user. */
  private def collisions(purchases: Seq[(Long, Long)], n: Long, k: Int) = {
    def draw(u: Long, i: Long, j: Int) =
      ((u * 131071L + i * 524287L + j * 8191L) % 1000003L) % n + 1L
    val baskets = purchases.groupBy(_._1)
      .map { case (u, ps) => u -> ps.map(_._2).toSet }
    val draws = for ((u, items) <- baskets.toSeq; i <- items.toSeq;
                     j <- 0 until k) yield u -> draw(u, i, j)
    val withPositives = draws.count { case (u, d) => baskets(u)(d) }
    val withEachOther = draws.size - draws.distinct.size
    (withPositives, withEachOther)
  }

  test("the basket form equals the anti-join form on colliding candidates") {
    // duplicate purchases (1, 3) and (2, 5); with a 5-item catalog and
    // 3 draws, candidates land on positives and on each other
    val purchases = Seq((1L, 3L), (1L, 3L), (1L, 1L), (1L, 4L),
      (2L, 5L), (2L, 5L), (2L, 2L), (3L, 1L), (3L, 2L), (3L, 3L),
      (3L, 4L), (3L, 5L), (4L, 2L))
    val (withPositives, withEachOther) = collisions(purchases, 5L, 3)
    assert(withPositives > 0 && withEachOther > 0)
    val df = purchases.toDF("user_id", "item_id")
    val expected = rows(antiJoinForm(df, 5L, 3))
    assert(rows(basketForm(df, 5L, 3)) === expected)
    assert(expected.count(_._3 == 0) > 0)
  }

  test("a one-item catalog: every draw is item 1") {
    val df = Seq((1L, 1L), (1L, 1L), (2L, 1L), (2L, 7L), (3L, 9L))
      .toDF("user_id", "item_id")
    val expected = rows(antiJoinForm(df, 1L, 3))
    assert(rows(basketForm(df, 1L, 3)) === expected)
    // only users without item 1 get the one negative
    assert(expected.filter(_._3 == 0) === Seq((3L, 1L, 0)))
  }

  test("user_act is the user's distinct item count on every row") {
    val df = Seq((1L, 3L), (1L, 3L), (1L, 1L), (2L, 5L))
      .toDF("user_id", "item_id")
    val acts = basketForm(df, 5L, 3)
      .select("user_id", "user_act").distinct().as[(Long, Long)]
      .collect().toMap
    assert(acts === Map(1L -> 2L, 2L -> 1L))
  }

  test("a null key fails the call and names its column") {
    def message(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString("\n")
    def failure(df: DataFrame): String =
      message(intercept[Exception](basketForm(df, 5L, 3).collect()))
    assert(failure(Seq((1L, Some(2L)), (1L, None)).toDF("user_id", "item_id"))
      .contains("NegativeSample: null item_id"))
    assert(failure(Seq((Some(1L), 2L), (None, 3L)).toDF("user_id", "item_id"))
      .contains("NegativeSample: null user_id"))
  }
}
