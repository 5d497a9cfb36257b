package graft

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import graft.operators.{Graph, Hierarchy}

/** Deep-chain fixtures: the level-loop (Hierarchy.flatten) and
  * pointer-jumping (Graph.connectedComponents) claims proven beyond the
  * shallow star fixtures — a 12-level chain with branches, the maxDepth
  * cycle guard, and a 300-node path graph that converges in ≤ 12 rounds
  * ONLY if label propagation is genuinely O(log D) (naive neighbor-min
  * needs 299). */
class DeepHierarchySpec extends SparkSpec {
  import spark.implicits._

  test("flatten: 12-deep chain with a mid-depth branch keeps exact depths and paths") {
    // chain 0 -> 1 -> ... -> 12, plus branch 100 hanging off node 6
    val edges = ((1L to 12L).map(i => (i, Some(i - 1))) :+
      (0L, None: Option[Long]) :+ (100L, Some(6L))).toDF("child", "parent")
    val flat = Hierarchy.flatten(edges, "child", "parent")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getString(3)))).toMap
    assert(flat.size == 14)
    assert(flat(0L) == ((0L, 0, "0")))
    assert(flat(12L) == ((0L, 12, (0L to 12L).mkString(">"))))
    assert(flat(100L) == ((0L, 7, (0L to 6L).mkString(">") + ">100")))
    // depth histogram: one node per chain level, plus the branch at 7
    assert(flat.values.count(_._2 == 7) == 2)
  }

  test("flatten: each level is one counted pin, with no probe job and no cached edges") {
    val edges = ((1L to 12L).map(i => (i, Some(i - 1))) :+
      (0L, None: Option[Long]) :+ (100L, Some(6L))).toDF("child", "parent")
    var flat: org.apache.spark.sql.DataFrame = null
    val events = eventsDuring { flat = Hierarchy.flatten(edges, "child", "parent") }
    val jobs = events.collect { case j: SparkListenerJobStart => j }
    // depths 0..12, plus the empty depth-13 pin that ends the loop
    val pins = 14
    assert(jobs.size <= 2 * pins, s"${jobs.size} jobs: ${jobs.map(callSite)}")
    assert(!jobs.map(callSite).exists(_.startsWith("isEmpty")), jobs.map(callSite))
    val plans = events.collect { case e: SparkListenerSQLExecutionStart => e.physicalPlanDescription }
    assert(plans.size == pins)
    assert(!plans.exists(_.contains("InMemory")), "a level read cached edges")
    assert(flat.count() == 14)
  }

  test("flatten: maxDepth truncates a 25-deep chain at the bound (runaway-cycle guard)") {
    val edges = ((1L to 25L).map(i => (i, Some(i - 1))) :+
      (0L, None: Option[Long])).toDF("child", "parent")
    val flat = Hierarchy.flatten(edges, "child", "parent", maxDepth = 20)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(flat.size == 21, "levels beyond maxDepth must be absent")
    assert(flat.values.max == 20)
    // and the full chain resolves when the bound allows it
    val full = Hierarchy.flatten(edges, "child", "parent", maxDepth = 30)
    assert(full.count() == 26)
  }

  test("subtree rollup: deep-chain sums reach every ancestor exactly once") {
    val edges = ((1L to 12L).map(i => (i, Some(i - 1))) :+
      (0L, None: Option[Long])).toDF("child", "parent")
    val vals = (0L to 12L).map(i => (i, 1L << i)).toDF("node", "cents")
    val flat = Hierarchy.flatten(edges, "child", "parent")
    val got = Hierarchy.subtreeRollup(flat, vals, "node", "cents")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // subtree of node k = nodes k..12: count 13-k, cents 2^13 - 2^k
    for (k <- 0 to 12)
      assert(got(k.toString) == (((13 - k).toLong, (1L << 13) - (1L << k))),
        s"wrong rollup at depth $k: ${got(k.toString)}")
  }

  test("connected components: a 300-node path converges within the default 12 rounds") {
    // pointer jumping doubles label reach per round: log2(300) ~ 9 rounds.
    // Pure neighbor-min propagation would need 299 — hitting the min
    // label on every node proves the O(log D) mechanism, not just the
    // result.
    val n = 300L
    val nodes = (0L until n).toDF("id")
    val edges = (1L until n).map(i => (i - 1, i)).toDF("a", "b")
    val labels = Graph.connectedComponents(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n)
    assert(labels.values.forall(_ == 0L),
      s"path not fully labeled: ${labels.filter(_._2 != 0L).take(5)}...")
  }
}
