package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Checkpoints, Tables}

/** Parent-child hierarchy flattening (transitive closure).
  *
  * Re-expresses /root/reference/DataEngineering/Python/parent_child_recursion.py
  * — a pandas recursion over one machine's memory — as level-synchronous
  * iterative joins: the Spark analogue of a recursive CTE. Each round joins
  * the edge table against the current frontier, so total work is
  * O(edges × depth) with every round fully distributed; the loop count is
  * the hierarchy depth (single digits for real org/BOM charts), never the
  * row count.
  */
object Hierarchy {

  /** Flatten (child,parent) edges into (node, root_key, depth, path).
    * Roots are rows with null parent; depth 0 at the root; path is
    * root>…>node. `maxDepth` bounds runaway cycles. */
  def flatten(edges: DataFrame, childCol: String, parentCol: String,
              maxDepth: Int = 20): DataFrame = {
    // two pruned columns of the source scan, re-read by each level's
    // join: no cache
    val e = edges.select(col(childCol).as("__c"), col(parentCol).as("__p"))
    // Each level is one counted pin: lineage is truncated so the plan
    // tree stays O(1) per level (not O(depth)), the row count observed
    // in the pin's own job ends the loop at the first empty level (no
    // probe job), and the final union never recomputes a level.
    val (roots, rootRows) = Checkpoints.pinCounted(e.filter(col("__p").isNull)
      .select(col("__c").as("node"),
              col("__c").as("root_key"),
              lit(0).as("depth"),
              col("__c").cast("string").as("path")))
    val levels = scala.collection.mutable.ArrayBuffer(roots)
    var (frontier, rows) = (roots, rootRows)
    // levels holds depths 0 until levels.size; the loop count is the
    // hierarchy depth
    while (rows > 0 && levels.size <= maxDepth) {
      val (next, nextRows) = Checkpoints.pinCounted(
        e.join(frontier.withColumnRenamed("node", "__pn"),
            col("__p") === col("__pn"))
          .select(col("__c").as("node"), col("root_key"),
                  (col("depth") + 1).as("depth"),
                  concat(col("path"), lit(">"), col("__c").cast("string")).as("path")))
      if (nextRows > 0) levels += next
      frontier = next; rows = nextRows
    }
    levels.reduce(_ unionAll _)
  }

  /** Query-map entry: a deterministic multi-level hierarchy derived from
    * customer keys (parent = custkey/10, keys below 10 are roots) —
    * 4 levels at sf0.01, deeper as SF grows, so the oracle's recursive CTE
    * exercises real recursion at any scale. */
  def customerHierarchy(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.customer(spark, dir)
      .select(col("c_custkey").as("child"),
              when(col("c_custkey") >= 10, floor(col("c_custkey") / 10)).as("parent"))
    flatten(edges, "child", "parent")
  }

  def oracleSql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT c_custkey AS child,
      |         CASE WHEN c_custkey >= 10 THEN c_custkey // 10 END AS parent
      |  FROM customer
      |), flat AS (
      |  SELECT child AS node, child AS root_key, 0 AS depth,
      |         child::VARCHAR AS path
      |  FROM edges WHERE parent IS NULL
      |  UNION ALL
      |  SELECT e.child, f.root_key, f.depth + 1,
      |         f.path || '>' || e.child::VARCHAR
      |  FROM edges e JOIN flat f ON e.parent = f.node
      |)
      |SELECT node, root_key, depth, path FROM flat""".stripMargin

  /** Subtree rollup over an already-flattened hierarchy: aggregate every
    * node's measure into ALL of its ancestors (and itself) — the BOM
    * cost / org-chart headcount query. The ancestor set is read straight
    * off `flatten`'s path column (one map-side explode), so the rollup
    * is a single (ancestor)-keyed aggregate after an equi-join — no
    * per-level loop beyond the one `flatten` already ran. Fan-out is
    * depth-bounded: a node contributes depth+1 rows, and real
    * hierarchies are single-digit deep. */
  def subtreeRollup(flat: DataFrame, values: DataFrame,
                    nodeCol: String, centsCol: String): DataFrame = {
    val pairs = flat.select(
      explode(split(col("path"), ">")).as("__anc"),
      col("node").as(nodeCol))
    pairs.join(values, nodeCol)
      .groupBy(col("__anc"))
      .agg(count(lit(1)).as("n_subtree"), sum(col(centsCol)).as("subtree_cents"))
  }

  /** Query-map entry: account-balance cents rolled up the customer
    * hierarchy; ancestor keys re-cast to BIGINT for the gate. */
  def hierarchyRollup(spark: SparkSession, dir: String): DataFrame = {
    val bal = Tables.customer(spark, dir)
      .select(col("c_custkey").as("node"),
        round(col("c_acctbal") * 100).cast("long").as("__cents"))
    subtreeRollup(customerHierarchy(spark, dir), bal, "node", "__cents")
      .select(col("__anc").cast("long").as("anc_key"),
        col("n_subtree"), col("subtree_cents"))
  }

  def rollupOracleSql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT c_custkey AS child,
      |         CASE WHEN c_custkey >= 10 THEN c_custkey // 10 END AS parent
      |  FROM customer
      |), flat AS (
      |  SELECT child AS node, child::VARCHAR AS path
      |  FROM edges WHERE parent IS NULL
      |  UNION ALL
      |  SELECT e.child, f.path || '>' || e.child::VARCHAR
      |  FROM edges e JOIN flat f ON e.parent = f.node
      |), pairs AS (
      |  SELECT CAST(unnest(string_split(path, '>')) AS BIGINT) AS anc_key, node
      |  FROM flat
      |), bal AS (
      |  SELECT c_custkey AS node,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer
      |)
      |SELECT anc_key, count(*) AS n_subtree,
      |  CAST(sum(cents) AS BIGINT) AS subtree_cents
      |FROM pairs JOIN bal USING (node)
      |GROUP BY anc_key""".stripMargin
}
