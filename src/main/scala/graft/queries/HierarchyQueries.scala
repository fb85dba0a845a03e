package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators._

/** Batch 2a: hierarchy operators (SURVEY.md §2 C) on the synthetic
  * taxonomy ROOT → region → nation → customer (the analog of niamoto's
  * family → genus → species tree, with customers as the big leaf set).
  */
object HierarchyQueries {

  /** ROOT/R<k>/N<k>/C<k> node table for the 4-level tree. */
  def taxonomyNodes(s: SparkSession, dir: String): DataFrame = {
    val root = s.sql(
      "SELECT 'ROOT' AS node_id, CAST(NULL AS STRING) AS parent_id, CAST(0 AS BIGINT) AS sort_key")
    val regions = Tables.region(s, dir).select(
      concat(lit("R"), col("r_regionkey")).as("node_id"),
      lit("ROOT").as("parent_id"),
      col("r_regionkey").cast("long").as("sort_key"))
    val nations = Tables.nation(s, dir).select(
      concat(lit("N"), col("n_nationkey")).as("node_id"),
      concat(lit("R"), col("n_regionkey")).as("parent_id"),
      col("n_nationkey").cast("long").as("sort_key"))
    val custs = Tables.customer(s, dir).select(
      concat(lit("C"), col("c_custkey")).as("node_id"),
      concat(lit("N"), col("c_nationkey")).as("parent_id"),
      col("c_custkey").as("sort_key"))
    root.unionByName(regions).unionByName(nations).unionByName(custs)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hierarchy_rollup" -> { (s, dir) =>
      val denorm = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      Hierarchy.rollupAggregate(
        denorm, Seq("r_name", "n_name"),
        Seq(count(lit(1)).as("n_customers"), Num.dsum(col("c_acctbal")).as("acctbal_sum")))
    },
    "q_nested_set" -> { (s, dir) =>
      Hierarchy.nestedSet(taxonomyNodes(s, dir))
    },
    "q_tree_paths" -> { (s, dir) =>
      Hierarchy.materializedPaths(taxonomyNodes(s, dir))
    },
    "q_subtree_agg" -> { (s, dir) =>
      val facts = Tables.customer(s, dir).select(
        concat(lit("C"), col("c_custkey")).as("fact_node"), col("c_acctbal"))
      Hierarchy.subtreeAggregate(
        taxonomyNodes(s, dir), facts, "fact_node",
        Seq(count(lit(1)).as("n_facts"), Num.dsum(col("c_acctbal")).as("acctbal_sum")))
    },
    // nested-set subtree select (loaders/nested_set.py) through the
    // custom interval-stabbing plan: label the tree, stab every node's
    // lft against the region-level [lft, rght] intervals, count per
    // subtree. The oracle counts subtree membership relationally —
    // wrong labels or wrong stabbing both break the match.
    "q_interval_join" -> { (s, dir) =>
      // the labeled tree feeds both join sides: labeled once, into
      // blocks that go with the frame (a persist would outlive it)
      val ns = Hierarchy.nestedSet(taxonomyNodes(s, dir)).localCheckpoint(eager = false)
      val regions = ns.where(col("level") === 1).select(
        col("node_id").as("anc_id"),
        col("lft").as("anc_lft"), col("rght").as("anc_rght"))
      graft.plans.IntervalJoin.join(ns, regions, "lft", "anc_lft", "anc_rght")
        .groupBy("anc_id").agg(count(lit(1)).as("n_desc"))
        .orderBy("anc_id")
    },
  )

  import CoreQueries.dsum

  val oracles: Map[String, String] = Map(
    "q_hierarchy_rollup" -> s"""
      SELECT r_name, n_name, CAST(GROUPING_ID(r_name, n_name) AS INT) AS gid,
             COUNT(*) AS n_customers, ${dsum("c_acctbal")} AS acctbal_sum
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY gid, r_name NULLS FIRST, n_name NULLS FIRST""",
    "q_nested_set" -> """
      WITH nc AS (SELECT c_nationkey AS nk, COUNT(*) AS ncust FROM customer GROUP BY 1),
      nat AS (
        SELECT n_nationkey, n_regionkey, 1 + COALESCE(ncust, 0) AS size
        FROM nation LEFT JOIN nc ON nk = n_nationkey),
      reg AS (
        SELECT r_regionkey, 1 + COALESCE(SUM(size), 0) AS size
        FROM region LEFT JOIN nat ON n_regionkey = r_regionkey GROUP BY 1),
      total AS (SELECT 1 + SUM(size) AS size FROM reg),
      reg_lft AS (
        SELECT r_regionkey, size,
               2 + 2 * COALESCE(SUM(size) OVER (ORDER BY r_regionkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lft
        FROM reg),
      nat_lft AS (
        SELECT n.n_nationkey, n.n_regionkey, n.size,
               r.lft + 1 + 2 * COALESCE(SUM(n.size) OVER (PARTITION BY n.n_regionkey
                 ORDER BY n.n_nationkey ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lft
        FROM nat n JOIN reg_lft r ON n.n_regionkey = r.r_regionkey),
      cust_lft AS (
        SELECT c.c_custkey, c.c_nationkey,
               n.lft + 1 + 2 * (ROW_NUMBER() OVER (PARTITION BY c.c_nationkey
                 ORDER BY c.c_custkey) - 1) AS lft
        FROM customer c JOIN nat_lft n ON c.c_nationkey = n.n_nationkey)
      SELECT * FROM (
        SELECT 'ROOT' AS node_id, CAST(NULL AS VARCHAR) AS parent_id, 0 AS level,
               CAST(1 AS BIGINT) AS lft, CAST(2 * size AS BIGINT) AS rght FROM total
        UNION ALL
        SELECT 'R' || r_regionkey, 'ROOT', 1, CAST(lft AS BIGINT),
               CAST(lft + 2 * size - 1 AS BIGINT) FROM reg_lft
        UNION ALL
        SELECT 'N' || n_nationkey, 'R' || n_regionkey, 2, CAST(lft AS BIGINT),
               CAST(lft + 2 * size - 1 AS BIGINT) FROM nat_lft
        UNION ALL
        SELECT 'C' || c_custkey, 'N' || c_nationkey, 3, CAST(lft AS BIGINT),
               CAST(lft + 1 AS BIGINT) FROM cust_lft
      ) ORDER BY lft""",
    "q_interval_join" -> """
      SELECT 'R' || r_regionkey AS anc_id,
             1 + COUNT(DISTINCT n_nationkey) + COUNT(c_custkey) AS n_desc
      FROM region
      LEFT JOIN nation ON n_regionkey = r_regionkey
      LEFT JOIN customer ON c_nationkey = n_nationkey
      GROUP BY 1 ORDER BY 1""",
    "q_tree_paths" -> """
      WITH RECURSIVE nodes AS (
        SELECT 'ROOT' AS node_id, CAST(NULL AS VARCHAR) AS parent_id
        UNION ALL SELECT 'R' || r_regionkey, 'ROOT' FROM region
        UNION ALL SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
        UNION ALL SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer),
      paths(node_id, full_path, level) AS (
        SELECT node_id, node_id, 0 FROM nodes WHERE parent_id IS NULL
        UNION ALL
        SELECT n.node_id, p.full_path || '|' || n.node_id, p.level + 1
        FROM nodes n JOIN paths p ON n.parent_id = p.node_id)
      SELECT node_id, full_path, CAST(level AS INT) AS level
      FROM paths ORDER BY full_path""",
    "q_subtree_agg" -> s"""
      WITH RECURSIVE nodes AS (
        SELECT 'ROOT' AS node_id, CAST(NULL AS VARCHAR) AS parent_id
        UNION ALL SELECT 'R' || r_regionkey, 'ROOT' FROM region
        UNION ALL SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
        UNION ALL SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer),
      closure AS (
        SELECT node_id, node_id AS ancestor_id FROM nodes
        UNION ALL
        SELECT c.node_id, n.parent_id
        FROM closure c JOIN nodes n ON c.ancestor_id = n.node_id
        WHERE n.parent_id IS NOT NULL),
      facts AS (SELECT 'C' || c_custkey AS node_id, c_acctbal FROM customer)
      SELECT cl.ancestor_id, COUNT(*) AS n_facts, ${dsum("f.c_acctbal")} AS acctbal_sum
      FROM facts f JOIN closure cl ON f.node_id = cl.node_id
      GROUP BY cl.ancestor_id ORDER BY cl.ancestor_id""",
  )
}
