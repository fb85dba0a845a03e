package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Hierarchy operators — the reference's taxonomy machinery.
  *
  * Niamoto builds reference trees (taxonomy, spatial containment) as
  * adjacency lists, labels them with nested-set `lft/rght` intervals
  * (`core/imports/hierarchy_builder.py:532`, single-threaded DFS), and
  * then selects/aggregates subtrees via `lft BETWEEN` (`core/plugins/
  * loaders/nested_set.py:147`).
  *
  * Spark re-expression:
  *  - nested-set labeling = `maxDepth` rounds of level-wise joins +
  *    one sibling-window per round — every round is a distributed
  *    shuffle, no driver-side DFS, so a 10⁹-leaf taxonomy labels in
  *    ~depth stages.
  *  - subtree aggregation = ancestor-closure explode + ONE `groupBy`
  *    (not a per-node interval query, and not an interval range join,
  *    which would be O(N·log N) with skewed intervals at the root).
  *
  * Node frame contract: `node_id: string, parent_id: string (null for
  * the root), sort_key: bigint` (sibling order).
  */
object Hierarchy {

  /** Nested-set labels: (node_id, parent_id, level, lft, rght), with
    * `lft` assigned in DFS preorder over siblings ordered by sort_key
    * and `rght = lft + 2·|subtree| − 1`.
    *
    * Closed form over the ancestor closure instead of a level-by-level
    * top-down walk: with `presum(a)` = Σ sizes of a's preceding
    * siblings,
    *
    *   lft(n) = 1 + depth(n) + 2 · Σ_{a ∈ ancestors-or-self(n)} presum(a)
    *
    * (each preceding subtree anywhere along the root path consumes two
    * labels per node before DFS reaches n; each ancestor consumes its
    * own `lft`). So after the closure (convergence-driven frontier
    * joins, shared shape with [[subtreeAggregate]]) the whole labeling
    * is one sibling window + one groupBy — no per-level persists, no
    * lineage growth, every shuffle partitioned by a key (never a
    * global scan), so the same plan holds at 10⁹ nodes.
    */
  def nestedSet(nodes: DataFrame, siblingBucketWidth: Long = 0L): DataFrame = {
    val ids = nodes.select("node_id", "parent_id", "sort_key")
    // read twice (sizes + lft), so computed once into locally
    // checkpointed blocks that go with the frame (a persist would stay
    // in the session's cache manager after the result is consumed).
    // Built over the bare rows: Spark 4.1 fails to infer constraints
    // through a union of checkpointed frontiers (`key not found:
    // ancestor_id` in Union.rewriteConstraints), so no plan above may
    // see the closure's union.
    val closureRows = ancestorClosure(ids)
    val closure = ColumnBridge.internalCreateDataFrame(ids.sparkSession,
      closureRows.queryExecution.toRdd.map(_.copy()).localCheckpoint(), closureRows.schema)
    // |subtree(a)| = closure rows with ancestor a (self included)
    val sizes = closure.groupBy(col("ancestor_id").as("node_id"))
      .agg(count(lit(1)).as("size"))
    val presum = siblingPresum(ids, sizes, siblingBucketWidth)
    val lft = closure.join(presum, "ancestor_id")
      .groupBy("node_id")
      .agg(
        (lit(1L) + max("dist") + sum("presum") * 2).as("lft"),
        max("dist").as("level"))
    ids.join(lft, "node_id").join(sizes, "node_id")
      .select(
        col("node_id"), col("parent_id"), col("level").cast("int").as("level"),
        col("lft"), (col("lft") + col("size") * 2 - 1).as("rght"))
      .orderBy("lft")
  }

  /** Σ sizes of each node's preceding siblings (same parent, smaller
    * `sort_key`).
    *
    * Default (`bucketWidth = 0`) is ONE window partitioned by
    * `parent_id`: a node with f children puts f (node_id, size,
    * sort_key) rows on one reducer — 3 longs/row, a sequential
    * in-partition scan, spillable by WindowExec: fine to f ≈ 10⁷
    * (hundreds of MB). Taxonomies never get near that (genus fan-out
    * ≤ 10⁴), and the single window costs one shuffle.
    *
    * For pathological fan-out (a synthetic flat tree with 10⁸ siblings)
    * pass `bucketWidth > 0`: the TWO-PASS SALTED presum. Siblings split
    * into order-preserving `sort_key`-range buckets of at most
    * `bucketWidth` dense keys each; per-(parent, bucket) sums prefix
    * at bucket grain (rows per parent = fan-out / bucketWidth), then a
    * window WITHIN each (parent, bucket) finishes the presum — the
    * hottest partition shrinks from f rows to ~bucketWidth rows. All
    * integer sums ⇒ bit-equal to the default path
    * (HierarchyPropertySpec asserts equality on random trees). Not the
    * default because the two extra shuffles cost more than they save
    * on every real hierarchy. */
  private def siblingPresum(
      ids: DataFrame, sizes: DataFrame, bucketWidth: Long): DataFrame = {
    val sized = ids.join(sizes, "node_id")
    if (bucketWidth <= 0L) {
      val w = Window.partitionBy("parent_id").orderBy("sort_key")
        .rowsBetween(Window.unboundedPreceding, -1)
      sized
        .withColumn("presum", coalesce(sum("size").over(w), lit(0L)))
        .select(col("node_id").as("ancestor_id"), col("presum"))
    } else {
      // floor-division bucket (exact for negative keys too: pmod is the
      // non-negative remainder, so (k − pmod) is an exact multiple)
      val bucket = ((col("sort_key") - pmod(col("sort_key"), lit(bucketWidth)))
        / bucketWidth).cast("long")
      // null-safe parent key: the root's parent_id is null, and a plain
      // equi-join on parent_id would silently drop its presum row
      val pkey = struct(
        col("parent_id").isNull.as("isroot"),
        coalesce(col("parent_id"), lit("")).as("p"))
      val withB = sized.withColumn("__bucket", bucket).withColumn("__pk", pkey)
      val wb = Window.partitionBy("__pk").orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bucketPrefix = withB
        .groupBy("__pk", "__bucket").agg(sum("size").as("__bsum"))
        .withColumn("__before", coalesce(sum("__bsum").over(wb), lit(0L)))
        .drop("__bsum")
      val win = Window.partitionBy("__pk", "__bucket").orderBy("sort_key")
        .rowsBetween(Window.unboundedPreceding, -1)
      withB.join(bucketPrefix, Seq("__pk", "__bucket"))
        .withColumn("presum",
          col("__before") + coalesce(sum("size").over(win), lit(0L)))
        .select(col("node_id").as("ancestor_id"), col("presum"))
    }
  }

  /** Aggregate a fact table at EVERY level of a dimension hierarchy in
    * one pass (`ROLLUP`) — the set-at-a-time version of niamoto's
    * per-taxon stats loop. `levels` are ordered coarse→fine.
    */
  def rollupAggregate(
      denormalized: DataFrame,
      levels: Seq[String],
      aggs: Seq[Column]): DataFrame =
    denormalized
      .rollup(levels.map(col): _*)
      .agg(grouping_id().cast("int").as("gid"), aggs: _*)
      .orderBy((col("gid") +: levels.map(c => col(c).asc_nulls_first)): _*)

  /** Ancestor closure of an adjacency list: one row per (node,
    * ancestor) pair incl. self. CONVERGENCE-DRIVEN: frontier joins
    * repeat until the frontier empties, so arbitrary-depth trees close
    * exactly (niamoto's `adjacency_list.py` walks unbounded depth —
    * a fixed depth parameter silently truncated ancestors when guessed
    * low). Each round is a shuffle on parent_id (broadcast-able when
    * the upper levels are small), materialized via `localCheckpoint`
    * (truncates lineage — a depth-20 taxonomy otherwise drags a
    * 20-join plan into every downstream optimization pass) and
    * followed by an O(1)-driver count that doubles as the convergence
    * check. `maxIter` is a CYCLE guard, not a truncation bound: a
    * frontier still alive after `maxIter` rounds (a parent loop keeps
    * it non-empty forever) fails loudly instead of looping or
    * returning a wrong closure.
    */
  def ancestorClosure(nodes: DataFrame, maxIter: Int = 64): DataFrame = {
    val edges = nodes.select("node_id", "parent_id")
    var closure = edges.select(
      col("node_id"), col("node_id").as("ancestor_id"), lit(0).as("dist"))
    var frontier = edges
      .filter(col("parent_id").isNotNull)
      .select(col("node_id"), col("parent_id").as("ancestor_id"), lit(1).as("dist"))
      .localCheckpoint()
    var depth = 1
    while (frontier.count() > 0) {
      require(depth <= maxIter,
        s"ancestorClosure: frontier still non-empty after $maxIter rounds — " +
          "parent cycle, or a genuinely deeper tree (raise maxIter)")
      closure = closure.unionByName(frontier)
      frontier = frontier
        .join(
          edges.select(col("node_id").as("ancestor_id"),
            col("parent_id").as("next_ancestor")),
          "ancestor_id")
        .filter(col("next_ancestor").isNotNull)
        .select(col("node_id"), col("next_ancestor").as("ancestor_id"),
          (col("dist") + 1).as("dist"))
        .localCheckpoint()
      depth += 1
    }
    closure
  }

  /** Materialized root→node paths (`imports/hierarchy_builder.py:178`
    * builds `full_path` by concatenating level names with `|`): from
    * the ancestor closure, each node's ancestors ordered root-first and
    * joined — one groupBy, path strings built executor-side. Also
    * returns `level` (= ancestor count − 1). */
  def materializedPaths(nodes: DataFrame): DataFrame =
    ancestorClosure(nodes.select("node_id", "parent_id"))
      .groupBy("node_id")
      .agg(
        array_join(
          transform(
            reverse(sort_array(collect_list(struct(col("dist"), col("ancestor_id"))))),
            s => s.getField("ancestor_id")),
          "|").as("full_path"),
        max("dist").cast("int").as("level"))
      .orderBy("full_path")

  /** Per-ancestor aggregation over all descendants' fact rows: the
    * nested-set loader + transformer loop collapsed into
    * closure-explode + one groupBy.
    */
  def subtreeAggregate(
      nodes: DataFrame,
      facts: DataFrame,
      factNodeCol: String,
      aggs: Seq[Column]): DataFrame = {
    val closure = ancestorClosure(nodes)
    facts
      .join(closure, facts(factNodeCol) === closure("node_id"))
      .groupBy(col("ancestor_id"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("ancestor_id"))
  }
}
