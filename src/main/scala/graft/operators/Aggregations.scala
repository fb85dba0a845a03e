package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Aggregation transformers, re-expressed set-at-a-time.
  *
  * The reference (niamoto `core/plugins/transformers/aggregation/`)
  * runs each of these per entity in a Python loop: `for group_id:
  * transform(load(group_id))`. Here each operator is ONE distributed
  * `groupBy` over the whole table, producing every entity's result in a
  * single shuffle — the formulation that survives 100 TB / 10⁸ groups.
  * Partial (map-side) aggregation applies automatically because all
  * aggregates are algebraic.
  */
object Aggregations {

  /** Per-group min/mean/max/median/std/count of a numeric field.
    * Reference: `transformers/aggregation/statistical_summary.py:152`
    * (pandas min/mean/max/median/std on one entity's frame).
    *
    * `median` is exact (Spark `median` sorts within groups) — at scale
    * swap `approxMedian = true` to use `percentile_approx`, which is a
    * single-pass sketch and needs no per-group sort.
    */
  def statisticalSummary(
      df: DataFrame,
      field: String,
      groupBy: Seq[String],
      approxMedian: Boolean = false): DataFrame = {
    val c = col(field)
    val med =
      if (approxMedian) percentile_approx(c, lit(0.5), lit(10000)).cast(DoubleType)
      else median(c)
    df.groupBy(groupBy.map(col): _*)
      .agg(
        min(c).as("min_val"),
        Num.dmean(c).as("mean_val"),
        max(c).as("max_val"),
        med.as("median_val"),
        Num.dstd(c).as("std_val"),
        count(c).as("cnt"))
      .orderBy(groupBy.map(col): _*)
  }

  /** One aggregated field from one source table.
    * Reference: `transformers/aggregation/field_aggregator.py` — a
    * FieldConfig is (source, field, transformation ∈ direct|count|sum).
    */
  case class FieldSpec(
      source: DataFrame,
      field: String,
      target: String,
      transformation: String) // "count" | "count_distinct" | "sum" | "mean" | "min" | "max"

  /** Multi-source field aggregation: each spec is aggregated per key and
    * the per-source results are joined on the group key. Sources are
    * aggregated BEFORE the join, so the join inputs are one-row-per-key
    * (broadcast-able when the key domain is small).
    * Reference: `transformers/aggregation/field_aggregator.py:105`.
    */
  def fieldAggregator(specs: Seq[FieldSpec], key: String): DataFrame = {
    def aggOne(s: FieldSpec): DataFrame = {
      val c = col(s.field)
      val a: Column = s.transformation match {
        case "count" => count(c)
        case "count_distinct" => countDistinct(c)
        case "sum" => Num.dsum(c)
        case "mean" => Num.dmean(c)
        case "min" => min(c)
        case "max" => max(c)
        case other => throw new IllegalArgumentException(s"transformation: $other")
      }
      s.source.groupBy(col(key)).agg(a.as(s.target))
    }
    specs.map(aggOne)
      .reduce(_.join(_, Seq(key), "full_outer"))
      .orderBy(col(key))
  }

  /** Per-group top-N values of a field ranked by frequency
    * (ties broken by value ascending, so results are deterministic).
    * Reference: `transformers/aggregation/top_ranking.py:297`
    * (`value_counts().head(n)` per entity). Spark form: count + ranked
    * window — one shuffle on (group, value), one on group.
    */
  def topRanking(
      df: DataFrame,
      field: String,
      groupBy: Seq[String],
      n: Int): DataFrame = {
    val counted = df
      .filter(col(field).isNotNull)
      .groupBy((groupBy :+ field).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    val w = Window
      .partitionBy(groupBy.map(col): _*)
      .orderBy(col("cnt").desc, col(field).asc)
    counted
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .orderBy((groupBy.map(col) :+ col("rank")): _*)
  }

  /** Per-group true/false/null counts of a boolean-ish field.
    * Reference: `transformers/aggregation/binary_counter.py:136`.
    * `predicate` maps the raw column to a nullable boolean.
    */
  def binaryCounter(
      df: DataFrame,
      predicate: Column,
      groupBy: Seq[String]): DataFrame =
    df.groupBy(groupBy.map(col): _*)
      .agg(
        count(when(predicate, 1)).as("true_count"),
        count(when(!predicate, 1)).as("false_count"),
        count(when(predicate.isNull, 1)).as("null_count"))
      .orderBy(groupBy.map(col): _*)

  /** Two-stage SALTED aggregation for skewed keys. Algebraic aggregates
    * already partial-combine map-side, but non-algebraic ones
    * (collect_list/set) ship every row of a key to ONE reducer — a
    * single hot key (one mega-genus, one boilerplate document) stalls
    * the stage. Salting splits each key into `salts` subgroups on a
    * deterministic hash, pre-aggregates per (key, salt), then merges the
    * per-salt arrays: the hot key's rows spread over `salts` reducers
    * and only `salts` intermediate arrays meet at the final merge.
    * `saltBy` must be a column that varies within a key (a row id).
    * Result is sorted per group, so it is order-canonical under any
    * partitioning.
    */
  def saltedCollectList(
      df: DataFrame,
      groupBy: Seq[String],
      valueCol: String,
      saltBy: Column,
      salts: Int): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(saltBy), lit(salts)))
      .groupBy((groupBy :+ "__salt").map(col): _*)
      .agg(collect_list(col(valueCol)).as("__partial"))
      .groupBy(groupBy.map(col): _*)
      .agg(sort_array(flatten(collect_list(col("__partial")))).as(s"${valueCol}_list"))
      .orderBy(groupBy.map(col): _*)

  /** Single-pass sketch profile — the 100 TB companion to
    * [[statisticalSummary]]: HyperLogLog++ distinct count (±`rsd`
    * relative error, fixed ~kB state per group) and a t-digest-style
    * quantile vector (`percentile_approx`, one pass, no per-group
    * sort). Both sketches are mergeable, so partial aggregation
    * map-side combines exactly like sum/count — a profile over 10⁸
    * groups is still one shuffle of sketch states, never of raw rows.
    *
    * Output is one scalar column per requested quantile (`q25`, `q50`,
    * ...) — downstream consumers (and the driver's row-sort compare)
    * need orderable scalars, not an array cell.
    */
  def sketchProfile(
      df: DataFrame,
      field: String,
      distinctField: String,
      groupBy: Seq[String],
      quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95),
      rsd: Double = 0.05,
      accuracy: Int = 10000): DataFrame = {
    val agged = df.groupBy(groupBy.map(col): _*)
      .agg(
        count(lit(1)).as("cnt"),
        approx_count_distinct(col(distinctField), rsd).as("approx_distinct"),
        percentile_approx(
          col(field), array(quantiles.map(lit): _*), lit(accuracy))
          .as("__quantiles"))
    val qCols = quantiles.zipWithIndex.map { case (q, i) =>
      element_at(col("__quantiles"), i + 1)
        .as("q" + math.round(q * 100).toString)
    }
    agged
      .select((groupBy.map(col) :+ col("cnt") :+ col("approx_distinct")) ++ qCols: _*)
      .orderBy(groupBy.map(col): _*)
  }

  /** Exact interpolated percentiles (the `percentile`/`quantile_cont`
    * formula: position r = (n−1)·p, linear interpolation between the
    * bracketing order statistics) computed over a VALUE HISTOGRAM
    * instead of Spark's per-group value map: groupBy(group, value) →
    * cumulative-count window → the two rows covering floor(r)+1 and
    * ceil(r)+1 yield the bracket. Exchange is ∝ distinct values (with
    * map-side combine), not rows — Spark's `percentile` aggregate
    * buffers EVERY row's value per group, which at sf1 turned the A6
    * gate's exact comparator into the single slowest line of the
    * bench (46 s over 6M rows). Ties/duplicates collapse into one
    * histogram row, so heavy-duplicate columns get cheaper, not
    * slower. */
  def exactPercentilesByValue(
      df: DataFrame, valueCol: String, groupBy: Seq[String],
      quantiles: Seq[Double], outCol: String = "eq"): DataFrame = {
    val g = groupBy.map(col)
    val counts = df.where(col(valueCol).isNotNull)
      .groupBy((groupBy.map(col) :+ col(valueCol).cast("double").as("__v")): _*)
      .agg(count(lit(1)).as("__c"))
    val wOrd = Window.partitionBy(g: _*).orderBy(col("__v"))
    val wAll = Window.partitionBy(g: _*)
    val staged = counts
      .withColumn("__cum", sum(col("__c")).over(wOrd))
      .withColumn("__n", sum(col("__c")).over(wAll))
    val aggs = quantiles.zipWithIndex.flatMap { case (p, i) =>
      val r = (col("__n") - 1) * lit(p)
      val kLo = floor(r) + 1
      val kHi = ceil(r) + 1
      def cover(k: Column) =
        col("__cum") >= k && (col("__cum") - col("__c")) < k
      Seq(
        max(when(cover(kLo), col("__v"))).as(s"__lo$i"),
        max(when(cover(kHi), col("__v"))).as(s"__hi$i"))
    } :+ max(col("__n")).as("__n")
    val perGroup = staged.groupBy(g: _*).agg(aggs.head, aggs.tail: _*)
    val outs = quantiles.zipWithIndex.map { case (p, i) =>
      val r = (col("__n") - 1) * lit(p)
      val d = r - floor(r)
      col(s"__lo$i") + d * (col(s"__hi$i") - col(s"__lo$i"))
    }
    perGroup.select((g :+ array(outs: _*).as(outCol)): _*)
  }

  /** Incremental distinct-count rollup via mergeable HLL sketches
    * (Datasketches `hll_sketch_agg` / `hll_union_agg`): build one
    * sketch per fine-grained cell (e.g. day × key), then MERGE the
    * stored sketches to any coarser grain without rescanning rows —
    * the pattern that turns "distinct users this quarter over 100 TB"
    * into a union of pre-computed kilobyte states. Register-max HLL
    * state is order- and partition-independent, so estimates are
    * deterministic under any shuffle.
    *
    * Returns the coarse rollup: per `rollupCols`, the merged estimate
    * plus the number of fine cells merged. (The fine-grained sketch
    * table is what a production pipeline would PERSIST; both grains
    * come from the same single scan here.)
    */
  def sketchRollup(
      df: DataFrame,
      fineCols: Seq[String],
      rollupCols: Seq[String],
      distinctCol: String): DataFrame = {
    val fine = df
      .groupBy((fineCols ++ rollupCols).distinct.map(col): _*)
      .agg(hll_sketch_agg(col(distinctCol)).as("sketch"))
    fine
      .groupBy(rollupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_cells"),
        hll_sketch_estimate(hll_union_agg(col("sketch"))).as("approx_distinct"))
      .orderBy(rollupCols.map(col): _*)
  }

  /** Dataset column profile (ref: `core/imports/profiler.py:311` —
    * per-column dtype, null_ratio, unique_ratio): ONE aggregation pass
    * over the table, unpivoted to a row per column. `exact=true` uses
    * `count_distinct` (Catalyst plans the multi-distinct agg as one
    * Expand pass — fine for dimension tables); the 100 TB path is
    * `exact=false` → HLL++ `approx_count_distinct`, which needs no
    * Expand and keeps the profile a single map-side-combined shuffle
    * of sketch states no matter how many columns. */
  def tableProfile(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    val dtypes = df.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        (if (exact) count_distinct(col(c)) else approx_count_distinct(col(c)))
          .as(s"__nd_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    one.select(explode(array(cols.map { c =>
        struct(
          lit(c).as("column_name"),
          lit(dtypes(c)).as("dtype"),
          col("__n").as("n_rows"),
          (col("__n") - col(s"__nn_$c")).as("n_nulls"),
          col(s"__nd_$c").as("n_distinct"),
          ((col("__n") - col(s"__nn_$c")).cast("double") / col("__n")).as("null_ratio"),
          (col(s"__nd_$c").cast("double") / col("__n")).as("unique_ratio"))
      }: _*)).as("p"))
      .select("p.*")
      .orderBy("column_name")
  }
}
