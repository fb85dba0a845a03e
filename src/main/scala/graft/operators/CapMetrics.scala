package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Loud skew-cap observability. The candidate miners defend against
  * boilerplate mega-buckets by DROPPING buckets past `maxBucket`
  * (SkewSpec proves the cap is load-bearing — removing it is a pair
  * blow-up), but a silent drop is something a 100 TB operator cannot
  * alert on. Every capped miner therefore counts its dropped buckets
  * and the pairs they would have expanded to through Spark's
  * observed-metrics channel (`Dataset.observe` — a codegen'd
  * accumulator-backed aggregate that piggybacks on the pass the plan
  * already runs: zero extra jobs, zero extra shuffles, and unlike a
  * second `count()` action it can never disagree with the run it
  * describes), and [[CapMetrics.Listener]] turns any non-zero count
  * into one WARN line at query completion.
  * Catalyst does not push filters through a `CollectMetrics` node, so
  * the metric always sees every over-cap bucket of its run.
  *
  * Observation names must be unique within a query plan (two miners
  * can compose in one query), so each call site instance gets a
  * serial suffix; the stable `kind` stays first for log grepping. */
object CapMetrics {
  private val serial = new AtomicLong()
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Prefix every cap observation name carries — listeners (ours and
    * any user's) select on it. */
  val namePrefix = "graft_cap_"

  /** Observe over-cap drops on a BUCKETS frame (one row per bucket,
    * pre-cap): `over` flags a dropped bucket, `droppedPairs` is the
    * pair count its expansion would have produced. Returns the frame
    * unchanged data-wise; apply the cap filter ABOVE the result. */
  private[graft] def observeDrops(
      buckets: DataFrame, kind: String, over: Column,
      droppedPairs: Column): DataFrame =
    buckets.observe(s"$namePrefix${kind}_${serial.incrementAndGet()}",
      sum(when(over, lit(1L)).otherwise(lit(0L))).as("dropped_buckets"),
      sum(when(over, droppedPairs).otherwise(lit(0L)))
        .cast("long").as("dropped_pairs"))

  /** Turns a non-zero cap count into one WARN line at query
    * completion; [[graft.GraftSession]] installs it on every session
    * through `spark.sql.queryExecutionListeners`. */
  class Listener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith(namePrefix) && !row.isNullAt(0) && row.getLong(0) > 0L)
          log.warn(
            s"skew cap '$name': dropped ${row.getLong(0)} over-cap bucket(s) " +
              s"(~${row.getLong(1)} candidate pairs) — recall loss is bounded " +
              "but real; raise maxBucket or pre-split the hot keys if it matters")
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
