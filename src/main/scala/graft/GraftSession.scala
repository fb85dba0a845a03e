package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place a graft session is configured. Every value is fixed
  * here, at creation; no operator sets a conf or registers anything on
  * the live session, so a query's plan never depends on which queries
  * ran before it in the same session:
  *  - `spark.sql.extensions` = [[graft.functions.GraftExtensions]]: the
  *    graft SQL functions and the interval-join planner strategy
  *    ([[graft.plans.IntervalJoin]] cannot be planned without it);
  *  - [[graft.operators.CapMetrics.Listener]] through
  *    `spark.sql.queryExecutionListeners` (skew-cap WARN lines);
  *  - UTC session time, and `parquet.nanosAsLong` so [[Tables.events]]
  *    reads either `events.ts` encoding;
  *  - AQE on (Spark 4 default) minus its `AQEPropagateEmptyRelation`
  *    rewrite: when a skew cap drops every bucket, that rewrite
  *    replaces the empty stage's downstream — the cap's
  *    `CollectMetrics` node included — so the drop count never
  *    arrives (SkewSpec). An empty stage still runs its empty,
  *    millisecond downstream ops;
  *  - the Spark UI off.
  *
  * `getOrCreate` semantics apply: if a session already exists in the
  * JVM it is returned, and only the runtime SQL confs above reach it —
  * extensions and listeners are static, so start the JVM's first
  * session here (or with the same two settings).
  */
object GraftSession {
  def create(
      master: String = "local[*]",
      appName: String = "graft",
      shufflePartitions: Option[Int] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.sql.queryExecutionListeners",
        classOf[graft.operators.CapMetrics.Listener].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.optimizer.excludedRules",
        "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
      .config("spark.ui.enabled", "false")
    shufflePartitions.foreach(n => b.config("spark.sql.shuffle.partitions", n.toString))
    b.getOrCreate()
  }

  /** Environment of the command-line tools (`Bench`, `Verify`,
    * `JobCount`, `PlanDump`, `ScaleProbe`): `SPARK_GRAFT_CPUS` local
    * cores (default: all of them), also used as the shuffle partition
    * count, and the optional comma-separated `SPARK_GRAFT_ONLY` query
    * subset. */
  private[graft] object Tool {
    val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    def session(appName: String): SparkSession = {
      val spark = create(s"local[$cpus]", appName, Some(cpus))
      spark.sparkContext.setLogLevel("WARN")
      spark
    }

    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

    /** `SparkEntry.queries` restricted to `SPARK_GRAFT_ONLY`, by name. */
    def queries: Seq[(String, (SparkSession, String) => DataFrame)] =
      SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) => only.forall(_.contains(name)) }
  }
}
