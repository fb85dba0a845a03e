package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

import graft.operators.Dedup

/** The session is configured once, by [[GraftSession]]: operators
  * leave its conf, planner strategies and cache manager as they found
  * them, so a query's plan never depends on which queries ran before
  * it in a long-lived session. */
class SessionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def strategies(s: SparkSession) =
    s.asInstanceOf[classic.SparkSession].experimental.extraStrategies

  test("operators change no session conf and register no planner strategy") {
    // a new session on the shared context starts from the setup alone,
    // whichever specs ran on the shared session before this one
    val s = spark.newSession()
    val conf = s.conf.getAll
    val strats = strategies(s)
    import s.implicits._
    SparkEntry.queries("q_interval_join")(s, dir).collect()
    val fp = (1L to 5L).map(i => (i, 7L, 7L)).toDF("doc_id", "hi", "lo")
    assert(Dedup.mineHammingPairs(fp, maxHamming = 3, maxBucket = 3).count() == 0L)
    SparkEntry.queries("q_binary_counter")(s, dir).collect() // reads Tables.events
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    val comp = Dedup.connectedComponents(edges, "src", "dst", driverThreshold = 0)
    assert(comp.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))
    val after = s.conf.getAll.toSet
    val changed = (after diff conf.toSet) ++ (conf.toSet diff after)
    assert(changed.isEmpty, s"session conf changed: $changed")
    assert(strategies(s) == strats)
  }

  test("hierarchy gates leave nothing in the cache manager once consumed") {
    spark.catalog.clearCache()
    SparkEntry.queries("q_nested_set")(spark, dir).collect()
    SparkEntry.queries("q_interval_join")(spark, dir).collect()
    assert(spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty)
  }
}
