package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs: a [[GraftSession]], so
  * specs run on the session setup library users and the bench get. One
  * session per JVM (scalatest forks a single test JVM here), small
  * shuffle-partition count so tiny-DF tests don't pay 32-task
  * scheduling overhead.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    // managed tables (bucketing specs) land in /tmp, not the repo; a
    // static conf, so it reaches the session as a system property
    sys.props("spark.sql.warehouse.dir") =
      s"/tmp/graft-test-warehouse-${java.util.UUID.randomUUID()}"
    val s = GraftSession.create("local[4]", "graft-test", shufflePartitions = Some(4))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
