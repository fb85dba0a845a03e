package graft
import java.nio.file.{Files, Paths}

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.Tool.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY re-dumps a handful of queries into an existing
    // outDir (scale-run triage) without paying the full-surface wall
    // time. The driver never sets it.
    GraftSession.Tool.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A thrown query must FAIL its gate, not vanish from it: round 8
        // lost 16 queries to a corpus-encoding change and the correctness
        // report shrank instead of going red. Dump a sentinel row whose
        // schema can never match any oracle so the compare flags it.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        import spark.implicits._
        Seq(s"$name: ${e.getMessage}".take(500)).toDF("graft_verify_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
    }
    val json = JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), JsonMethods.compact(json))
    spark.stop()
  }
}
