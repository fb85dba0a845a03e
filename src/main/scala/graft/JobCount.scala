package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Deterministic job/stage/task counts per query (warm run) — the
  * structural evidence for job-floor optimizations that wall-clock
  * cannot give in a drifting sandbox window: counts are plan facts,
  * independent of the box. Args: query names. */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.toSeq
    val spark = GraftSession.Tool.session("graft-jobcount")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm once (JIT/codegen), then count the second run
      spark.catalog.clearCache()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(500) // let listener drain
      jobs.set(0); stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"[jobcount] $name jobs=${jobs.get} stages=${stages.get} " +
        f"tasks=${tasks.get} warm_sec=$dt%.2f")
    }
    spark.stop()
  }
}
