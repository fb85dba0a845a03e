package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** `ingest-stream`: an open loop lands seeded document shards in a
  * landing directory at a fixed rate; one file-source stream feeds
  * `StreamOps.curationScrubStream` (stateless) and
  * `StreamOps.minhashCandidateStream` (stateful). A shard's freshness
  * runs from when it was due to land to the commit of the micro-batch
  * that holds it, in the later of the two queries. Outputs are checked
  * against each operator's documented batch twin on the same shards.
  */
object StreamWorkload {
  import Harness._

  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phones", "\\b555-[0-9]{4}\\b", "<PHONE>"),
    ("ips", "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b", "<IP>"))

  def run(spark: SparkSession, opt: Map[String, String], res: Json, jvmToSessionS: Double,
      sessionS: Double): Unit = {
    val shardFiles = new File(opt("shards")).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    val warm = opt("warm_shards").toInt
    val rate = opt("rate").toDouble
    val segment = opt("segment").toInt
    val freshLimit = opt("fresh_limit").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val landing = s"$work/landing"
    Files.createDirectories(Paths.get(landing))
    def land(name: String): Unit = {
      val tmp = Paths.get(work, s".$name")
      Files.copy(Paths.get(opt("shards"), name), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, Paths.get(landing, name), StandardCopyOption.ATOMIC_MOVE)
    }

    val schema = spark.read.parquet(s"${opt("shards")}/${shardFiles.head}").schema
    val scrubSum = new Array[java.math.BigDecimal](1); scrubSum(0) = java.math.BigDecimal.ZERO
    var scrubRows = 0L
    val pairs = mutable.HashSet.empty[(Long, Long)]
    val scrubSink: (DataFrame, Long) => Unit = (df, _) => {
      val Array(s, n) = contentHash(df).split("/")
      scrubSum.synchronized {
        if (s != "null") scrubSum(0) = scrubSum(0).add(new java.math.BigDecimal(s))
        scrubRows += n.toLong
      }
    }
    val pairSink: (DataFrame, Long) => Unit = (df, _) => {
      val got = df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      pairs.synchronized(pairs ++= got)
    }

    val ws = System.nanoTime()
    val input = spark.readStream.schema(schema).parquet(landing)
    def start(name: String, df: DataFrame, sink: (DataFrame, Long) => Unit): StreamingQuery =
      df.writeStream.queryName(name).option("checkpointLocation", s"$work/ck-$name")
        .foreachBatch(sink).start()
    val queries = Seq(
      start("scrub", graft.streaming.StreamOps.curationScrubStream(input, "doc_id", "text", piiPatterns),
        scrubSink),
      start("minhash", graft.streaming.StreamOps.minhashCandidateStream(input, "doc_id", "text").toDF(),
        pairSink))
    // warm-up shards arrive at the measured rate too, so the stateful
    // path is compiled and warm before the first measured shard
    val w0 = System.nanoTime()
    shardFiles.take(warm).zipWithIndex.foreach { case (f, i) =>
      sleepUntil(w0 + (i * 1e9 / rate).toLong)
      land(f)
    }
    queries.foreach(_.processAllAvailable())
    val we = System.nanoTime()
    res.num("setup_s", jvmToSessionS + (we - ws) / 1e9)
    res.num("warmup_s", (we - ws) / 1e9)

    // open loop: shard i is due at t0 + i / rate, whatever the queries do
    val measured = shardFiles.drop(warm)
    val nSeg = math.max(1, measured.size / segment)
    // with tracing, odd segments run untraced and even segments traced
    val tracer = if (traced) new Tracer(nproc, sessionS) else null
    def tracedSeg(k: Int) = traced && k % 2 == 1
    val segSnap = mutable.ArrayBuffer.empty[((Long, Long), (Double, Int))]
    val t0 = System.nanoTime() + 200000000L
    val due = measured.indices.map(i => t0 + (i * 1e9 / rate).toLong)
    val landed = new Array[Long](measured.size)
    measured.indices.foreach { i =>
      val k = i / segment
      if (i % segment == 0 && k < nSeg) {
        if (k > 0 && tracedSeg(k - 1)) tracer.detach(spark, drain = false)
        segSnap += ((Tracer.codegenSnapshot(), Tracer.storageSnapshot(spark)))
        if (tracedSeg(k)) tracer.attach(spark)
      }
      sleepUntil(due(i))
      land(measured(i))
      landed(i) = System.nanoTime()
    }
    queries.foreach(_.processAllAvailable())
    if (tracedSeg(nSeg - 1)) tracer.detach(spark, drain = false)
    segSnap += ((Tracer.codegenSnapshot(), Tracer.storageSnapshot(spark)))
    queries.foreach(_.stop())
    res.num("measured_s", (System.nanoTime() - t0) / 1e9)

    // file → batch from each query's source log; batch → commit time
    // from its progress reports
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val commitMs: Seq[Map[String, Double]] = queries.map { q =>
      val batchEnd = q.recentProgress.filter(_.numInputRows > 0).map { p =>
        p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration.toDouble)
      }.toMap
      sourceLog(s"$work/ck-${q.name}").flatMap { case (f, b) => batchEnd.get(b).map(f -> _) }
    }
    val fresh = measured.indices.map { i =>
      val dueMs = due(i) / 1e6 + offsetMs
      val done = commitMs.map(_.getOrElse(measured(i), Double.NaN))
      if (done.exists(_.isNaN)) Double.NaN else (done.max - dueMs) / 1e3
    }
    val batchDur = queries.flatMap(q => q.recentProgress.filter(_.numInputRows > 0)
      .filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= t0 / 1e6 + offsetMs - 50)
      .map(_.batchDuration / 1e3))

    val segments = (0 until nSeg).map { k =>
      val idx = (k * segment) until math.min(measured.size, (k + 1) * segment)
      val endMs = idx.map(i => fresh(i) * 1e3 + due(i) / 1e6 + offsetMs).max
      val endNs = ((endMs - offsetMs) * 1e6).toLong
      (k, due(idx.head), endNs)
    }
    // a segment's processing time: the micro-batch durations, summed
    // over both queries, of every batch whose last measured shard lies
    // in the segment; unlike its wall time, it leaves out the fixed
    // arrival schedule
    val segOf = measured.indices.map(i => measured(i) -> math.min(i / segment, nSeg - 1)).toMap
    val busyS = new Array[Double](nSeg)
    queries.foreach { q =>
      val dur = q.recentProgress.map(p => p.batchId -> p.batchDuration / 1e3).toMap
      sourceLog(s"$work/ck-${q.name}").toSeq.flatMap { case (f, b) => segOf.get(f).map(b -> _) }
        .groupBy(_._1).foreach { case (b, xs) => busyS(xs.map(_._2).max) += dur.getOrElse(b, 0.0) }
    }
    val passJson = segments.map { case (k, s, e) =>
      val o = new Json
      o.num("wall_s", (e - s) / 1e9); o.num("busy_s", busyS(k)); o.bool("traced", tracedSeg(k))
      o
    }
    res.arr("segments", passJson)
    res.arr("shards", measured.indices.map { i =>
      val o = new Json
      o.str("file", measured(i))
      o.num("late_s", (landed(i) - due(i)) / 1e9)
      o.num("fresh_s", fresh(i))
      o.bool("ok", !fresh(i).isNaN && fresh(i) <= freshLimit)
      o
    })
    res.nums("batch_latency_s", batchDur)

    // batch twins on exactly the landed shards
    val static = spark.read.schema(schema).parquet(landing)
    val twinScrub = contentHash(graft.streaming.StreamOps.curationScrubStream(static, "doc_id", "text",
      piiPatterns))
    val streamScrub = s"${if (scrubRows == 0) "null" else scrubSum(0).toPlainString}/$scrubRows"
    val twinPairs = graft.operators.Dedup.minhashCandidates(static, "doc_id", "text")
      .select("id_a", "id_b").distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val v = new Json
    v.bool("scrub_ok", twinScrub == streamScrub)
    v.str("scrub_stream", streamScrub); v.str("scrub_twin", twinScrub)
    v.bool("minhash_ok", twinPairs == pairs.toSet)
    v.num("minhash_stream_pairs", pairs.size); v.num("minhash_twin_pairs", twinPairs.size)
    res.obj("verify", v)
    res.num("verified_s", (System.nanoTime() - t0) / 1e9)

    if (tracer != null) {
      segments.filter(x => tracedSeg(x._1)).foreach { case (k, s, e) =>
        tracer.addPass(k + 1, s, e, segSnap(k)._1, segSnap(k + 1)._1, segSnap(k + 1)._2)
      }
      def passS(traced: Boolean) = (0 until nSeg).filter(tracedSeg(_) == traced).map(busyS(_))
      tracer.finish(res, opt("trace_file"), passS(true), passS(false), Nil)
    }
  }

  def sleepUntil(nanoTime: Long): Unit = {
    val wait = nanoTime - System.nanoTime()
    if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
  }

  /** (landed file name → batch id) from a file source's metadata log. */
  def sourceLog(checkpoint: String): Map[String, Long] = {
    val dir = new File(s"$checkpoint/sources/0")
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    Option(dir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .collect { case Entry(p, b) => p.substring(p.lastIndexOf('/') + 1) -> b.toLong }
      .toMap
  }
}
