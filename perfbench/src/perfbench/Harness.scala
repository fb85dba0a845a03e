package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.json4s.{JArray, JBool, JDouble, JNull, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

/** Benchmark harness process: one workload, one seed, one JVM.
  *
  * Called by `run.py` with `key=value` arguments; writes one JSON
  * object (raw timings, per-op hashes, per-pass layer metrics) to
  * `out=`. `run.py` turns that into the benchmark's result line.
  *
  * graft is reached only through its public entry points:
  * `GraftSession.create`, the gate functions in `SparkEntry.queries`
  * and `graft.streaming.StreamOps`. Spark is observed from outside
  * through public listeners (see [[Tracer]]). Nothing here calls
  * `clearCache()` or `System.gc()`: a long-lived session's users call
  * neither, so blocks an operator leaves behind stay and are counted.
  */
object Harness {
  final case class Op(
      id: Long, pass: Int, client: Int, gate: String, start: Long, built: Long, end: Long,
      error: String, hash: String)

  val nproc: Int = Runtime.getRuntime.availableProcessors

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.create(master = s"local[$nproc]", appName = "perfbench",
      shufflePartitions = opt.get("shuffle_partitions").map(_.toInt))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val jvmToSessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Json
    res.num("session_create_s", sessionS)
    res.num("jvm_to_session_s", jvmToSessionS)
    hostFacts(spark, res)
    try {
      opt("kind") match {
        case "gates" => GateWorkload.run(spark, opt, res, jvmToSessionS, sessionS)
        case "stream" => StreamWorkload.run(spark, opt, res, jvmToSessionS, sessionS)
      }
    } finally {
      res.num("peak_rss_mb", peakRssMb())
      Files.write(Paths.get(opt("out")), res.render.getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  def hostFacts(spark: SparkSession, res: Json): Unit = {
    val rt = Runtime.getRuntime
    res.num("available_processors", rt.availableProcessors)
    res.num("default_parallelism", spark.sparkContext.defaultParallelism)
    res.num("max_heap_mb", rt.maxMemory / 1048576.0)
    res.str("jdk", System.getProperty("java.vm.name") + " " + System.getProperty("java.version"))
    res.str("spark_version", spark.version)
    res.str("master", spark.sparkContext.master)
  }

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Order-insensitive content hash of a DataFrame: the row count and
    * the sum of per-row xxhash64 over every output column. Summed as
    * decimal(38,0) because a long sum overflows under ANSI mode. */
  def contentHash(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = named
      .select(xxhash64(named.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(sum(col("h")), count(lit(1)))
      .head()
    s"${r.get(0)}/${r.getLong(1)}"
  }

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    (e.getClass.getSimpleName + ": " + String.valueOf(root.getMessage))
      .replaceAll("\\s+", " ").take(300)
  }

  /** Runs `body` on `n` threads at once and waits for all of them. */
  def onClients[T](pool: java.util.concurrent.ExecutorService, n: Int)(body: Int => T): Seq[T] = {
    val fs = (0 until n).map(c => pool.submit(new Callable[T] { def call(): T = body(c) }))
    fs.map(_.get())
  }

  def newPool(n: Int): java.util.concurrent.ExecutorService =
    Executors.newFixedThreadPool(n, (r: Runnable) => {
      val t = new Thread(r, "perfbench-client")
      t.setDaemon(true)
      t
    })
}

/** Closed-loop gate workloads (`niamoto-serial`, `niamoto-shared`,
  * `curate-scaled`): `clients` threads share one session; each runs
  * the whole gate mix once per pass in its own seeded order and issues
  * its next gate only when the previous one returned. */
object GateWorkload {
  import Harness._

  def run(spark: SparkSession, opt: Map[String, String], res: Json, jvmToSessionS: Double,
      sessionS: Double): Unit = {
    val dir = opt("data")
    val gates = opt("gates").split(",").toSeq
    val clients = opt("clients").toInt
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val fns = graft.SparkEntry.queries
    val missing = gates.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown gates: ${missing.mkString(",")}")
    val pool = newPool(clients)
    val opSeq = new java.util.concurrent.atomic.AtomicLong

    def runOp(pass: Int, client: Int, gate: String): Op = {
      val id = opSeq.incrementAndGet()
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.OpKey, s"$id")
      val s = System.nanoTime()
      var built = s
      try {
        val df = fns(gate)(spark, dir)
        built = System.nanoTime()
        val h = contentHash(df)
        Op(id, pass, client, gate, s, built, System.nanoTime(), null, h)
      } catch {
        case e: Throwable =>
          val now = System.nanoTime()
          Op(id, pass, client, gate, s, if (built == s) now else built, now, describe(e), null)
      } finally sc.setLocalProperty(Tracer.OpKey, null)
    }

    def order(pass: Int, client: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass * 1009L + client).shuffle(gates)

    def onePass(pass: Int): (Long, Long, Seq[Op]) = {
      val s = System.nanoTime()
      val ops = onClients(pool, clients) { c => order(pass, c).map(g => runOp(pass, c, g)) }.flatten
      (s, System.nanoTime(), ops)
    }

    // warm-up passes (numbered 0, -1, ... so each has its own order)
    // until the JIT has settled; their wall time counts as set-up
    val warm = (1 - opt("warmup").toInt to 0).map(onePass)
    val (ws, we, warmOps) = (warm.head._1, warm.last._2, warm.flatMap(_._3))
    res.num("setup_s", jvmToSessionS + (we - ws) / 1e9)
    res.num("warmup_s", (we - ws) / 1e9)

    // With tracing, odd passes run untraced and even passes traced, so
    // both halves see the same JIT and cache state; the difference of
    // their medians is the tracing overhead.
    val passes = ArrayBuffer.empty[(Long, Long, Seq[Op])]
    val tracedPass = ArrayBuffer.empty[Boolean]
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    // a pass starts only if it should end within the budget
    def fits = elapsed + (passes.last._2 - passes.last._1) / 1e9 <= seconds
    val tracer = if (traced) new Tracer(nproc, sessionS) else null
    while (passes.size < (if (traced) 2 else 1) || fits) {
      val p = passes.size + 1
      val on = traced && p % 2 == 0
      if (on) tracer.attach(spark)
      val c0 = Tracer.codegenSnapshot()
      val r = onePass(p)
      if (on) {
        tracer.detach(spark, drain = true)
        tracer.addPass(p, r._1, r._2, c0, Tracer.codegenSnapshot(), Tracer.storageSnapshot(spark))
      }
      passes += r
      tracedPass += on
    }
    val all = passes.toSeq.zip(tracedPass)
    res.arr("passes", all.map { case ((s, e, ops), on) =>
      val o = new Json
      o.num("start_ns", s.toDouble); o.num("end_ns", e.toDouble)
      o.bool("traced", on)
      o.arr("ops", ops.map(opJson(_, s)))
      o
    })
    res.arr("warmup_ops", warmOps.map(opJson(_, ws)))
    def passS(traced: Boolean) = all.filter(_._2 == traced).map { case ((s, e, _), _) => (e - s) / 1e9 }
    if (tracer != null)
      tracer.finish(res, opt("trace_file"), passS(true), passS(false), all.filter(_._2).flatMap(_._1._3))
    pool.shutdown()
    opt.get("dump").filter(_.nonEmpty).foreach { d => dump(spark, dir, gates, d, res) }
  }

  def opJson(op: Op, passStart: Long): Json = {
    val o = new Json
    o.str("gate", op.gate); o.num("client", op.client)
    o.num("start_s", (op.start - passStart) / 1e9)
    o.num("build_s", (op.built - op.start) / 1e9)
    o.num("latency_s", (op.end - op.start) / 1e9)
    o.num("done_s", (op.end - passStart) / 1e9)
    if (op.error != null) o.str("error", op.error)
    if (op.hash != null) o.str("hash", op.hash)
    o
  }

  /** Writes each gate's output as parquet for the DuckDB oracle check,
    * plus the gates' oracle SQL, and records the hash of what was
    * written (read back, so it is the hash of the checked rows). */
  def dump(spark: SparkSession, dir: String, gates: Seq[String], out: String, res: Json): Unit = {
    val hashes = new Json
    val errors = new Json
    gates.foreach { g =>
      val path = s"$out/$g"
      try {
        graft.SparkEntry.queries(g)(spark, dir).write.mode("overwrite").parquet(path)
        hashes.str(g, Harness.contentHash(spark.read.parquet(path)))
      } catch { case e: Throwable => errors.str(g, Harness.describe(e)) }
    }
    val sql = new Json
    gates.foreach(g => graft.SparkEntry.oracleSql.get(g).foreach(sql.str(g, _)))
    Files.write(Paths.get(s"$out/oracle_sql.json"), sql.render.getBytes(StandardCharsets.UTF_8))
    res.obj("dump_hashes", hashes)
    res.obj("dump_errors", errors)
  }
}

/** Insertion-ordered JSON object builder over json4s; NaN and
  * infinities become null. */
final class Json {
  private val fields = ArrayBuffer.empty[(String, JValue)]
  private def num0(v: Double): JValue = if (v.isNaN || v.isInfinite) JNull else JDouble(v)
  def num(k: String, v: Double): Json = { fields += k -> num0(v); this }
  def str(k: String, v: String): Json = { fields += k -> JString(v); this }
  def bool(k: String, v: Boolean): Json = { fields += k -> JBool(v); this }
  def obj(k: String, v: Json): Json = { fields += k -> v.value; this }
  def arr(k: String, vs: Seq[Json]): Json = { fields += k -> JArray(vs.map(_.value).toList); this }
  def nums(k: String, vs: Seq[Double]): Json = { fields += k -> JArray(vs.map(num0).toList); this }
  def value: JObject = JObject(fields.toList)
  def render: String = JsonMethods.compact(value)
}
