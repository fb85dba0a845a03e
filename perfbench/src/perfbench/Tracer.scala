package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run recorder. Observes Spark only through public listeners
  * (`SparkListener`, `QueryExecutionListener`,
  * `StreamingQueryListener`) and the JVM-wide codegen counters, keeps
  * every record in memory, and at the end writes the span tree
  * op → build / action → job → stage (task metrics summed onto
  * stages) as JSON lines and reduces it to per-pass layer metrics.
  *
  * Jobs are attributed to ops through the [[Tracer.OpKey]] local
  * property the client thread sets around each gate call; a job
  * without it (for example from a pool thread an operator created
  * earlier) is counted as unattributed, never dropped.
  */
final class Tracer(cores: Int, sessionCreateS: Double) {
  import Tracer._

  /** Epoch-ms of a `System.nanoTime` reading. */
  private val nanoOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def ms(nano: Long): Double = nano / 1e6 + nanoOffsetMs

  final class JobRec(val id: Int, val start: Long, val op: Long, val execId: Long) {
    var end: Long = -1L
  }
  final class StageRec(val id: Int, val attempt: Int) {
    var submit = -1L; var complete = -1L; var job = -1
    var tasks = 0L; var retries = 0L; var waitMs = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var peakMem = 0L
    var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spill = 0L
    var inBytes = 0L; var inRows = 0L; var scanTasks = 0L
    var outBytes = 0L; var writeTasks = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val batches = mutable.ArrayBuffer.empty[BatchRec]
  private val passRecs = mutable.ArrayBuffer.empty[PassRec]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val rec = new JobRec(e.jobId, e.time, prop(OpKey).map(_.toLong).getOrElse(-1L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L))
      jobs(e.jobId) = rec
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      if (s.submit < 0) s.submit = e.stageInfo.submissionTime.getOrElse(s.complete)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stage(e.stageId, e.stageAttemptId)
      val info = e.taskInfo
      s.tasks += 1
      if (info.attemptNumber > 0 || info.speculative) s.retries += 1
      if (s.submit > 0) s.waitMs += math.max(0L, info.launchTime - s.submit)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead; s.inRows += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0) s.scanTasks += 1
        s.outBytes += m.outputMetrics.bytesWritten
        if (m.outputMetrics.recordsWritten > 0) s.writeTasks += 1
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      val ph = qe.tracker.phases
      def phase(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
      qes += QeRec(qe.id, System.currentTimeMillis(),
        phase("analysis"), phase("optimization"), phase("planning"))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock.synchronized {
      val p = e.progress
      if (p.numInputRows > 0) batches += BatchRec(Option(p.name).getOrElse(p.id.toString), p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration.toDouble,
        p.batchDuration, Option(p.durationMs.get("queryPlanning")).map(_.longValue).getOrElse(0L),
        p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  private val lock = new Object
  private def stage(id: Int, attempt: Int): StageRec = {
    val s = stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt))
    if (s.job < 0) s.job = stageJob.getOrElse(id, -1)
    s
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Detaches the listeners; with `drain`, first waits (up to 5 s) for
    * the listener bus to deliver the end of every job seen so far. A
    * stream's jobs never stop arriving, so streams detach at once. */
  def detach(spark: SparkSession, drain: Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    if (drain) {
      Thread.sleep(100)
      while (System.currentTimeMillis() < deadline &&
          lock.synchronized(jobs.values.exists(_.end < 0))) Thread.sleep(20)
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Registers one traced pass: its wall window and the codegen and
    * storage counters around it. */
  def addPass(pass: Int, startNs: Long, endNs: Long, codegen0: (Long, Long), codegen1: (Long, Long),
      storage: (Double, Int)): Unit =
    passRecs += PassRec(pass, startNs, endNs, codegen0, codegen1, storage)

  /** Writes the spans to `traceFile`, and the per-pass layer metrics
    * plus the tracing overhead (median traced minus median untraced
    * `pass_s`) into `res`. */
  def finish(res: Json, traceFile: String, tracedPassS: Seq[Double], untracedPassS: Seq[Double],
      ops: Seq[Harness.Op]): Unit = {
    lock.synchronized {
      writeSpans(traceFile, ops)
      val perPass = passRecs.toSeq.map(p => layerMetrics(p, ops.filter(_.pass == p.pass)))
      res.arr("layers", perPass)
      res.num("trace_overhead_s", median(tracedPassS) - median(untracedPassS))
    }
  }

  private def layerMetrics(p: PassRec, ops: Seq[Harness.Op]): Json = {
    val ps = ms(p.startNs); val pe = ms(p.endNs)
    val wallS = (pe - ps) / 1e3
    val opIds = ops.map(_.id).toSet
    val inPass = (t: Double) => t >= ps && t <= pe
    val js = jobs.values.filter(j => if (j.op >= 0) opIds(j.op) else inPass(j.start.toDouble)).toSeq
    val jobIds = js.map(_.id).toSet
    val ss = stages.values.filter(s => jobIds(s.job)).toSeq
    val execIds = jobs.values.filter(_.execId >= 0).map(_.execId).toSet
    val passExec = js.filter(_.execId >= 0).map(_.execId).toSet
    val qs = qes.filter(q => passExec(q.execId) || (!execIds(q.execId) && inPass(q.atMs.toDouble))).toSeq
    val bs = batches.filter(b => inPass(b.endMs)).toSeq
    val opById = ops.map(o => o.id -> o).toMap
    val eager = js.count(j => opById.get(j.op).exists(o => j.start <= ms(o.built)))
    def cover(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
      val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
      var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
      clipped.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) { if (!curB.isNaN) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (!curB.isNaN) total += curB - curA
      total
    }
    def jobIv(j: JobRec) = (j.start.toDouble, (if (j.end < 0) pe.toLong else j.end).toDouble)
    val byOp = js.groupBy(_.op)
    var buildSelf = 0.0; var actionSelf = 0.0
    ops.foreach { o =>
      val iv = byOp.getOrElse(o.id, Nil).map(jobIv)
      buildSelf += (ms(o.built) - ms(o.start)) - cover(iv, ms(o.start), ms(o.built))
      actionSelf += (ms(o.end) - ms(o.built)) - cover(iv, ms(o.built), ms(o.end))
    }
    val stagesByJob = ss.groupBy(_.job)
    val jobSelf = js.map { j =>
      val (a, b) = jobIv(j)
      (b - a) - cover(stagesByJob.getOrElse(j.id, Nil).filter(_.complete > 0)
        .map(s => (s.submit.toDouble, s.complete.toDouble)), a, b)
    }.sum
    val stageSpan = ss.filter(_.complete > 0).map(s => (s.complete - s.submit).toDouble).sum
    val tasks = ss.map(_.tasks).sum
    val runS = ss.map(_.runMs).sum / 1e3
    val mb = 1048576.0
    val o = new Json
    o.num("pass", p.pass)
    o.num("wall_s", wallS)
    o.num("session.create_s", sessionCreateS)
    o.num("operators.build_s", ops.map(x => (x.built - x.start) / 1e9).sum)
    o.num("operators.eager_jobs", eager)
    o.num("operators.self_s", buildSelf / 1e3)
    o.num("sink.self_s", actionSelf / 1e3)
    o.num("catalyst.analysis_s", qs.map(_.analysisMs).sum / 1e3)
    o.num("catalyst.optimize_s", qs.map(_.optimizeMs).sum / 1e3)
    o.num("catalyst.plan_s", qs.map(_.planMs).sum / 1e3)
    o.num("catalyst.queries", qs.size)
    o.num("codegen.classes", (p.codegen1._1 - p.codegen0._1).toDouble)
    o.num("codegen.compile_s", (p.codegen1._2 - p.codegen0._2) / 1e9)
    o.num("scheduler.jobs", js.size)
    o.num("scheduler.stages", ss.size)
    o.num("scheduler.tasks", tasks.toDouble)
    o.num("scheduler.tasks_per_stage", if (ss.isEmpty) 0.0 else tasks.toDouble / ss.size)
    o.num("scheduler.job_p50_ms", median(js.map(j => jobIv(j)).map(x => x._2 - x._1)))
    o.num("scheduler.task_wait_s", ss.map(_.waitMs).sum / 1e3)
    o.num("scheduler.driver_gap_s", wallS - cover(js.map(jobIv), ps, pe) / 1e3)
    o.num("scheduler.task_retries", (ss.map(_.retries).sum + ss.count(_.attempt > 0)).toDouble)
    o.num("scheduler.unattributed_jobs", js.count(_.op < 0))
    o.num("scheduler.self_s", jobSelf / 1e3)
    o.num("executor.run_s", runS)
    o.num("executor.cpu_s", ss.map(_.cpuNs).sum / 1e9)
    o.num("executor.gc_s", ss.map(_.gcMs).sum / 1e3)
    o.num("executor.busy_frac", if (wallS > 0) runS / (wallS * cores) else 0.0)
    o.num("executor.peak_mem_mb", if (ss.isEmpty) 0.0 else ss.map(_.peakMem).max / mb)
    o.num("executor.self_s", stageSpan / 1e3)
    o.num("shuffle.write_mb", ss.map(_.shWrite).sum / mb)
    o.num("shuffle.read_mb", ss.map(_.shRead).sum / mb)
    o.num("shuffle.fetch_wait_s", ss.map(_.fetchWaitMs).sum / 1e3)
    o.num("shuffle.spill_mb", ss.map(_.spill).sum / mb)
    o.num("sources.read_mb", ss.map(_.inBytes).sum / mb)
    o.num("sources.read_rows", ss.map(_.inRows).sum.toDouble)
    o.num("sources.scan_tasks", ss.map(_.scanTasks).sum.toDouble)
    o.num("sources.write_mb", ss.map(_.outBytes).sum / mb)
    o.num("sources.files_written", ss.map(_.writeTasks).sum.toDouble)
    o.num("storage.held_mb", p.storage._1)
    o.num("storage.rdds_held", p.storage._2)
    o.num("streaming.batches", bs.size)
    o.num("streaming.batch_p50_s", median(bs.map(_.durMs / 1e3)))
    o.num("streaming.plan_s", bs.map(_.planMs).sum / 1e3)
    o.num("streaming.state_rows", bs.groupBy(_.query).values.map(_.maxBy(_.batchId).stateRows).sum.toDouble)
    o
  }

  private def writeSpans(path: String, ops: Seq[Harness.Op]): Unit = {
    val lines = mutable.ArrayBuffer.empty[String]
    def span(kind: String, id: String, parent: String, start: Double, end: Double)(extra: Json => Unit): Unit = {
      val j = new Json
      j.str("kind", kind); j.str("id", id); if (parent != null) j.str("parent", parent)
      j.num("start_ms", start); j.num("end_ms", end)
      extra(j)
      lines += j.render
    }
    ops.foreach { o =>
      val id = s"op-${o.id}"
      span("op", id, null, ms(o.start), ms(o.end)) { j =>
        j.num("pass", o.pass); j.num("client", o.client); j.str("gate", o.gate)
        if (o.error != null) j.str("error", o.error)
      }
      span("build", s"$id/build", id, ms(o.start), ms(o.built))(_ => ())
      span("action", s"$id/action", id, ms(o.built), ms(o.end))(_ => ())
    }
    val opById = ops.map(o => o.id -> o).toMap
    jobs.values.foreach { jr =>
      val parent = opById.get(jr.op) match {
        case Some(o) => s"op-${o.id}/" + (if (jr.start <= ms(o.built)) "build" else "action")
        case None => "unattributed"
      }
      span("job", s"job-${jr.id}", parent, jr.start.toDouble, jr.end.toDouble) { j =>
        if (jr.execId >= 0) j.num("execution_id", jr.execId.toDouble)
      }
    }
    stages.values.foreach { s =>
      span("stage", s"stage-${s.id}.${s.attempt}", s"job-${s.job}", s.submit.toDouble, s.complete.toDouble) { j =>
        j.num("tasks", s.tasks.toDouble); j.num("run_ms", s.runMs.toDouble)
        j.num("cpu_ms", s.cpuNs / 1e6); j.num("gc_ms", s.gcMs.toDouble)
        j.num("task_wait_ms", s.waitMs.toDouble); j.num("shuffle_read_bytes", s.shRead.toDouble)
        j.num("shuffle_write_bytes", s.shWrite.toDouble); j.num("input_bytes", s.inBytes.toDouble)
        j.num("output_bytes", s.outBytes.toDouble)
      }
    }
    qes.foreach { q =>
      val j = new Json
      j.str("kind", "query"); j.num("execution_id", q.execId.toDouble); j.num("at_ms", q.atMs.toDouble)
      j.num("analysis_ms", q.analysisMs.toDouble); j.num("optimize_ms", q.optimizeMs.toDouble)
      j.num("plan_ms", q.planMs.toDouble)
      lines += j.render
    }
    batches.foreach { b =>
      val j = new Json
      j.str("kind", "batch"); j.str("query", b.query); j.num("batch_id", b.batchId.toDouble)
      j.num("end_ms", b.endMs); j.num("duration_ms", b.durMs.toDouble); j.num("plan_ms", b.planMs.toDouble)
      lines += j.render
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val OpKey = "perfbench.op"

  final case class QeRec(execId: Long, atMs: Long, analysisMs: Long, optimizeMs: Long, planMs: Long)
  final case class BatchRec(query: String, batchId: Long, endMs: Double, durMs: Long, planMs: Long,
      stateRows: Long)
  final case class PassRec(pass: Int, startNs: Long, endNs: Long, codegen0: (Long, Long),
      codegen1: (Long, Long), storage: (Double, Int))

  /** (classes compiled, compile time ns) so far in this JVM. */
  def codegenSnapshot(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** (MB held, RDDs with cached blocks) in the block managers now. */
  def storageSnapshot(spark: SparkSession): (Double, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (infos.map(i => i.memSize + i.diskSize).sum / 1048576.0, infos.length)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
