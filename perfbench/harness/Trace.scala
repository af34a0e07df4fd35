package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 for an op's root span); `op` is the op id every span
  * of one op shares. Wall-clock millis are kept next to the nanos so that
  * Spark events, which carry wall-clock times, can be placed in spans. */
final case class Span(id: Int, op: Int, name: String, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Out-of-program trace of one run: spans around the harness's calls into
  * each layer, plus the engine's own listener and metric hooks. Every
  * record stays in memory until `layerMetrics` folds them at the end. */
final class Trace(spark: SparkSession, tmpDir: java.io.File) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, Int, String, Long, Long)]
  private var nextId = 1
  private var opId = 0

  final case class Task(finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleBytes: Long, spillBytes: Long, inBytes: Long, inRecords: Long,
      outBytes: Long, outRecords: Long, failed: Boolean)
  private val jobStarts = new ConcurrentLinkedQueue[Long]()
  private val stagesDone = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val progress =
    new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val tmpSeen = mutable.HashMap.empty[String, Long]
  private var opCounters = (0L, 0L, 0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val failed = e.reason != Success
      tasks.add(if (m == null) Task(e.taskInfo.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed)
      else Task(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten, failed))
    }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Counters read at phase boundaries: codegen compile nanos, compiled
    * classes, and collector millis. */
  def counters(): (Long, Long, Long) = (CodeGenerator.compileTime,
    CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
    Harness.gcMillis())

  /** Start a new op: `body` runs in its root span, named `op`, and the
    * counters' growth over it is added to the ops' total. Only work that
    * happens inside a root span counts towards the layer metrics, so the
    * harness's output checks between ops are left out. */
  def op[T](body: => T): T = {
    opId += 1
    val c0 = counters()
    try span("op")(body)
    finally {
      val c1 = counters()
      opCounters = (opCounters._1 + c1._1 - c0._1, opCounters._2 + c1._2 - c0._2,
        opCounters._3 + c1._3 - c0._3)
    }
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    stack = (id, parent, name, System.nanoTime(), System.currentTimeMillis()) :: stack
    try body
    finally {
      val (_, p, n, s0, m0) = stack.head
      stack = stack.tail
      spans += Span(id, opId, n, p, s0, System.nanoTime(), m0, System.currentTimeMillis())
    }
  }

  def record(name: String, ms: Double): Unit = {
    val now = System.nanoTime()
    val wall = System.currentTimeMillis()
    spans += Span(nextId, opId, name, stack.headOption.map(_._1).getOrElse(0),
      now - (ms * 1e6).toLong, now, wall - ms.toLong, wall)
    nextId += 1
  }

  /** Track every file under the run's tmpdir at its largest size seen,
    * so staging that is written and later deleted still counts. */
  def scanTmp(): Unit = {
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else {
        val len = f.length()
        if (len > tmpSeen.getOrElse(f.getPath, 0L)) tmpSeen(f.getPath) = len
      }
    walk(tmpDir)
  }

  def spansJson: String = spans.map(s =>
    s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","parent":${s.parent},""" +
      f""""start_ms":${s.startNs / 1e6}%.3f,"end_ms":${s.endNs / 1e6}%.3f}""")
    .mkString("[", ",", "]")

  /** Counters' growth summed over the ops run so far. */
  def opTotals: (Long, Long, Long) = opCounters

  /** Per-layer metrics of the ops whose root spans lie in [t0Ms, t1Ms],
    * the timed phase. Listener events count when their time falls inside
    * one of those root spans; `ops` holds the counters' growth over them. */
  def layerMetrics(t0Ms: Long, t1Ms: Long, wallMs: Double, cpus: Int, ops: (Long, Long, Long),
      corpusBytes: Long, warehouseBytes: Long, deltaRows: Long): Seq[(String, Double, String)] = {
    Harness.drainListenerBus(spark)
    val inPhase = spans.filter(s => s.startMs >= t0Ms && s.endMs <= t1Ms).toSeq
    def windows(name: String) = inPhase.filter(_.name == name).map(s => (s.startMs, s.endMs)).toSeq
    def within(t: Long, ws: Seq[(Long, Long)]) = ws.exists { case (a, b) => t >= a && t <= b }
    val opWindows = windows("op")
    val construct = windows("operators")
    val jobs = jobStarts.asScala.filter(within(_, opWindows)).toSeq
    val ts = tasks.asScala.filter(t => within(t.finishMs, opWindows)).toSeq
    val upserts = windows("etl.upsert")
    val progs = progress.asScala.map(_.progress).filter { p =>
      within(java.time.Instant.parse(p.timestamp).toEpochMilli, opWindows)
    }.toSeq
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val opMs = inPhase.filter(_.parent == 0).map(_.ms).sum
    val constructMs = inPhase.filter(_.name == "operators").map(_.ms).sum
    val mb = 1024.0 * 1024.0
    val taskRunMs = ts.map(_.runMs).sum.toDouble
    Seq(
      ("operators.construct_ms", constructMs, "ms"),
      ("operators.construct_jobs", jobs.count(within(_, construct)).toDouble, "count"),
      ("operators.construct_share", if (opMs > 0) constructMs / opMs else 0.0, "ratio"),
      ("catalyst.optimize_ms", inPhase.filter(_.name == "catalyst.optimize").map(_.ms).sum, "ms"),
      ("catalyst.plan_ms", inPhase.filter(_.name == "catalyst.plan").map(_.ms).sum, "ms"),
      ("codegen.compile_ms", ops._1 / 1e6, "ms"),
      ("codegen.classes", ops._2.toDouble, "count"),
      ("exec.jobs", jobs.size.toDouble, "count"),
      ("exec.stages", stagesDone.asScala.count(within(_, opWindows)).toDouble, "count"),
      ("exec.tasks", ts.size.toDouble, "count"),
      ("exec.task_run_ms", taskRunMs, "ms"),
      ("exec.task_cpu_ms", ts.map(_.cpuNs).sum / 1e6, "ms"),
      ("exec.task_gc_ms", ts.map(_.gcMs).sum.toDouble, "ms"),
      ("exec.core_busy", taskRunMs / (wallMs * cpus), "ratio"),
      ("exec.shuffle_mb", ts.map(_.shuffleBytes).sum / mb, "MB"),
      ("exec.spill_mb", ts.map(_.spillBytes).sum / mb, "MB"),
      ("exec.task_failures", ts.count(_.failed).toDouble, "count"),
      ("sources.input_mb", ts.map(_.inBytes).sum / mb, "MB"),
      ("sources.input_rows", ts.map(_.inRecords).sum.toDouble, "rows"),
      ("sources.output_mb", ts.map(_.outBytes).sum / mb, "MB"),
      ("materialize.tmp_mb_written", tmpSeen.values.sum / mb, "MB"),
      ("streaming.batches", progs.size.toDouble, "count"),
      ("streaming.batch0_ms", progs.filter(_.batchId == 0).map(dur(_, "triggerExecution")).sum.toDouble, "ms"),
      ("streaming.plan_ms", progs.map(dur(_, "queryPlanning")).sum.toDouble, "ms"),
      ("streaming.add_batch_ms", progs.map(dur(_, "addBatch")).sum.toDouble, "ms"),
      ("streaming.log_ms", progs.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum.toDouble, "ms"),
      ("streaming.state_rows_max", (0L +: progs.flatMap(_.stateOperators.map(_.numRowsTotal))).max.toDouble, "rows"),
      ("etl.load_ms", inPhase.filter(_.name == "etl.load").map(_.ms).sum, "ms"),
      ("etl.upsert_ms", inPhase.filter(_.name == "etl.upsert").map(_.ms).sum, "ms"),
      ("etl.bytes_out_per_in", if (corpusBytes > 0) warehouseBytes.toDouble / corpusBytes else 0.0, "ratio"),
      ("etl.rewrite_rows_per_delta_row",
        if (deltaRows > 0) ts.filter(t => within(t.finishMs, upserts)).map(_.outRecords).sum.toDouble / deltaRows
        else 0.0, "ratio"),
      ("jvm.gc_ms", ops._3.toDouble, "ms"))
  }

  def streamInputRows: Long = progress.asScala.map(_.progress.numInputRows).sum
}
