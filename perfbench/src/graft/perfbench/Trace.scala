package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's own calls: a workload, a query
  * or pipeline call, or a step inside one. Times are epoch milliseconds
  * (the clock Spark's listener events and planning phases use). */
final case class Span(id: Long, name: String, kind: String, parent: Long,
    startMs: Double, var endMs: Double = Double.NaN)

/** Span recorder plus the traced run's instruments, all observed from
  * outside the library:
  *  - a SparkListener for jobs, stages and tasks (run, CPU, GC, launch
  *    wait, shuffle, spill, input), and for SQL executions with the
  *    library method that started each;
  *  - a QueryExecutionListener for the QueryExecutions that actually ran
  *    (their Catalyst phases, and the parquet relations their executed
  *    plans scan);
  *  - exact deltas of `CodeGenerator.compileTime` and of the Janino
  *    compilation histogram's count.
  *
  * Jobs are tagged with the span that launched them through the
  * `perfbench.span` local property; everything else is attributed to a
  * span by its timestamps, after the listener bus has drained. With
  * `enabled = false` no listener is registered and spans cost two clock
  * reads. Spans live in memory and are written when the run ends. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def nowMs: Double = System.nanoTime() / 1e6 + Tracer.epochOffsetMs

  def begin(name: String, kind: String): Span = {
    val s = Span(ids.incrementAndGet(), name, kind,
      open.headOption.map(_.id).getOrElse(0L), nowMs)
    spans += s
    open = s :: open
    if (enabled) spark.sparkContext.setLocalProperty(Tracer.SpanKey, s.id.toString)
    s
  }

  def end(s: Span): Double = {
    s.endMs = nowMs
    open = open.dropWhile(_.id != s.id).drop(1)
    if (enabled) spark.sparkContext.setLocalProperty(Tracer.SpanKey,
      open.headOption.map(_.id.toString).orNull)
    s.endMs - s.startMs
  }

  /** Runs `body` inside a span; returns its result and wall milliseconds. */
  def span[T](name: String, kind: String)(body: => T): (T, Double) = {
    val s = begin(name, kind)
    try {
      val r = body
      (r, end(s))
    } catch { case e: Throwable => end(s); throw e }
  }

  // ---------------------------------------------------------- listeners

  final case class JobRec(id: Int, span: Long, startMs: Long, stages: Seq[Int])
  final case class StageRec(id: Int, attempt: Int, submitMs: Long, endMs: Long,
      persistedRdds: Int)
  final case class TaskRec(stage: Int, attempt: Int, launchMs: Long, endMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, shWrite: Long, shRead: Long,
      fetchWaitMs: Long, spill: Long, inBytes: Long, inRows: Long)
  final case class ExecRec(atMs: Double, analysisMs: Double, optimizationMs: Double,
      planningMs: Double, scans: Int)
  /** A top-level SQL execution (physical planning and run) and the first
    * stack frame outside Spark and Scala that started it. */
  final case class SqlRec(site: String, startMs: Long, endMs: Long)

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val execs = new ConcurrentLinkedQueue[ExecRec]()
  val sqlExecs = new ConcurrentLinkedQueue[SqlRec]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()
  private val events = new AtomicLong(0)

  private val sparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val tag = Option(js.properties).flatMap(p =>
        Option(p.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
      jobs.add(JobRec(js.jobId, tag, js.time, js.stageIds))
      events.incrementAndGet()
    }
    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = {
      val si = ss.stageInfo
      stageSubmit.put((si.stageId, si.attemptNumber()),
        si.submissionTime.getOrElse(System.currentTimeMillis()))
      events.incrementAndGet()
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val submit = si.submissionTime.getOrElse(
        stageSubmit.getOrDefault((si.stageId, si.attemptNumber()), 0L))
      stages.add(StageRec(si.stageId, si.attemptNumber(), submit,
        si.completionTime.getOrElse(System.currentTimeMillis()),
        si.rddInfos.count(r => r.storageLevel.isValid)))
      events.incrementAndGet()
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val ti = te.taskInfo
      val m = te.taskMetrics
      if (ti != null && m != null) tasks.add(TaskRec(te.stageId, te.stageAttemptId,
        ti.launchTime, ti.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
      events.incrementAndGet()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
        sqlStart.put(s.executionId, (Tracer.userFrame(s.details), s.time))
        events.incrementAndGet()
      case x: SparkListenerSQLExecutionEnd =>
        Option(sqlStart.remove(x.executionId)).foreach { case (site, t0) =>
          sqlExecs.add(SqlRec(site, t0, x.time))
        }
        events.incrementAndGet()
      case _ =>
    }
  }

  private val execListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Double =
        ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val at = ph.values.map(_.startTimeMs).reduceOption(_ min _)
        .map(_.toDouble).getOrElse(nowMs)
      val scans = scala.util.Try(Tracer.scannedTables(qe.executedPlan).size).getOrElse(0)
      execs.add(ExecRec(at, ms("analysis"), ms("optimization"), ms("planning"), scans))
      events.incrementAndGet()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private var compileNs0 = 0L
  private var compiles0 = 0L
  private var heapPools: Seq[java.lang.management.MemoryPoolMXBean] = Nil

  /** Registers the listeners and zeroes the codegen and heap baselines. */
  def start(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    compileNs0 = CodeGenerator.compileTime
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.toSeq.filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Codegen totals since [[start]]: (compile ms, compilations). */
  def codegen: (Double, Long) =
    ((CodeGenerator.compileTime - compileNs0) / 1e6,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Waits until no listener event has arrived for three 200 ms checks
    * (cap 20 s), then unregisters. The listener bus is asynchronous. */
  def stop(): Unit = if (enabled) {
    var last = -1L
    var stable = 0
    var waited = 0
    while (stable < 3 && waited < 20000) {
      Thread.sleep(200); waited += 200
      val n = events.get()
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
  }

  // -------------------------------------------------------- attribution

  /** The op-level span (kind "op") a job's tag descends from. */
  private def opOf(byId: Map[Long, Span], spanId: Long): Option[Span] = {
    var cur = byId.get(spanId)
    while (cur.exists(_.kind != "op")) cur = cur.flatMap(s => byId.get(s.parent))
    cur
  }

  /** Job and stage spans under their launching spans, for the trace file. */
  def sparkSpans: Seq[Span] = {
    val stageById = stages.asScala.toSeq.groupBy(_.id)
    jobs.asScala.toSeq.sortBy(_.id).flatMap { j =>
      val js = j.stages.flatMap(stageById.getOrElse(_, Nil))
      val jobSpan = Span(-j.id - 1, s"job ${j.id}", "job", j.span, j.startMs.toDouble,
        js.map(_.endMs.toDouble).reduceOption(_ max _).getOrElse(j.startMs.toDouble))
      jobSpan +: js.map(s => Span(-1000000L * (j.id + 1) - s.id,
        s"stage ${s.id}.${s.attempt}", "stage", jobSpan.id,
        s.submitMs.toDouble, s.endMs.toDouble))
    }
  }

  /** Per-op sums of the traced instruments, keyed by op span id. */
  def opLayers(ops: Seq[Span]): Map[Long, Map[String, Double]] = {
    val taskList = tasks.asScala.toSeq
    val byId = spans.iterator.map(s => s.id -> s).toMap
    val jobToOp = jobs.asScala.toSeq.flatMap(j => opOf(byId, j.span).map(o => j -> o.id))
    val stageToOp = jobToOp.flatMap { case (j, o) => j.stages.map(_ -> o) }.toMap
    val execList = execs.asScala.toSeq
    ops.map { op =>
      val ts = taskList.filter(t => stageToOp.get(t.stage).contains(op.id))
      val ex = execList.filter(e => e.atMs >= op.startMs - 1 && e.atMs <= op.endMs + 1)
      val st = stages.asScala.filter(s => stageToOp.get(s.id).contains(op.id))
      // time inside the op when no task of any stage is running
      val busy = Tracer.unionMs(taskList.map(t => (t.launchMs.toDouble, t.endMs.toDouble)),
        op.startMs, op.endMs)
      val waits = ts.map { t =>
        (t.launchMs - stageSubmit.getOrDefault((t.stage, t.attempt), t.launchMs))
          .max(0L).toDouble
      }
      op.id -> Map(
        "ops.driver_only_ms" -> ((op.endMs - op.startMs) - busy).max(0.0),
        "ops.executions" -> ex.size.toDouble,
        "catalyst.analysis_ms" -> ex.map(_.analysisMs).sum,
        "catalyst.optimization_ms" -> ex.map(_.optimizationMs).sum,
        "catalyst.planning_ms" -> ex.map(_.planningMs).sum,
        "sources.table_scans" -> ex.map(_.scans).sum.toDouble,
        "sched.jobs" -> jobToOp.count(_._2 == op.id).toDouble,
        "sched.stages" -> st.size.toDouble,
        "sched.tasks" -> ts.size.toDouble,
        "sched.task_run_ms" -> ts.map(_.runMs).sum.toDouble,
        "sched.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "sched.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
        "sched.task_wait_ms" -> waits.sum,
        "shuffle.write_bytes" -> ts.map(_.shWrite).sum.toDouble,
        "shuffle.read_bytes" -> ts.map(_.shRead).sum.toDouble,
        "shuffle.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
        "shuffle.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "sources.bytes_read" -> ts.map(_.inBytes).sum.toDouble,
        "sources.rows_read" -> ts.map(_.inRows).sum.toDouble,
        "ml.autocache.cached_reads" -> st.count(_.persistedRdds > 0).toDouble)
    }.toMap
  }

  /** Spans as trace-file records, with self time = duration − children. */
  def traceRecords: Seq[Map[String, Any]] = {
    val all = spans.toSeq ++ (if (enabled) sparkSpans else Nil)
    val childMs = all.groupBy(_.parent).view
      .mapValues(_.map(s => s.endMs - s.startMs).sum).toMap
    all.map { s =>
      val dur = s.endMs - s.startMs
      Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> dur,
        "self_ms" -> (dur - childMs.getOrElse(s.id, 0.0)))
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Parquet relations an executed plan scans, one entry per physical scan
    * — the count `graft.RuntimeScans.measure` takes from plan text, read
    * from the plan tree instead (plan text abbreviates long paths). AQE
    * final plans and query stages are entered; reused exchanges and
    * subqueries are not, since they scan nothing again. */
  def scannedTables(p: SparkPlan): Seq[String] = p match {
    case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
    case _: ReusedExchangeExec | _: ReusedSubqueryExec => Nil
    case a: AdaptiveSparkPlanExec => scannedTables(a.executedPlan)
    case q: QueryStageExec => scannedTables(q.plan)
    case other => (other.children ++ other.subqueries).flatMap(scannedTables)
  }
  /** The first frame of a Spark call site's long form outside Spark and
    * Scala: the long form puts the last Spark frame first, then the
    * caller's stack from its first own frame on. */
  def userFrame(callSite: String): String =
    callSite.split("\n").lift(1).map(_.trim).getOrElse("")

  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.iterator
      .map { case (a, b) => (a max lo, b min hi) }.filter(p => p._2 > p._1)
      .toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = curB max b
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
