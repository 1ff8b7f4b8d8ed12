package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark-side tracing: spans around every call the benchmark makes
  * into a layer, plus Spark task/job records and executed-plan SQL
  * metrics keyed by the span's job group.
  *
  * Off by default. When off, [[span]] only runs its body: no listener is
  * installed and no job group is set, so untraced timings carry none of
  * the tracing cost. Everything is kept in memory and written by
  * [[Main]] at exit. */
final class Tracer {
  import Tracer._

  @volatile var enabled = false
  /** Ops whose spans are recorded; set by the driver loop. */
  var opId: Int = -1

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[Int, Job]]
  private val tasks = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Task]]
  private val plans = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Plan]]
  // Stage and job ids restart with every SparkContext; cleared on attach.
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  // Physical nodes already counted: a cached relation's plan is shared by
  // every later action that reads the cache and must count once.
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
  @volatile private var currentGroup: String = null
  private var spark: SparkSession = _

  /** nanoTime of epoch-ms 0, to place job times on the span clock. */
  val nanoAtEpoch: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) {
        jobs.getOrElseUpdate(g, mutable.LinkedHashMap.empty)(e.jobId) = Job(e.time, -1L)
        jobGroup(e.jobId) = g
        e.stageIds.foreach(stageGroup(_) = g)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobGroup.get(e.jobId).foreach(g => jobs(g)(e.jobId).endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val g = stageGroup.get(e.stageId)
      if (g.isDefined && e.taskInfo != null) {
        val m = e.taskMetrics
        val info = e.taskInfo
        val t =
          if (m == null)
            Task(info.duration, 0, 0, 0, 0, 0, 0, 0, failed = true, e.stageId, info.finishTime)
          else {
            val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
              m.resultSerializationTime
            Task(info.duration, m.executorRunTime, m.jvmGCTime, math.max(0L, delay),
              m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
              m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize,
              failed = !info.successful, e.stageId, info.finishTime)
          }
        tasks.getOrElseUpdate(g.get, mutable.ArrayBuffer.empty) += t
      }
    }
  }
  private val lock = new Object

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit = {
      val g = currentGroup
      if (g != null) {
        val p = planOf(qe.executedPlan)
        lock.synchronized { plans.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += p }
      }
    }
    override def onFailure(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** Installs the listeners on `s` (once per session). */
  def attach(s: SparkSession): Unit = {
    spark = s
    lock.synchronized { stageGroup.clear(); jobGroup.clear() }
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(qeListener)
  }

  /** Runs `body` as a span named `name`. When tracing, its Spark jobs run
    * under job group "<op>/<span id>/<name>" and the listener bus is
    * drained before the span closes, so every task and plan of the call
    * is attributed to it. */
  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
      opId, System.nanoTime(), -1L, compileCount, 0L)
    spans += s
    stack.push(s)
    val sc = spark.sparkContext
    val prevGroup = currentGroup
    val g = groupOf(s)
    currentGroup = g
    sc.setJobGroup(g, name, interruptOnCancel = false)
    try body
    finally {
      GraftBridge.waitListenerBus(sc)
      s.t1Ns = System.nanoTime()
      s.compiles = compileCount - s.compiles0
      stack.pop()
      currentGroup = prevGroup
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, stack.head.name, interruptOnCancel = false)
    }
  }

  /** Whole-stage and expression classes compiled so far in this JVM. */
  private def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `body` with tracing off (warm-up ops mirror the untraced loop). */
  def off[A](body: => A): A = {
    val was = enabled
    enabled = false
    try body finally enabled = was
  }

  def groupOf(s: Span): String = s"${s.op}/${s.id}/${s.name}"

  /** Operator count, rows read by scans and files read, for one action.
    * Rows scanned count file scans plus reads of caches built directly
    * over files (a cached table); caches of intermediate results are not
    * scans. Each physical node is counted once per run. */
  private def planOf(root: SparkPlan): Plan = {
    var nodes = 0
    var rows = 0L
    var files = 0L
    var fileScans = 0
    def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    def walk(p: SparkPlan, top: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, top)
      case s: QueryStageExec => walk(s.plan, top)
      case _: ReusedExchangeExec => if (top) nodes += 1
      case p if !seen.add(p) => ()
      case m: InMemoryTableScanExec =>
        if (top) nodes += 1
        val cached = m.relation.cachedPlan
        if (directFileCache(cached)) rows += metric(m, "numOutputRows")
        walk(cached, top = false)
      case f: FileSourceScanExec =>
        if (top) nodes += 1
        rows += metric(f, "numOutputRows")
        files += metric(f, "numFiles")
        fileScans += 1
      case other =>
        if (top) nodes += 1
        other.children.foreach(walk(_, top))
        other.subqueries.foreach(walk(_, top))
    }
    lock.synchronized(walk(root, top = true))
    Plan(nodes, rows, files, fileScans)
  }

  private def directFileCache(p: SparkPlan): Boolean = {
    var file = false
    var mem = false
    def walk(q: SparkPlan): Unit = q match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: FileSourceScanExec => file = true
      case _: InMemoryTableScanExec => mem = true
      case o => o.children.foreach(walk)
    }
    walk(p)
    file && !mem
  }

  // ---- export ----------------------------------------------------------

  def jobsOf(g: String): Seq[Job] = lock.synchronized(
    jobs.get(g).map(_.values.toSeq).getOrElse(Nil))
  def tasksOf(g: String): Seq[Task] = lock.synchronized(
    tasks.get(g).map(_.toSeq).getOrElse(Nil))
  def plansOf(g: String): Seq[Plan] = lock.synchronized(
    plans.get(g).map(_.toSeq).getOrElse(Nil))
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        t0Ns: Long, var t1Ns: Long, compiles0: Long,
                        var compiles: Long)
  final case class Task(durMs: Long, runMs: Long, gcMs: Long, delayMs: Long,
                        shufReadB: Long, shufWriteB: Long, spillB: Long,
                        resultB: Long, failed: Boolean, stageId: Int,
                        finishMs: Long)
  final case class Job(startMs: Long, var endMs: Long)
  final case class Plan(nodes: Int, scanRows: Long, filesRead: Long,
                        fileScans: Int)
}
