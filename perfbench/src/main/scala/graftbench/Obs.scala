package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Counters of one measured interval. Everything is observed from outside
  * the engine: Spark task metrics, job starts, block updates, and (when
  * tracing) the SQL metrics of each execution's final physical plan.
  */
final class Counters {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var jobs = 0L
  var buildJobs = 0L
  var buildCpuNs = 0L
  var cacheBlocks = 0L
  var cacheBytes = 0L
  // per-stage task durations, kept only while tracing (skew)
  val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  // plan-side counters (tracing only)
  var analysisMs = 0L
  var optimizeMs = 0L
  var physicalMs = 0L
  var exchanges = 0L
  var broadcastJoins = 0L
  var sortMergeJoins = 0L
  var broadcastBytes = 0L
  var broadcastBuildMs = 0L
  var scanFiles = 0L
  var scanRows = 0L
  var scanKeptRows = 0L
  var scanTimeMs = 0L
  var memScans = 0L
  val cachedRelations = mutable.HashSet[Int]()

  def skew: Double = {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** A traced span: name, start/end (ns on the driver's `nanoTime` axis), parent. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startNs: Long, var endNs: Long)

/** All of the benchmark's observation of one Spark session. The benchmark
  * sets two local properties on its driver thread — the current phase
  * (`build` / `exec`) and the current span — and every job carries them.
  */
final class Observer(spark: SparkSession) {
  /** Spans, per-stage task times and plan walks are recorded only while set. */
  @volatile var tracing = false
  private val sc = spark.sparkContext
  @volatile var cur = new Counters
  private val stagePhase = mutable.HashMap[Int, String]()
  private val jobSpan = mutable.HashMap[Int, Span]()
  private val stageParent = mutable.HashMap[Int, Int]()
  val spans = mutable.ArrayBuffer[Span]()
  private var nextSpan = 1
  // wall clock anchor so listener-side (epoch ms) and driver-side (nanoTime)
  // times land on one axis
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  /** Record a span whose times were measured elsewhere. */
  def record(name: String, kind: String, parent: Int, startNs: Long, endNs: Long): Span =
    synchronized {
      val s = Span(nextSpan, parent, name, kind, startNs, endNs)
      nextSpan += 1
      spans += s
      s
    }

  /** A span starting now, kept only while tracing; the caller sets its end. */
  def newSpan(name: String, kind: String, parent: Int): Span =
    if (tracing) record(name, kind, parent, System.nanoTime(), 0L)
    else Span(0, parent, name, kind, System.nanoTime(), 0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Observer.this.synchronized {
      val c = cur
      c.jobs += 1
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty("graftbench.phase"))).getOrElse("")
      if (phase == "build") c.buildJobs += 1
      e.stageIds.foreach(id => stagePhase(id) = phase)
      if (tracing) {
        val parent = Option(e.properties).flatMap(p => Option(p.getProperty("graftbench.span")))
          .map(_.toInt).getOrElse(0)
        val s = record(s"job ${e.jobId}", "job", parent, msToNs(e.time), 0L)
        jobSpan(e.jobId) = s
        e.stageInfos.foreach(si => stageParent(si.stageId) = s.id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Observer.this.synchronized {
      jobSpan.remove(e.jobId).foreach(_.endNs = msToNs(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Observer.this.synchronized {
      val si = e.stageInfo
      for (st <- si.submissionTime; en <- si.completionTime if tracing)
        record(s"stage ${si.stageId}.${si.attemptNumber()} (${si.numTasks} tasks)", "stage",
          stageParent.getOrElse(si.stageId, 0), msToNs(st), msToNs(en))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Observer.this.synchronized {
      val m = e.taskMetrics
      if (m == null) return
      val c = cur
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      if (stagePhase.get(e.stageId).contains("build")) c.buildCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      val info = e.taskInfo
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      c.bytesRead += m.inputMetrics.bytesRead
      c.recordsRead += m.inputMetrics.recordsRead
      if (tracing) c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Observer.this.synchronized {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case _: RDDBlockId if b.memSize + b.diskSize > 0 =>
          cur.cacheBlocks += 1
          cur.cacheBytes += b.memSize + b.diskSize
        case _ =>
      }
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (tracing) Observer.this.synchronized { planOf(qe) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def planOf(qe: QueryExecution): Unit = {
    val c = cur
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    c.analysisMs += d("analysis")
    c.optimizeMs += d("optimization")
    c.physicalMs += d("planning")
    if (ph.nonEmpty)
      record("plan", "plan", planParent, msToNs(ph.values.map(_.startTimeMs).min),
        msToNs(ph.values.map(_.endTimeMs).max))
    walk(qe.executedPlan, c)
  }

  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  private def walk(p: SparkPlan, c: Counters): Unit = {
    p match {
      case s: FileSourceScanExec =>
        c.scanFiles += metric(s, "numFiles")
        c.scanRows += metric(s, "numOutputRows")
        c.scanKeptRows += metric(s, "numOutputRows")
        c.scanTimeMs += metric(s, "scanTime")
      // a filter right above a scan: the scan keeps only the filter's output
      case f: FilterExec => f.child.collectLeaves() match {
        case Seq(s: FileSourceScanExec) if f.child.find(n => n.isInstanceOf[FilterExec] ||
            n.isInstanceOf[Exchange]).isEmpty =>
          c.scanKeptRows -= metric(s, "numOutputRows") - metric(f, "numOutputRows")
        case _ =>
      }
      case _: ShuffleExchangeExec => c.exchanges += 1
      case b: BroadcastExchangeExec =>
        c.exchanges += 1
        c.broadcastBytes += metric(b, "dataSize")
        c.broadcastBuildMs += metric(b, "buildTime")
      case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => c.broadcastJoins += 1
      case _: SortMergeJoinExec => c.sortMergeJoins += 1
      case m: InMemoryTableScanExec =>
        c.memScans += 1
        c.cachedRelations += System.identityHashCode(m.relation.cacheBuilder)
      case _ =>
    }
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, c)
      case s: QueryStageExec => walk(s.plan, c)
      case _: ReusedExchangeExec => ()
      case r: CommandResultExec => walk(r.commandPhysicalPlan, c)
      case _: InMemoryTableScanExec => ()
      case _ => p.children.foreach(walk(_, c))
    }
    p.subqueries.foreach(walk(_, c))
  }

  /** Rows kept by the filters sitting on scans, over the rows those scans
    * produced; a scan without a filter keeps every row.
    */
  def filterKeep(c: Counters): Double =
    if (c.scanRows == 0) 0.0 else c.scanKeptRows.toDouble / c.scanRows

  sc.addSparkListener(listener)
  spark.listenerManager.register(qel)

  /** Deliver every pending event and start a new interval, returning the
    * one that ended.
    */
  def take(): Counters = { BenchBus.drain(sc); val c = cur; cur = new Counters; c }

  // span of the phase whose executions the plan listener is attributing;
  // exact because a traced pass delivers all events at each phase's end
  @volatile private var planParent = 0

  /** Deliver every pending event (traced passes call it at phase ends). */
  def settle(): Unit = BenchBus.drain(sc)

  def setPhase(phase: String, span: Span): Unit = {
    planParent = if (span == null) 0 else span.id
    sc.setLocalProperty("graftbench.phase", phase)
    sc.setLocalProperty("graftbench.span", if (span == null) null else span.id.toString)
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }
}
