package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** A span: one timed call from the harness into a layer. Times are
  * epoch nanoseconds so they line up with Spark's epoch-millisecond
  * job timestamps.
  */
final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long,
    attrs: Map[String, String])

/** Spans around the harness's calls into each layer, kept in memory
  * and written out when the run ends. The harness is single-threaded,
  * so the open-span stack needs no locking; the current span id is
  * also published as a Spark local property so every job the call
  * launches can name its parent span.
  */
final class Spans(val runId: String) {
  /** Session whose local properties carry the open span; null until
    * the session exists.
    */
  var session: SparkSession = null
  private val anchorEpochNs = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[Long] = Nil
  private var nextId = 1L

  def nowNs(): Long = anchorEpochNs + (System.nanoTime() - anchorNano)

  def apply[T](name: String, attrs: (String, String)*)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    publish(id)
    val start = nowNs()
    try body
    finally {
      done += Span(id, name, parent, start, nowNs(), attrs.toMap)
      stack = stack.tail
      publish(parent)
    }
  }

  private def publish(id: Long): Unit =
    if (session != null) session.sparkContext.setLocalProperty("perfbench.span", id.toString)

  def all: Seq[Span] = done.toSeq
}

object Spans {
  /** Self time per span name: each span's duration minus the part of
    * its interval that its children cover.
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        (s.endNs - s.startNs - unionNs(kids)) / 1e9
      }.sum
    }
  }

  /** Length of the union of half-open intervals, in the input unit. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Tables each query scans and rows its streams ingest — recorded in
  * the warm-up pass of every run (traced or not) so the run can state
  * the input rows a pass reads. Attribution goes to `current`, which
  * the harness sets per query and holds until the bus is drained.
  */
final class InputRecorder extends StreamingQueryListener with QueryExecutionListener {
  @volatile var current: String = ""
  val tables = mutable.LinkedHashMap[String, mutable.LinkedHashSet[String]]()
  val streamRows = mutable.LinkedHashMap[String, Long]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val names = qe.analyzed.collect { case l: LogicalRelation => l.relation }.flatMap {
      case r: HadoopFsRelation => r.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
      case _ => Nil
    }
    synchronized { tables.getOrElseUpdate(current, mutable.LinkedHashSet()) ++= names }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      streamRows(current) = streamRows.getOrElse(current, 0L) + event.progress.numInputRows
    }
}

/** Per-layer counters from Spark's public listeners, attributed to
  * (pass, query, phase) through the local properties the harness sets
  * before every builder and sink call. Listener-bus events arrive
  * asynchronously; the harness drains the bus before it reads a pass.
  */
final class LayerListener extends SparkListener {
  final case class Job(id: Int, pass: Int, query: String, phase: String, span: Long,
      callSite: String, startMs: Long, var endMs: Long)
  final case class Task(stage: Int, launchMs: Long, durationMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shWriteBytes: Long, shWriteRecs: Long, shReadBytes: Long, shReadRecs: Long,
      fetchWaitMs: Long, spillBytes: Long, peakMem: Long, inBytes: Long, inRecs: Long,
      outBytes: Long)

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stageJob = mutable.HashMap[Int, Int]()
  val stageSubmitMs = mutable.HashMap[Int, Long]()
  val tasks = mutable.ArrayBuffer[Task]()
  private val blockBytes = mutable.HashMap[RDDBlockId, Long]()
  private var cachedBytes = 0L
  @volatile var peakCachedBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, scala.util.Try(prop("perfbench.pass").toInt).getOrElse(Int.MinValue),
      prop("perfbench.query"), prop("perfbench.phase"),
      scala.util.Try(prop("perfbench.span").toLong).getOrElse(0L),
      // the result stage is named after the job's call site
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name, e.time, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitMs(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.peakExecutionMemory, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten)
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val info = e.blockUpdatedInfo
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        cachedBytes += size - blockBytes.getOrElse(id, 0L)
        if (size > 0) blockBytes(id) = size else blockBytes.remove(id)
        peakCachedBytes = math.max(peakCachedBytes, cachedBytes)
      case _ => ()
    }
  }

  /** Restart the cached-bytes peak from what is cached now. */
  def resetPeak(): Unit = synchronized { peakCachedBytes = cachedBytes }

  def jobOf(stage: Int): Option[Job] = synchronized(stageJob.get(stage).flatMap(jobs.get))
}

/** Planner-side counters per pass, from QueryExecutionListener and
  * StreamingQueryListener: planning time, executed-plan nodes outside
  * whole-stage codegen, observe() channels and streaming progress.
  */
final class PlanListener extends StreamingQueryListener with QueryExecutionListener {
  @volatile var pass: Int = -1
  final class PassPlan {
    var planMs = 0L
    var nodesOutsideCodegen = 0L
    val observed = mutable.LinkedHashMap[String, Long]()
    var batches = 0L
    var inputRows = 0L
    var stateRows = 0L
    var stateMemBytes = 0L
    var stateCommitMs = 0L
    var batchMs = 0L
  }
  val byPass = mutable.LinkedHashMap[Int, PassPlan]()
  private def cur: PassPlan = byPass.getOrElseUpdate(pass, new PassPlan)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val p = cur
      p.planMs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      p.nodesOutsideCodegen += PlanListener.outsideCodegen(qe.executedPlan, inCodegen = false)
      qe.observedMetrics.foreach { case (name, row) =>
        if (row.length > 0) row.get(0) match {
          case l: java.lang.Long =>
            val k = name.takeWhile(_ != '#')
            p.observed(k) = p.observed.getOrElse(k, 0L) + l
          case _ => ()
        }
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = cur
      val pr = event.progress
      p.batches += 1
      p.inputRows += pr.numInputRows
      p.batchMs += Option(pr.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      pr.stateOperators.foreach { s =>
        p.stateRows = math.max(p.stateRows, s.numRowsTotal)
        p.stateMemBytes = math.max(p.stateMemBytes, s.memoryUsedBytes)
        p.stateCommitMs += s.commitTimeMs
      }
    }
}

object PlanListener {
  /** Executed-plan operators that run outside whole-stage codegen
    * (AQE wrappers and codegen boundaries themselves not counted).
    */
  def outsideCodegen(plan: SparkPlan, inCodegen: Boolean): Long = plan match {
    case w: WholeStageCodegenExec => outsideCodegen(w.child, inCodegen = true)
    case i: InputAdapter => outsideCodegen(i.child, inCodegen = false)
    case a: AdaptiveSparkPlanExec => outsideCodegen(a.executedPlan, inCodegen = false)
    case q: QueryStageExec => outsideCodegen(q.plan, inCodegen = false)
    case other =>
      (if (inCodegen) 0L else 1L) + other.children.map(outsideCodegen(_, inCodegen)).sum
  }
}
