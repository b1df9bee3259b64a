package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.epic.WatchStoreApi

/** One completed micro-batch, from `StreamingQueryProgress`. */
final case class Trigger(batchId: Long, startMs: Long, durMs: Map[String, Long],
    inputRows: Long, fromOffset: Long, toOffset: Long) {
  def endMs: Long = startMs + durMs.getOrElse("triggerExecution", 0L)
  def frames: Long = toOffset - fromOffset
}

/** Streaming progress of one query (`watch`), collected from the public
  * listener. */
class ProgressLog extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  @volatile var watch: java.util.UUID = null
  private def offset(json: String): Long =
    if (json == null || json == "null") 0L else json.trim.toLong

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.id == watch && p.sources.nonEmpty && p.numInputRows > 0) {
      val s = p.sources.head
      triggers.add(Trigger(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, offset(s.startOffset), offset(s.endOffset)))
    }
  }
  def all: Seq[Trigger] = triggers.asScala.toSeq.sortBy(_.batchId)
  /** Highest frame offset of a completed trigger. */
  def committed: Long = triggers.asScala.map(_.toOffset).maxOption.getOrElse(0L)
}

/** Aggregated task metrics of one completed stage. */
final case class StageM(stageId: Int, tasks: Int, runMs: Long, cpuMs: Double,
    gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    inBytes: Long, outBytes: Long)

final case class JobM(jobId: Int, startMs: Long, var endMs: Long,
    batchId: Option[Long], tag: Option[String], executionId: Option[Long],
    stages: Seq[Int])

/** Jobs and stages through the public `SparkListener`. A streaming job is
  * attributed to its trigger by the `streaming.sql.batchId` job property
  * (never to "the last job seen"); harness-driven jobs carry the
  * `perfbench.phase` local property the harness sets on its thread. */
class JobLog extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobM]()
  val stages = mutable.HashMap[Int, StageM]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = JobM(e.jobId, e.time, 0L,
      prop("streaming.sql.batchId").map(_.toLong), prop(JobLog.PhaseKey),
      prop("spark.sql.execution.id").map(_.toLong), e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages(i.stageId) = StageM(i.stageId, i.numTasks,
      m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  def jobsWhere(f: JobM => Boolean): Seq[JobM] = synchronized {
    jobs.values.filter(j => f(j) && j.endMs > 0).toSeq
  }
  /** Stages of the given jobs, each counted once. */
  def stagesOf(js: Seq[JobM]): Seq[StageM] = synchronized {
    js.flatMap(_.stages).distinct.flatMap(stages.get)
  }
}

object JobLog {
  val PhaseKey = "perfbench.phase"

  /** Run `f` with its jobs tagged `phase`. */
  def tagged[T](spark: SparkSession, phase: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, phase)
    try f finally sc.setLocalProperty(PhaseKey, prev)
  }

  /** Wall time not covered by any job interval inside [from, to]: the
    * driver's own time (planning, listing, commit protocol). */
  def gapMs(from: Long, to: Long, js: Seq[JobM]): Long =
    uncoveredMs(from, to, js.map(j => (j.startMs, j.endMs)))

  /** The part of [from, to] no interval covers. */
  def uncoveredMs(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    val iv = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (to - from) - covered)
  }
}

/** Sink and read actions through the public `QueryExecutionListener`:
  * one record per successful action with its output path (for writes)
  * and its executed plan (for reads). */
final case class Action(executionId: Long, funcName: String, path: Option[String],
    durMs: Double, plan: org.apache.spark.sql.execution.SparkPlan)

class ActionLog extends QueryExecutionListener {
  val actions = new ConcurrentLinkedQueue[Action]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val path = qe.analyzed.collectFirst {
      case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
        c.outputPath.toString
    }
    actions.add(Action(qe.id, funcName, path, durationNs / 1e6, qe.executedPlan))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def all: Seq[Action] = actions.asScala.toSeq
}

object ActionLog {
  /** Every physical node of a plan, through adaptive wrappers and query
    * stages. */
  def nodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
  }
  def metric(p: org.apache.spark.sql.execution.SparkPlan, cls: String, key: String): Long =
    nodes(p).filter(_.getClass.getSimpleName.contains(cls))
      .flatMap(_.metrics.get(key)).map(_.value).sum
}

/** The watch store as handed to `new GraftEngine(spark, store)`, timing
  * every call into the wrapped store. `addWatch` is delegated whole (the
  * backend insert is protected), so `insertWatch` is never reached. */
class TimedStore(inner: WatchStoreApi, s: SparkSession, val spans: Spans)
    extends WatchStoreApi {
  override protected def spark: SparkSession = s
  override def listAll(): DataFrame = inner.listAll()
  override protected def insertWatch(row: Row): Long =
    throw new UnsupportedOperationException("addWatch is delegated")
  override def expireDue(now: Timestamp): Long =
    spans.time("watch.expire", -1)(inner.expireDue(now))
  override def watchlist(now: Timestamp): DataFrame =
    spans.time("watch.snapshot", -1)(inner.watchlist(now))
  override def addWatch(sourceName: String, ra: String, dec: String,
      author: String, reason: String, watchMode: String, patchType: String,
      duration: String, eventType: String, voevent: String, now: Timestamp): Long =
    spans.time("watch.add", -1)(inner.addWatch(sourceName, ra, dec, author,
      reason, watchMode, patchType, duration, eventType, voevent, now))
}

/** A span at a layer boundary, kept in memory until the run ends. */
final case class Span(kind: String, id: Long, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

class Spans {
  val all = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = all.add(s)
  def time[T](kind: String, id: Long)(f: => T): T = {
    val t0 = Clock.nowMs()
    try f finally all.add(Span(kind, id, t0, Clock.nowMs()))
  }
  def of(kind: String): Seq[Span] = all.asScala.filter(_.kind == kind).toSeq
}

object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
}
