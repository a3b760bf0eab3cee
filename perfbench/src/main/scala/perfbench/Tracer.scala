package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark-side tracer. It wraps a span around each call the benchmark
  * makes into an engine layer and attaches three collectors from outside the
  * engine: a `SparkListener` (jobs and stage metrics, plus the SQL execution
  * interval events), a `StreamingQueryListener` (micro-batch progress) and a
  * `QueryExecutionListener` (each action's name, write path and duration).
  *
  * Everything stays in memory until [[finish]]. A span's counts are the jobs
  * (and their stages) that START inside the span's wall interval: the
  * benchmark drives the engine from one client thread, so every job started
  * inside the interval was caused by that call, even when the engine runs it
  * on another thread (`Serving.inParallel`, a stream's micro-batch thread).
  *
  * A disabled tracer registers nothing and [[span]] only runs its body, so the
  * untraced runs measure the engine alone. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var nextId = 0

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  private val actions = new ConcurrentLinkedQueue[Action]()
  // A QueryExecutionListener callback and the SQL execution end event report
  // the same QueryExecution object; whichever arrives second completes the
  // action, and the plan is not kept past that.
  private val halfJoined = new java.util.IdentityHashMap[QueryExecution, Either[ActionRaw, (Long, Long)]]()
  private val progress = new ConcurrentLinkedQueue[Progress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(JobRec(e.jobId, e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.put(i.stageId, StageRec(i.numTasks,
        m.executorRunTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        val start = Option(sqlStarts.remove(s.executionId)).map(_.longValue).getOrElse(s.time)
        org.apache.spark.sql.PerfbenchBridge.queryExecution(s)
          .foreach(qe => join(qe, Right((start, s.time))))
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      // progress reports an idle trigger too; only batches that read rows count
      if (p.numInputRows > 0) progress.add(Progress(System.currentTimeMillis(),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      join(qe, Left(ActionRaw(funcName, writePath(qe), durationNs, failed = false)))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      join(qe, Left(ActionRaw(funcName, writePath(qe), 0L, failed = true)))
  }

  private def join(qe: QueryExecution, half: Either[ActionRaw, (Long, Long)]): Unit =
    halfJoined.synchronized {
      Option(halfJoined.remove(qe)) match {
        case None => halfJoined.put(qe, half)
        case Some(other) =>
          val (a, (start, end)) = (half, other) match {
            case (Left(a), Right(t)) => (a, t)
            case (Right(t), Left(a)) => (a, t)
            case _ => return // the same half twice: nothing to join
          }
          actions.add(Action(a.funcName, a.writePath, a.durationNs / 1e9, start, end, a.failed))
      }
    }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `body` inside a span named `name`. Nested spans record their parent;
    * all spans under one top-level span share its call id. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.headOption
      nextId += 1
      val s = Span(nextId, parent.map(_.callId).getOrElse(nextId), name,
        parent.map(_.id), System.currentTimeMillis(), System.nanoTime())
      open.push(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open.pop()
        spans += s
      }
    }

  private var finished = false

  /** Wait for the listener buses to deliver every event, then detach. */
  def finish(): Unit = if (enabled && !finished) {
    finished = true
    org.apache.spark.sql.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  def allSpans: Seq[Span] = spans.toSeq
  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private lazy val jobRecs: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.startMs)
  private def jobsIn(s: Span): Seq[JobRec] =
    jobRecs.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)

  /** Jobs started in [fromMs, toMs]. */
  def jobsBetween(fromMs: Long, toMs: Long): Int =
    jobRecs.count(j => j.startMs >= fromMs && j.startMs <= toMs)

  /** Actions (SQL executions) whose start falls inside the span. */
  def actionsIn(s: Span): Seq[Action] =
    actions.asScala.toSeq.filter(a => a.startMs >= s.startMs && a.startMs <= s.endMs)

  /** Micro-batch progress reports delivered for batches that ran inside the
    * span (a report is posted when its batch ends). */
  def progressIn(s: Span): Seq[Progress] =
    progress.asScala.toSeq.filter(p => p.atMs >= s.startMs)
      .filter(p => p.atMs <= s.endMs + ProgressSlackMs)

  /** Job, stage and time counts for one span (its children included). */
  def stats(s: Span): CallStats = {
    val js = jobsIn(s)
    val st = js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id)))
    val intervals = js.map(j => (j.startMs,
      Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(s.endMs)))
    val busyMs = unionLength(intervals.map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) })
    CallStats(
      wallS = s.wallS,
      selfS = s.wallS - childCover(s),
      jobs = js.size,
      stages = st.size,
      tasks = st.map(_.numTasks.toLong).sum,
      executorRunS = st.map(_.runMs).sum / 1e3,
      inputBytes = st.map(_.inputBytes).sum,
      shuffleWriteBytes = st.map(_.shuffleWrite).sum,
      spillBytes = st.map(_.spill).sum,
      driverGapS = math.max(0.0, s.wallS - busyMs / 1e3))
  }

  /** Seconds of `s` covered by its direct child spans. */
  private def childCover(s: Span): Double = {
    val kids = spans.filter(_.parent.contains(s.id)).map(k => (k.startNs, k.endNs))
    unionLength(kids.toSeq) / 1e9
  }
}

object Tracer {
  /** A streaming progress report is posted just after its batch commits; a
    * report for a batch that ended inside the span may carry a timestamp a
    * few milliseconds past the span's end. */
  private val ProgressSlackMs = 50L

  final case class Span(id: Int, callId: Int, name: String, parent: Option[Int],
                        startMs: Long, startNs: Long) {
    var endMs: Long = startMs
    var endNs: Long = startNs
    def wallS: Double = (endNs - startNs) / 1e9
  }
  final case class JobRec(id: Int, startMs: Long, stageIds: Seq[Int])
  final case class StageRec(numTasks: Int, runMs: Long, inputBytes: Long,
                            shuffleWrite: Long, spill: Long)
  final case class ActionRaw(funcName: String, writePath: Option[String],
                             durationNs: Long, failed: Boolean)
  final case class Action(funcName: String, writePath: Option[String],
                          durationS: Double, startMs: Long, endMs: Long,
                          failed: Boolean)
  final case class Progress(atMs: Long,
                            durationMs: Map[String, Long], stateRows: Long)
  final case class CallStats(wallS: Double, selfS: Double, jobs: Int,
                             stages: Int, tasks: Long, executorRunS: Double,
                             inputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
                             driverGapS: Double)

  private def writePath(qe: QueryExecution): Option[String] =
    qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }

  /** Total length covered by a set of [start, end] intervals. */
  def unionLength(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}
