package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call the benchmark made into one engine layer.
  * Times are epoch microseconds, the clock the Spark listener events
  * use (at millisecond grain). `op` groups the spans of one operation. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startUs: Long, endUs: Long)

/** Per-span Spark accounting, filled from listener events. */
final class SpanCounts {
  var jobs, stages, tasks, actions = 0L
  var runMs, cpuNs, deserMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, recordsRead = 0L
  var planMs = 0.0
  var filesRead, filesTotal = 0L
}

/** Span recorder plus the listeners that attribute Spark work to spans.
  *
  * Spans live in memory and are written out once, when the run ends.
  * A span sets the Spark local property [[SpanProp]] on the calling
  * thread (thread pools the engine starts inside the call inherit it),
  * so every job, stage and task lands on the innermost span that
  * caused it. Query-execution events carry no thread, so an action is
  * attributed to the innermost span open when its planning started;
  * the client is a single closed-loop thread, so that is exact.
  *
  * With `enabled = false` nothing is attached and [[span]] only runs
  * its body: the untraced run pays no tracing cost. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val SpanProp = "perfbench.span"
  private val epochOffsetUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = epochOffsetUs + System.nanoTime() / 1000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Long, Long, String, Long)] // id, op, name, start
  private var nextId = 1L
  private var opSeq = 0L

  /** Whether spans are kept now: only in the timed loop of a traced
    * run (set-up and the final checks are never recorded). */
  var recording: Boolean = false

  /** Start recording: called by the timed loop. */
  def startUnit(): Unit = recording = enabled

  val counts = new ConcurrentHashMap[Long, SpanCounts]()
  /** (span, callSite, submit, end) per job; task (span, launch, finish). */
  val jobs = new ConcurrentHashMap[Int, (Long, String, Long, Long)]()
  val taskIntervals = new java.util.concurrent.ConcurrentLinkedQueue[
    (Long, Long, Long)]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSites = new ConcurrentHashMap[Long, String]()
  /** (epoch ms of planning start, plan ms, files read, files total). */
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[
    (Long, Double, Long, Long)]()

  private def c(span: Long) = counts.computeIfAbsent(span, _ => new SpanCounts)

  /** Run `body` inside a root span that starts a new operation. */
  def op[T](name: String)(body: => T): T = {
    require(stack.isEmpty, s"op $name opened inside ${stack.head._3}")
    opSeq += 1
    span(name)(body)
  }

  /** Run `body` inside a child span of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    if (!(enabled && recording)) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    val sc = spark.sparkContext
    stack = (id, opSeq, name, nowUs) :: stack
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      val (_, op, n, start) = stack.head
      stack = stack.tail
      spans += Span(id, parent, op, n, start, nowUs)
      sc.setLocalProperty(SpanProp,
        stack.headOption.map(_._1.toString).orNull)
    }
  }

  /** Add a span for an interval measured outside [[span]] (an engine
    * phase told apart by its jobs' call sites). */
  def addSpan(parent: Span, name: String, startUs: Long, endUs: Long): Unit = {
    spans += Span(nextId, parent.id, parent.op, name, startUs, endUs)
    nextId += 1
  }

  def recorded: Seq[Span] = spans.toSeq

  /** Block until the listener bus has delivered every posted event. */
  def settle(): Unit = if (enabled) {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    // query-execution events ride their own queue behind the bus
    Thread.sleep(50)
    attributeQueries()
  }

  private def attributeQueries(): Unit = {
    var q = queries.poll()
    while (q != null) {
      val (startMs, planMs, read, total) = q
      val at = startMs * 1000L
      val inner = spans.iterator
        .filter(s => s.startUs <= at + 1000L && at <= s.endUs)
        .maxByOption(s => (s.startUs, s.id))
      inner.foreach { s =>
        val k = c(s.id)
        k.actions += 1; k.planMs += planMs
        k.filesRead += read; k.filesTotal += total
      }
      q = queries.poll()
    }
  }

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      if (s > 0) {
        c(s).jobs += 1
        // the job's call site: its SQL execution's (the stack of the
        // thread that ran the action), else the result stage's name
        val site = Option(e.properties.getProperty(
            "spark.sql.execution.id")).flatMap(id =>
            Option(execSites.get(id.toLong)))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse("")
        jobs.put(e.jobId, (s, site, e.time * 1000L, e.time * 1000L))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSites.put(s.executionId, s.details.linesIterator
          .filter(_.contains("graft.")).mkString(";").take(600))
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { case (s, site, st, _) =>
        jobs.put(e.jobId, (s, site, st, e.time * 1000L))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = spanOf(e.properties)
      if (s > 0) {
        stageSpan.put(e.stageInfo.stageId, s)
        c(s).stages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.getOrDefault(e.stageId, 0L)
      if (s > 0 && e.taskInfo != null) {
        val k = c(s)
        k.synchronized {
          k.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            k.runMs += m.executorRunTime
            k.cpuNs += m.executorCpuTime
            k.deserMs += m.executorDeserializeTime
            k.gcMs += m.jvmGCTime
            k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            k.recordsRead += m.inputMetrics.recordsRead
          }
        }
        taskIntervals.add((s, e.taskInfo.launchTime * 1000L,
          e.taskInfo.finishTime * 1000L))
      }
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case r: ReusedExchangeExec => scans(r.child)
    case other => other.children.flatMap(scans)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val start = phases.values.map(_.startTimeMs).min
        val planMs = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
        val fs = scans(qe.executedPlan)
        val read = fs.flatMap(_.metrics.get("numFiles")).map(_.value).sum
        val total = fs.map(_.relation.location.inputFiles.length.toLong).sum
        queries.add((start, planMs.toDouble, read, total))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }
}
