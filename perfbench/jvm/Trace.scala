package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one run share `run`. */
final class Span(val id: Int, val name: String, val parent: Int, val run: String,
    val startNs: Long) {
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Opening a span sets it as the job description and
  * as the `perfbench.span` local property, so `LayerListener` can charge every
  * Spark job the call launches to it. The driver thread is the only caller. */
final class Tracer(sc: SparkContext, val run: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def apply[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id), run, System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    sc.setJobDescription(name)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
      sc.setJobDescription(open.headOption.map(_.name).orNull)
    }
  }

  def named(prefix: String): Seq[Span] = spans.toSeq.filter(_.name.startsWith(prefix))

  /** Spans as JSON lines (name, start, end, parent, run), for offline reading. */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    s"""{"id":${s.id},"name":${graft.Json.str(s.name)},"start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"parent":${s.parent},"run":${graft.Json.str(s.run)}}"""
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Counters charged to one span. */
final class Counts {
  var jobs, stages, tasks = 0L
  var executorRunMs, inputBytes, inputRecords = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var jobMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  val jobSites = mutable.ArrayBuffer.empty[String]
  // From QueryExecutionListener: planning time and files scanned.
  var planMs, filesRead = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executorRunMs += o.executorRunMs; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    jobMs += o.jobMs; taskMs ++= o.taskMs; jobSites ++= o.jobSites
    planMs += o.planMs; filesRead += o.filesRead
  }
}

object LayerListener {
  private val Frame = """(.*)\.([^.(]+)\((.*)\)""".r

  /** Spark's short call site ("count at Curate.scala:156") rebuilt from the
    * long one: the span's job description replaces the short form in the
    * execution's description. */
  def shortSite(longForm: String): Option[String] = {
    val frames = longForm.split("\n").toSeq.collect { case Frame(cls, method, at) => (cls, method, at) }
    val user = frames.indexWhere { case (cls, _, _) =>
      !cls.startsWith("org.apache.spark.") && !cls.startsWith("scala.") && !cls.startsWith("java.") }
    if (user <= 0) None else Some(s"${frames(user - 1)._2} at ${frames(user)._3}")
  }
}

/** Benchmark-owned listener: charges jobs, stages, tasks and their metrics to
  * the span whose id the job carried in its properties, and each finished
  * query execution (planning time, files scanned) to the span that was open
  * when the benchmark last called `settle`. Events arrive on Spark's listener
  * thread; readers call `settle` first, which drains the bus. */
final class LayerListener(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val bySpan = mutable.Map.empty[Int, Counts]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  private val pendingQe = mutable.ArrayBuffer.empty[Counts]
  private val executionSite = mutable.Map.empty[Long, String]
  private val scans = new AdaptiveSparkPlanHelper {}

  private def at(span: Int): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .fold(-1)(_.toInt)
    jobStart(e.jobId) = (span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
    val c = at(span)
    c.jobs += 1
    // A job's call site is its SQL execution's (e.g. "count at Curate.scala:156"):
    // adaptive execution submits stages from its own threads, whose call sites
    // name the thread pool. Jobs outside SQL fall back to the result stage's name.
    val execution = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    c.jobSites += execution.flatMap(x => executionSite.get(x.toLong))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionSite(s.executionId) = LayerListener.shortSite(s.details).getOrElse(s.description)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) => at(span).jobMs += e.time - t0 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(at(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    c.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.executorRunMs += m.executorRunTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = new Counts
    c.planMs = qe.tracker.phases.values.map(_.durationMs).sum
    c.filesRead = scans.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
      .map(_.metrics.get("numFiles").fold(0L)(_.value)).sum
    synchronized { pendingQe += c }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Drains the bus and charges query executions finished since the last
    * call to `span`. Call it right after a span closes. */
  def settle(span: Span): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val c = at(span.id)
      pendingQe.foreach { q => c.planMs += q.planMs; c.filesRead += q.filesRead }
      pendingQe.clear()
    }
  }

  /** Drains the bus and drops query executions not yet charged, such as
    * those of untraced calls. Call it right before a span opens. */
  def discardPending(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(pendingQe.clear())
  }

  /** Sum of the counters of `spans` and all their descendants. */
  def total(tracer: Tracer, spans: Seq[Span]): Counts = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val ids = mutable.Set(spans.map(_.id): _*)
    tracer.spans.foreach(s => if (ids(s.parent)) ids += s.id)
    val out = new Counts
    synchronized(ids.foreach(i => bySpan.get(i).foreach(out.add)))
    out
  }
}
