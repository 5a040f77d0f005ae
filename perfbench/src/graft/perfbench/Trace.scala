package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work counted under one span. Only the listener-bus thread writes
  * it; the client thread reads it after draining the bus. */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, schedWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, result = 0L
  var inRows, inBytes, outBytes = 0L
  val stageIntervals = mutable.ArrayBuffer[(Long, Long)]()
  /** Jobs and action intervals per `IncidentPipeline` stage. */
  val pipeJobs = mutable.Map[String, Long]().withDefaultValue(0L)
  val pipeIntervals = mutable.Map[String, mutable.ArrayBuffer[(Long, Long)]]()
}

/** Attributes every job to the span named by the job-local property
  * [[SpanListener.Key]] that the client thread set when it started the
  * job, and every stage and task to the job's span.
  *
  * A job whose call site runs through `IncidentPipeline` is also given to
  * one of `run`'s stages (see [[SpanListener.pipelineStage]]). The call
  * site is that of the job's SQL execution, taken on the client thread,
  * so jobs that Spark starts on its own threads (broadcasts) land in the
  * stage of the action that needed them. A stage's time is the union of
  * its SQL executions' intervals. */
final class SpanListener extends SparkListener {
  val counts = mutable.Map[Int, Counts]()
  var unattributedJobs = 0L
  private val stageSpan = mutable.Map[Int, Int]()
  private val stageSubmitted = mutable.Map[Int, Long]()
  private val execSite = mutable.Map[Long, (String, Long)]()
  private val execStage = mutable.Map[Long, (Int, String)]()

  private def of(span: Int): Counts = counts.getOrElseUpdate(span, new Counts)

  private def addInterval(span: Int, stage: String, a: Long, b: Long): Unit =
    of(span).pipeIntervals.getOrElseUpdate(stage, mutable.ArrayBuffer()) += ((a, b))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite(s.executionId) = (s.details, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      for ((_, start) <- execSite.remove(s.executionId);
           (span, stage) <- execStage.remove(s.executionId))
        addInterval(span, stage, start, s.time)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(SpanListener.Key))) match {
      case Some(str) =>
        val span = str.toInt
        of(span).jobs += 1
        e.stageInfos.foreach(si => stageSpan(si.stageId) = span)
        val exec = props.flatMap(p => Option(p.getProperty(SpanListener.ExecutionId)))
          .map(_.toLong)
        val site = exec.flatMap(execSite.get).map(_._1)
          .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
        SpanListener.pipelineStage(site).foreach { stage =>
          of(span).pipeJobs(stage) += 1
          exec.foreach(x => execStage.getOrElseUpdate(x, (span, stage)))
        }
      case None => unattributedJobs += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (stageSpan.contains(e.stageInfo.stageId))
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSpan.get(e.stageInfo.stageId).foreach { s =>
      val c = of(s)
      c.stages += 1
      for (a <- e.stageInfo.submissionTime; b <- e.stageInfo.completionTime)
        c.stageIntervals += ((a, b))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageSpan.get(e.stageId).foreach { s =>
      val c = of(s)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      stageSubmitted.get(e.stageId).foreach(t =>
        c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.result += m.resultSize
        c.inRows += m.inputMetrics.recordsRead
        c.inBytes += m.inputMetrics.bytesRead
        c.outBytes += m.outputMetrics.bytesWritten
      }
    }
}

object SpanListener {
  val Key = "perfbench.span"
  val ExecutionId = "spark.sql.execution.id"

  private val PipelineFrame = """IncidentPipeline\$\.([A-Za-z0-9_]+)\(""".r

  /** The stage of `IncidentPipeline.run` that a call site belongs to,
    * named by the innermost `IncidentPipeline` method on it: `writeIndex`
    * is write_index, `ragBatch` is rag_batch, and every other method
    * (`run`'s own history write and read-back) is history. */
  def pipelineStage(site: String): Option[String] =
    PipelineFrame.findFirstMatchIn(site).map(_.group(1) match {
      case "writeIndex" | "appendIndex" => "write_index"
      case "ragBatch" => "rag_batch"
      case _ => "history"
    })
}

/** Catalyst phase times of every executed query, as (start ms, duration
  * ms) pairs; they are attributed to spans by time, which is exact here
  * because one client thread runs the spans one after another. */
final class PhaseListener extends QueryExecutionListener {
  val phases = mutable.ArrayBuffer[(Long, Long)]()
  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      if (name == "analysis" || name == "optimization" || name == "planning")
        phases += ((p.startTimeMs, p.durationMs))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

final case class Span(id: Int, parent: Int, name: String, op: Int,
    workload: String, startMs: Long, endMs: Long, wallS: Double)

/** Spans around the harness's own calls into graft. Disabled, it only
  * runs the body: the timed end-to-end runs carry no tracing at all. */
final class Tracer(spark: SparkSession, workload: String) {
  val listener = new SpanListener
  val phaseListener = new PhaseListener
  val spans = mutable.ArrayBuffer[Span]()
  private var enabled = false
  private var next = 0
  private var current = -1

  def isEnabled: Boolean = enabled

  private var (scoredPairs, keptRows) = (0L, 0L)
  /** The RAG stage scores `pairs` (index row, incident) pairs and keeps
    * `kept` rows; their ratio is its useful work per attempt. */
  def scored(pairs: Long, kept: Long): Unit = { scoredPairs += pairs; keptRows += kept }
  def scoredPerKept: Double = if (keptRows > 0) scoredPairs.toDouble / keptRows else 0.0

  def start(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(phaseListener)
    enabled = true
  }

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = next
      next += 1
      val parent = current
      val saved = sc.getLocalProperty(SpanListener.Key)
      sc.setLocalProperty(SpanListener.Key, id.toString)
      current = id
      val (t0, ms0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        spans += Span(id, parent, name, op, workload, ms0,
          System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
        sc.setLocalProperty(SpanListener.Key, saved)
        current = parent
      }
    }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  private val Mb = 1e6

  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var (total, end) = (0L, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Per-layer sums over the operations whose ids are in `ops`. */
  def layerMetrics(ops: Set[Int], cores: Int): Map[String, Double] = {
    drain()
    val opSpans = spans.filter(s => s.name == "op" && ops(s.op))
    val children = spans.filter(s => s.name != "op" && ops(s.op))
    val inOps = opSpans ++ children
    def c(s: Span): Counts = listener.counts.getOrElse(s.id, new Counts)
    def sumC(ss: Iterable[Span])(f: Counts => Long): Double = ss.map(s => f(c(s)).toDouble).sum
    val runWallMs = children.map(s => s.wallS * 1000).sum
    val gapMs = children.map(s => math.max(0.0,
      s.wallS * 1000 - unionMs(c(s).stageIntervals.toSeq, s.startMs, s.endMs))).sum
    val catalystMs = phaseListener.synchronized {
      phaseListener.phases.filter { case (t, _) =>
        opSpans.exists(s => t >= s.startMs && t <= s.endMs) }.map(_._2.toDouble).sum
    }
    def stage(name: String) = children.filter(_.name == name)
    def pipeS(st: String) = inOps.map(s => unionMs(
      c(s).pipeIntervals.getOrElse(st, Nil).toSeq, Long.MinValue, Long.MaxValue)).sum / 1000.0
    def pipeJobs(st: String) = sumC(inOps)(_.pipeJobs(st))
    Map(
      "operators.construct_s" -> stage("construct").map(_.wallS).sum,
      "operators.construct_jobs" -> sumC(stage("construct"))(_.jobs),
      "planning.catalyst_ms" -> catalystMs,
      "execution.exec_s" -> stage("execute").map(_.wallS).sum,
      "execution.jobs" -> sumC(inOps)(_.jobs),
      "execution.stages" -> sumC(inOps)(_.stages),
      "execution.tasks" -> sumC(inOps)(_.tasks),
      "execution.driver_gap_s" -> gapMs / 1000,
      "execution.sched_wait_s" -> sumC(inOps)(_.schedWaitMs) / 1000,
      "execution.busy_frac" ->
        (if (runWallMs > 0) sumC(inOps)(_.runMs) / (runWallMs * cores) else 0.0),
      "execution.shuffle_write_mb" -> sumC(inOps)(_.shuffleWrite) / Mb,
      "execution.shuffle_read_mb" -> sumC(inOps)(_.shuffleRead) / Mb,
      "execution.spill_mb" -> sumC(inOps)(_.spill) / Mb,
      "execution.result_mb" -> sumC(inOps)(_.result) / Mb,
      "execution.failed_tasks" -> sumC(inOps)(_.failedTasks),
      "sources.input_rows" -> sumC(inOps)(_.inRows),
      "sources.input_mb" -> sumC(inOps)(_.inBytes) / Mb,
      "sources.output_mb" -> sumC(inOps)(_.outBytes) / Mb,
      "pipeline.write_index_s" -> pipeS("write_index"),
      "pipeline.rag_batch_s" -> pipeS("rag_batch"),
      "pipeline.history_s" -> pipeS("history"),
      "pipeline.write_index_jobs" -> pipeJobs("write_index"),
      "pipeline.rag_batch_jobs" -> pipeJobs("rag_batch"),
      "pipeline.history_jobs" -> pipeJobs("history"),
      "trace.unattributed_jobs" -> listener.unattributedJobs.toDouble)
  }

  /** Spans with the counts attributed to each, as a JSON array. */
  def spansJson(): String = {
    drain()
    spans.map { s =>
      val c = listener.counts.getOrElse(s.id, new Counts)
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""op":${s.op},"workload":${Json.str(s.workload)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"counts":{""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""failed_tasks":${c.failedTasks},"run_ms":${c.runMs},""" +
        s""""sched_wait_ms":${c.schedWaitMs},"shuffle_write_b":${c.shuffleWrite},""" +
        s""""shuffle_read_b":${c.shuffleRead},"spill_b":${c.spill},""" +
        s""""result_b":${c.result},"input_rows":${c.inRows},""" +
        s""""input_b":${c.inBytes},"output_b":${c.outBytes},"pipeline_jobs":""" +
        c.pipeJobs.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:$v" }
          .mkString("{", ",", "}") + "}}"
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
