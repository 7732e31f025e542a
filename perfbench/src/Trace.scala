package perfbench

import java.util.Properties

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Work one span caused, as the Spark listener bus reports it. */
final class Counters {
  var jobs, stages, tasks, taskRunMs, taskDeserMs, taskGcMs = 0L
  var shuffleBytes, fetchWaitMs, inputBytes, outputBytes, serialStageMs = 0L
  var scanFiles, scanPartitions, batches, batchMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskDeserMs += o.taskDeserMs; taskGcMs += o.taskGcMs
    shuffleBytes += o.shuffleBytes; fetchWaitMs += o.fetchWaitMs
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    serialStageMs += o.serialStageMs; scanFiles += o.scanFiles
    scanPartitions += o.scanPartitions; batches += o.batches; batchMs += o.batchMs
  }

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_run_ms" -> taskRunMs,
    "task_deser_ms" -> taskDeserMs, "task_gc_ms" -> taskGcMs,
    "shuffle_bytes" -> shuffleBytes, "fetch_wait_ms" -> fetchWaitMs,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "serial_stage_ms" -> serialStageMs, "scan_files" -> scanFiles,
    "scan_partitions" -> scanPartitions, "batches" -> batches, "batch_ms" -> batchMs)
}

/** One timed call into a layer. `op` is shared by every span of one
  * get_document, store_document or registry query; the root span of an
  * op has `parent == -1`. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long) {
  var endNs: Long = 0L
  /** Values the benchmark reads from the program around the call
    * (staging build seconds, files written). */
  val extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are kept only while `active`; the
  * Spark work a span causes is attributed to it through a job-group-like
  * local property that every job, stage and task launched inside the span
  * carries, so the attribution does not depend on listener timing. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var opSeq = 0
  var active = false

  private val byId = mutable.HashMap.empty[Int, Counters]
  def counters(id: Int): Counters = byId.synchronized(byId.getOrElseUpdate(id, new Counters))

  private val listener = new Tracer.Listener(this)

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(listener.streams)
  }

  private def enter(name: String, op: Int): Span = {
    val s = Span(spans.size, stack.headOption.fold(-1)(_.id), op, name, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    s
  }

  private def exit(s: Span): Unit = {
    s.endNs = System.nanoTime()
    stack = stack.tail
    sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
  }

  /** Root span of a new op. */
  def op[T](name: String)(body: => T): T =
    if (!active) body
    else {
      opSeq += 1
      val s = enter(name, opSeq)
      try body finally exit(s)
    }

  def span[T](name: String)(body: => T): T =
    if (!active || stack.isEmpty) body
    else {
      val s = enter(name, stack.head.op)
      try body finally exit(s)
    }

  /** Attach a value read around the current span's call. */
  def note(key: String, v: => Double): Unit =
    if (active) stack.headOption.foreach(s => s.extra(key) = s.extra.getOrElse(key, 0.0) + v)

  /** Wait until the listener bus has delivered every event so far, then
    * resolve micro-batch progress to the spans that started the query. */
  def settle(): Unit = {
    org.apache.spark.perfbenchbus.drain(sc)
    listener.resolveStreams()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val StreamQueryKey = "sql.streaming.queryId"
  /** A stage of at most this many tasks that runs this long is serial. */
  val SerialTasks = 2
  val SerialMs = 200L

  private def spanOf(p: Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt)

  private object Plans extends AdaptiveSparkPlanHelper

  private[perfbench] final class Listener(t: Tracer) extends SparkListener {
    private val stageSpan = mutable.HashMap.empty[Int, Int]
    private val execSpan = mutable.HashMap.empty[Long, Int]
    private val streamSpan = mutable.HashMap.empty[String, Int]
    private val progress = ArrayBuffer.empty[(String, Long)]

    override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { s =>
      t.counters(s).jobs += 1
      e.stageInfos.foreach(si => stageSpan(si.stageId) = s)
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execSpan(x.toLong) = s)
      Option(e.properties.getProperty(StreamQueryKey))
        .foreach(q => if (!streamSpan.contains(q)) streamSpan(q) = s)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(s => stageSpan(e.stageInfo.stageId) = s)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stageSpan.get(si.stageId).foreach { s =>
        val c = t.counters(s)
        c.stages += 1
        val wall = for (a <- si.submissionTime; b <- si.completionTime) yield b - a
        wall.filter(w => si.numTasks <= SerialTasks && w >= SerialMs)
          .foreach(w => c.serialStageMs += w)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = t.counters(s)
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskDeserMs += m.executorDeserializeTime
        c.taskGcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        for (s <- execSpan.get(end.executionId);
             qe <- Option(org.apache.spark.sql.perfbenchbridge.queryExecution(end))) {
          val c = t.counters(s)
          Plans.collectWithSubqueries(qe.executedPlan) { case f: FileSourceScanExec => f }
            .foreach { f =>
              c.scanFiles += f.metrics.get("numFiles").fold(0L)(_.value)
              c.scanPartitions += f.metrics.get("numPartitions").fold(0L)(_.value)
            }
        }
      case _ =>
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val ms = Option(e.progress.durationMs.get("triggerExecution")).fold(0L)(_.longValue)
        progress.synchronized { progress += (e.progress.id.toString -> ms); () }
      }
    }

    def resolveStreams(): Unit = progress.synchronized {
      progress.foreach { case (q, ms) =>
        streamSpan.get(q).foreach { s =>
          val c = t.counters(s)
          c.batches += 1
          c.batchMs += ms
        }
      }
      progress.clear()
    }
  }
}
