package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** One timed interval of the run. Times are epoch seconds. Numeric
  * attributes accumulate (tasks, bytes, seconds); `end` is NaN while open.
  */
final class Span(val id: Long, val parent: Long, val kind: String,
    val name: String, val start: Double) {
  @volatile var end: Double = Double.NaN
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def dur: Double = end - start
  def attr(k: String): Double = attrs.getOrElse(k, 0.0)
  def add(k: String, v: Double): Unit = synchronized {
    attrs(k) = attrs.getOrElse(k, 0.0) + v
  }
}

/** In-memory span store: run → workload → pass → op → construct / plan /
  * execute → Spark job → stage, and door op → micro-batch. Every span
  * carries the run id (on output) and its parent's id.
  */
final class Tracer(val runId: String) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val spans = mutable.ArrayBuffer.empty[Span]

  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  def open(kind: String, name: String, parent: Long, start: Double = now): Span =
    synchronized {
      val s = new Span(spans.size.toLong, parent, kind, name, start)
      spans += s
      s
    }

  def close(s: Span, end: Double = now): Unit = s.end = end

  def get(id: Long): Span = synchronized(spans(id.toInt))

  def all: Seq[Span] = synchronized(spans.toList)

  def toJson: String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    all.map { s =>
      val attrs = s.attrs.toList.map { case (k, v) => s""""$k":${num(v)}""" }
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""kind":"${s.kind}","name":"${esc(s.name)}",""" +
        s""""start":${num(s.start)},"end":${num(s.end)},"attrs":{${attrs.mkString(",")}}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  /** Local property that links a Spark job to the span that submitted it.
    * Local properties are inheritable, so stream threads started inside a
    * span carry it too.
    */
  val SpanProp = "perfbench.span"
}

/** Records every job and stage as a span under the span named by the
  * job's [[Tracer.SpanProp]], and folds task metrics into the job span.
  */
final class JobTracer(tr: Tracer) extends SparkListener {
  private val jobs = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stages = mutable.Map.empty[(Int, Int), Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(-1L)
    // the result stage is created last: its name is the job's call site
    val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
    val s = tr.open("job", site, parent, e.time / 1e3)
    jobs(e.jobId) = s
    e.stageIds.foreach(stageJob(_) = s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach(tr.close(_, e.time / 1e3))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageJob.get(i.stageId).foreach { job =>
      val t = i.submissionTime.getOrElse(System.currentTimeMillis()) / 1e3
      stages((i.stageId, i.attemptNumber())) = tr.open("stage", i.name, job.id, t)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.remove((i.stageId, i.attemptNumber())).foreach { s =>
      tr.close(s, i.completionTime.getOrElse(System.currentTimeMillis()) / 1e3)
      s.add("tasks", i.numTasks)
      tr.get(s.parent).add("stages", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      stage <- stages.get((e.stageId, e.stageAttemptId))
      job <- stageJob.get(e.stageId)
      m <- Option(e.taskMetrics)
    } {
      val run = m.executorRunTime / 1e3
      job.add("tasks", 1)
      job.add("task_run_s", run)
      job.add("task_cpu_s", m.executorCpuTime / 1e9)
      job.add("gc_s", m.jvmGCTime / 1e3)
      job.add("task_wait_s", math.max(0.0, e.taskInfo.launchTime / 1e3 - stage.start))
      job.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      job.add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      job.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      job.add("spill_bytes", m.diskBytesSpilled.toDouble)
      job.add(if (e.taskType == "ShuffleMapTask") "map_run_s" else "result_run_s", run)
    }
  }
}

/** Records each micro-batch as a span under the door op that is running,
  * with the engine's per-phase durations from its progress report.
  */
final class BatchTracer(tr: Tracer) extends StreamingQueryListener {
  @volatile var current: Option[Span] = None

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = current.foreach { op =>
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
    val start = Instant.parse(p.timestamp).toEpochMilli / 1e3
    val s = tr.open("batch", s"${Option(p.name).getOrElse(p.id.toString)}#${p.batchId}", op.id, start)
    tr.close(s, start + d.getOrElse("triggerExecution", 0.0))
    Seq("triggerExecution" -> "trigger_s", "addBatch" -> "add_batch_s",
      "latestOffset" -> "latest_offset_s", "getBatch" -> "get_batch_s",
      "queryPlanning" -> "query_planning_s", "walCommit" -> "wal_commit_s",
      "commitOffsets" -> "commit_offsets_s").foreach { case (k, a) =>
      s.add(a, d.getOrElse(k, 0.0))
    }
    s.add("rows_in", p.numInputRows.toDouble)
  }
}

/** Counts the rows a door ingests; used in untraced runs, where the
  * per-batch spans are not recorded.
  */
final class RowCounter extends StreamingQueryListener {
  val rows = new java.util.concurrent.atomic.AtomicLong
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    rows.addAndGet(e.progress.numInputRows)
}
