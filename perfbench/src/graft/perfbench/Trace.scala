package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory trace of one benchmark run, written out at exit.
  *
  * - spans: name, start, end, parent and run id; times are epoch
  *   milliseconds (fractional), so they line up with Spark's job and
  *   trigger clocks;
  * - jobs: one record per Spark job, keyed by its job description,
  *   with task metrics summed over the job's stages (trace runs only);
  * - triggers: one record per streaming progress event.
  *
  * `overheadNs` counts the time spent inside the recorder itself, so
  * the cost of tracing is measured rather than assumed. */
final class Trace(val runId: String, val jobsEnabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6

  val overheadNs = new LongAdder

  // ---- spans ----
  import Trace._
  private val spanIds = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  /** Time `body` as a span nested under the calling thread's open span. */
  def span[A](name: String)(body: => A): A = {
    val id = spanIds.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val start = nowMs
    try body
    finally {
      val end = nowMs
      stack.set(stack.get.tail)
      spans.add(Span(id, parent, name, start, end))
    }
  }

  /** Durations (ms) of every finished span with this name, in end order. */
  def durations(name: String): Seq[Double] =
    spans.asScala.toSeq.filter(_.name == name).sortBy(_.end).map(s => s.end - s.start)

  // ---- Spark jobs ----
  final class JobRec(val id: Int, val desc: String, val start: Long) {
    @volatile var end: Long = -1L
    val tasks, cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill,
      inBytes, outRows, outBytes = new LongAdder
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val desc = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse("")
      val r = new JobRec(e.jobId, desc, e.time)
      jobs.put(e.jobId, r)
      e.stageIds.foreach(s => stageJob.put(s, r))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val r = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (r != null && m != null) {
        r.tasks.increment()
        r.cpuNs.add(m.executorCpuTime)
        r.runMs.add(m.executorRunTime)
        r.gcMs.add(m.jvmGCTime)
        r.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        r.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        r.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        r.inBytes.add(m.inputMetrics.bytesRead)
        r.outRows.add(m.outputMetrics.recordsWritten)
        r.outBytes.add(m.outputMetrics.bytesWritten)
      }
    }
  }

  // ---- streaming triggers ----
  private val triggers = new ConcurrentLinkedQueue[TriggerRec]()

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val src = p.sources.headOption
      triggers.add(TriggerRec(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        src.map(_.startOffset).orNull, src.map(_.endOffset).orNull,
        p.numInputRows))
    }
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally overheadNs.add(System.nanoTime() - t0)
  }

  def triggerRecords: Seq[TriggerRec] = triggers.asScala.toSeq.sortBy(_.startMs)

  /** Raw record of everything recorded, for the run file. */
  def toJson: Map[String, Any] = Map(
    "run_id" -> runId,
    "spans" -> spans.asScala.toSeq.sortBy(_.start).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "run" -> runId, "name" -> s.name,
      "start" -> s.start, "end" -> s.end)),
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "desc" -> j.desc, "start" -> j.start, "end" -> j.end,
      "tasks" -> j.tasks.sum, "cpu_ns" -> j.cpuNs.sum, "run_ms" -> j.runMs.sum,
      "gc_ms" -> j.gcMs.sum, "shuffle_read" -> j.shuffleRead.sum,
      "shuffle_write" -> j.shuffleWrite.sum, "spill" -> j.spill.sum,
      "in_bytes" -> j.inBytes.sum, "out_rows" -> j.outRows.sum,
      "out_bytes" -> j.outBytes.sum)),
    "triggers" -> triggerRecords.map(t => Map(
      "query" -> t.query, "batch" -> t.batch, "start" -> t.startMs,
      "durations" -> t.durations, "start_offset" -> t.startOffset,
      "end_offset" -> t.endOffset, "input_rows" -> t.inputRows)),
    "overhead_ms" -> overheadNs.sum / 1e6)
}

object Trace {
  final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double)
  final case class TriggerRec(query: String, batch: Long, startMs: Long,
      durations: Map[String, Long], startOffset: String, endOffset: String,
      inputRows: Long)
}
