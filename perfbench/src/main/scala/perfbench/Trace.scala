package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program: name, start, end
  * and parent, kept in memory and written once at the end. A disabled
  * tracer runs the body and records nothing. Times are microseconds on
  * the wall clock, so spans built from streaming progress events (which
  * carry wall-clock timestamps) line up with the loop's own spans. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val baseWallUs = System.currentTimeMillis() * 1000L
  private val baseNano = System.nanoTime()

  def nowUs: Long = baseWallUs + (System.nanoTime() - baseNano) / 1000L

  def current: Int = synchronized(stack.headOption.getOrElse(-1))

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val id = nextId
        nextId += 1
        val p = stack.headOption.getOrElse(-1)
        stack = id :: stack
        (id, p)
      }
      val s = nowUs
      try body
      finally synchronized {
        stack = stack.tail
        spans += Span(id, parent, name, s, nowUs)
      }
    }

  /** Record a span measured elsewhere (e.g. a streaming trigger). */
  def record(name: String, parent: Int, startUs: Long, endUs: Long): Unit =
    if (enabled) synchronized {
      spans += Span(nextId, parent, name, startUs, endUs)
      nextId += 1
    }

  /** Sum of durations (ms) of spans with this name. */
  def totalMs(name: String): Double = synchronized {
    spans.iterator.filter(_.name == name).map(s => (s.endUs - s.startUs) / 1000.0).sum
  }

  def count(name: String): Int = synchronized(spans.count(_.name == name))

  def write(path: java.nio.file.Path): Unit = synchronized {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""").append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Execution counters from Spark's public SparkListener events, plus
  * Catalyst phase times from QueryExecutionListener. Listener events
  * arrive asynchronously; `Bus.drain` waits for them at the boundaries
  * where the counters are read. */
final class ExecCounters extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, failedTasks, idleTasks = new AtomicLong
  val taskRunMs, taskWaitMs, inputRows, shuffleWriteBytes, shuffleReadBytes,
    gcMs = new AtomicLong
  val analysisMs, optimizationMs, planningMs = new AtomicLong
  private val stageSubmitted = new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stageSubmitted.put((i.stageId, i.attemptNumber()),
      java.lang.Long.valueOf(i.submissionTime.getOrElse(System.currentTimeMillis())))
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    stageSubmitted.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) failedTasks.incrementAndGet()
    Option(stageSubmitted.get((e.stageId, e.stageAttemptId))).foreach { sub =>
      taskWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - sub))
    }
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      val written = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
      if (read == 0 && written == 0) idleTasks.incrementAndGet()
    }
    ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    analysisMs.addAndGet(ms("analysis"))
    optimizationMs.addAndGet(ms("optimization"))
    planningMs.addAndGet(ms("planning"))
    ()
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "failed_tasks" -> failedTasks.get, "idle_tasks" -> idleTasks.get,
    "task_run_ms" -> taskRunMs.get, "task_wait_ms" -> taskWaitMs.get,
    "input_rows" -> inputRows.get, "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "shuffle_read_bytes" -> shuffleReadBytes.get,
    "gc_ms" -> gcMs.get, "analysis_ms" -> analysisMs.get,
    "optimization_ms" -> optimizationMs.get, "planning_ms" -> planningMs.get)
}

/** Per-batch numbers from StreamingQueryListener progress events. */
final class StreamCounters(tracer: Tracer) extends StreamingQueryListener {
  final case class Batch(query: String, batchId: Long, inputRows: Long,
      startUs: Long, triggerMs: Long, addBatchMs: Long, planningMs: Long,
      walCommitMs: Long, stateCommitMs: Long, stateRows: Long, stateBytes: Long)

  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  @volatile var parentSpan: Int = -1

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
    val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val ops = p.stateOperators.toSeq
    val b = Batch(Option(p.name).getOrElse(p.id.toString), p.batchId, p.numInputRows,
      startUs, d("triggerExecution"), d("addBatch"), d("queryPlanning"),
      d("walCommit") + d("commitOffsets"), ops.map(_.commitTimeMs).sum,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
    batches.add(b)
    tracer.record("stream.trigger", parentSpan, startUs, startUs + b.triggerMs * 1000L)
  }
}

/** JVM-wide GC and JIT time from the management beans. */
object JvmCounters {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }
}

/** Storage held by persisted and checkpointed RDD blocks. */
object Storage {
  def heldMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  /** Render nested Maps/Seqs/strings/numbers/booleans as JSON. */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
