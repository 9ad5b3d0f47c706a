package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in its own JVM: set up, warm up untimed, then run
  * whole rounds of the workload's operations for `--seconds`, single
  * threaded and closed loop. Writes `result.json` (and, traced,
  * `trace.jsonl`) to `--out`; perfbench/run.py turns that into the
  * metrics line after checking the outputs.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --data <dir> --out <dir> [--cpus <n>]
  *        perfbench.Main --oracles <file>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: Path, cpus: Int)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    kv.get("oracles") match {
      case Some(out) => dumpOracles(Paths.get(out))
      case None =>
        val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
          kv.getOrElse("trace", "0") == "1", kv("data"), Paths.get(kv("out")),
          kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
        val ok = run(a)
        if (!ok) sys.exit(2)
    }
  }

  /** The pipeline queries and their registered oracle SQL, for the checker. */
  def dumpOracles(out: Path): Unit = {
    val all = graft.SparkEntry.oracleSql
    val names = Registered.Pipeline
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"no registered oracle for: ${missing.mkString(", ")}")
    Files.writeString(out, Json.render(Map("pipeline" -> names,
      "oracles" -> names.map(n => n -> all(n)).toMap)))
  }

  def run(a: Args): Boolean = {
    Files.createDirectories(a.out)
    val ctx = new Ctx(a)
    val w: Workload = a.workload match {
      case "interactive" => new Interactive(ctx)
      case "pipeline" => new Registered(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      ctx.setupS = ctx.startSession() + w.setup()
      val tw = System.nanoTime()
      w.warmup()
      ctx.log(f"warm-up ${(System.nanoTime() - tw) / 1e9}%.2f s")
      ctx.measure(() => w.round(), w.minRounds)
      val checks = w.finish()
      val result = ctx.result(w.layers(), checks)
      Files.writeString(a.out.resolve("result.json"), Json.render(result))
      if (a.trace) ctx.tracer.write(a.out.resolve("trace.jsonl"))
      true
    } catch {
      case NonFatal(e) =>
        ctx.log(s"run aborted: $e")
        e.printStackTrace()
        false
    } finally ctx.stop()
  }
}

/** A workload: timed program set-up, untimed warm-up, whole rounds of
  * operations (each through `Ctx.op`), and an untimed finish that
  * writes what the checker needs. */
trait Workload {
  /** Program set-up after session start; seconds to count in setup_s. */
  def setup(): Double
  def warmup(): Unit
  def round(): Unit
  def finish(): Map[String, Any]
  /** Per-layer metrics particular to this workload (traced run). */
  def layers(): Map[String, Double]
  /** Rounds a run measures at the least, however long they take. */
  def minRounds: Int = 2
}

/** Session, listeners, the operation timer and the run's tallies. */
final class Ctx(val a: Main.Args) {
  val tracer = new Tracer(a.trace)
  val exec = new ExecCounters
  val streams = new StreamCounters(tracer)
  var spark: SparkSession = _
  var setupS = 0.0
  val setupParts = mutable.LinkedHashMap.empty[String, Double]
  val opMs = mutable.ArrayBuffer.empty[Double]
  val opNames = mutable.ArrayBuffer.empty[String]
  /** The measured round each entry of `opMs` belongs to. */
  val opRounds = mutable.ArrayBuffer.empty[Int]
  /** Untimed (warm-up) operation times, logged for tuning the warm-up. */
  val warmMs = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var measuring = false
  var measuredS = 0.0
  var rounds = 0
  var peakStorageMb = 0.0
  private var measureStartUs = 0L
  private var measureEndUs = 0L
  private var execBefore = Map.empty[String, Long]
  private var execAfter = Map.empty[String, Long]
  private var jvmBefore = (0L, 0L)
  private var jvmAfter = (0L, 0L)
  val errors = mutable.ArrayBuffer.empty[String]
  val work: Path = Files.createDirectories(a.out.resolve("work"))

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def data(table: String): String = s"${a.data}/$table.parquet"

  /** Session configured like graft.Bench: local[cpus], max(8, cpus/2)
    * shuffle partitions, codegen cache 4096, UTC, UI off. */
  def startSession(): Double = {
    val t0 = System.nanoTime()
    spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", math.max(8, a.cpus / 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val s = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(exec)
    spark.streams.addListener(streams)
    setupParts("session_s") = s
    s
  }

  def drain(): Unit =
    if (spark != null) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** A timed set-up step, recorded by name; returns its seconds. */
  def setupStep(name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    tracer.span(name)(body)
    val s = (System.nanoTime() - t0) / 1e9
    setupParts(name + "_s") = s
    s
  }

  /** One operation: timed from the call to the result in hand. A throw
    * counts as failed (measured rounds only) and is logged. */
  def op[A](name: String)(body: => A): Option[A] = {
    if (measuring) attempted += 1
    val t0 = System.nanoTime()
    val r =
      try Some(tracer.span(name)(body))
      catch {
        case NonFatal(e) =>
          if (measuring) failed += 1
          val msg = s"$name failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
          if (errors.size < 20) errors += msg
          log(msg)
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    if (measuring && r.isDefined) { opMs += ms; opNames += name; opRounds += rounds }
    if (!measuring) warmMs += ms
    peakStorageMb = math.max(peakStorageMb, Storage.heldMb(spark))
    r
  }

  /** Whole rounds until `seconds` have passed, and at least `minRounds`:
    * rounds still get faster during measurement, so a run that fits fewer
    * rounds on a slow or busy box would not be comparable with the rest. */
  def measure(round: () => Unit, minRounds: Int): Unit = {
    System.gc()
    peakStorageMb = 0.0
    if (a.trace) drain()
    execBefore = exec.snapshot
    jvmBefore = (JvmCounters.gcMs, JvmCounters.jitMs)
    measuring = true
    measureStartUs = tracer.nowUs
    val t0 = System.nanoTime()
    do { round(); rounds += 1 }
    while ((System.nanoTime() - t0) / 1e9 < a.seconds || rounds < minRounds)
    measuredS = (System.nanoTime() - t0) / 1e9
    measureEndUs = tracer.nowUs
    measuring = false
    if (a.trace) drain()
    execAfter = exec.snapshot
    jvmAfter = (JvmCounters.gcMs, JvmCounters.jitMs)
  }

  def execDelta(k: String): Long = execAfter(k) - execBefore(k)

  def perOp(v: Double): Double = v / math.max(1L, attempted)

  /** Layer metrics every workload has: execution, Catalyst, JVM. */
  def commonLayers(): Map[String, Double] = {
    val mb = 1048576.0
    val tasks = execDelta("tasks")
    Map(
      "exec.jobs" -> perOp(execDelta("jobs")),
      "exec.stages" -> perOp(execDelta("stages")),
      "exec.tasks" -> perOp(tasks),
      "exec.task_wait_ms" -> perOp(execDelta("task_wait_ms")),
      "exec.task_run_ms" -> perOp(execDelta("task_run_ms")),
      "exec.idle_task_ratio" -> (if (tasks == 0) 0.0 else execDelta("idle_tasks").toDouble / tasks),
      "exec.input_rows" -> perOp(execDelta("input_rows")),
      "exec.shuffle_write_mb" -> perOp(execDelta("shuffle_write_bytes") / mb),
      "exec.shuffle_read_mb" -> perOp(execDelta("shuffle_read_bytes") / mb),
      "exec.gc_ms" -> perOp(execDelta("gc_ms")),
      "exec.failed_tasks" -> execDelta("failed_tasks").toDouble,
      "catalyst.analysis_ms" -> perOp(execDelta("analysis_ms")),
      "catalyst.optimization_ms" -> perOp(execDelta("optimization_ms")),
      "catalyst.planning_ms" -> perOp(execDelta("planning_ms")),
      "jvm.gc_ms" -> perOp(jvmAfter._1 - jvmBefore._1),
      "jvm.jit_ms" -> perOp(jvmAfter._2 - jvmBefore._2),
      "operators.peak_storage_mb" -> peakStorageMb)
  }

  /** Streaming layer, from the progress of batches that started inside
    * the measured window. */
  def streamLayers(): Map[String, Double] = {
    val all = streams.batches.toArray(Array.empty[StreamCounters#Batch])
      .filter(b => b.startUs >= measureStartUs && b.startUs <= measureEndUs)
    val data = all.filter(_.inputRows > 0)
    def mean(f: StreamCounters#Batch => Double) =
      if (data.isEmpty) 0.0 else data.map(f).sum / data.length
    Map(
      "streaming.batches" -> perOp(all.length.toDouble),
      "streaming.trigger_ms" -> mean(_.triggerMs.toDouble),
      "streaming.add_batch_ms" -> mean(_.addBatchMs.toDouble),
      "streaming.planning_ms" -> mean(_.planningMs.toDouble),
      "streaming.wal_commit_ms" -> mean(_.walCommitMs.toDouble),
      "streaming.state_commit_ms" -> mean(_.stateCommitMs.toDouble),
      "streaming.state_rows" -> mean(_.stateRows.toDouble),
      "streaming.state_mb" -> mean(_.stateBytes / 1048576.0))
  }

  def result(layers: Map[String, Double], checks: Map[String, Any]): Map[String, Any] =
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "attempted" -> attempted, "failed" -> failed, "op_ms" -> opMs.toSeq,
      "op_names" -> opNames.toSeq, "op_rounds" -> opRounds.toSeq,
      "warmup_ms" -> warmMs.toSeq,
      "measured_s" -> measuredS, "rounds" -> rounds, "setup_s" -> setupS,
      "setup_parts" -> setupParts, "peak_storage_mb" -> peakStorageMb,
      "layers" -> (if (a.trace) commonLayers() ++ layers else Map.empty),
      "checks" -> checks, "errors" -> errors.toSeq)

  /** Unpersist RDDs persisted since `before` (untimed harness hygiene,
    * as graft.Bench does between samples). */
  def releaseSince(before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .values.foreach(_.unpersist(blocking = false))

  def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  def stop(): Unit =
    if (spark != null) try spark.stop() catch { case NonFatal(_) => }
}
