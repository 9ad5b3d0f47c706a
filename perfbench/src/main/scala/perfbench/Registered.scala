package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Passes over registered functions of `graft.SparkEntry.queries`. An
  * operation builds the result (`fn(spark, dataDir)`, which runs every
  * eager materialization inside it) and then materializes it fully to a
  * `noop` sink. Each pass runs every query once, in an order drawn from
  * the seed. After each operation the RDDs it persisted are released
  * (untimed), so no operation runs with another's blocks in storage. */
final class Registered(ctx: Ctx) extends Workload {
  private val fns: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = graft.SparkEntry.queries
    Registered.Pipeline.map(n => n -> all.getOrElse(n, sys.error(s"query $n is not registered")))
  }
  private val rnd = new Random(ctx.a.seed)
  private val buildMs, executeMs, buildJobs, materializedMb =
    scala.collection.mutable.ArrayBuffer.empty[Double]

  /** The one-time Staging build q74 reads from (once per JVM). */
  def setup(): Double =
    ctx.setupStep("staging.eventsDir")(graft.queries.Staging.eventsDir(ctx.a.data))

  /** Untimed: `Registered.WarmPasses` passes; the first pass writes each
    * result to parquet for the checker. */
  def warmup(): Unit = (0 until Registered.WarmPasses).foreach { p =>
    fns.foreach { case (name, fn) =>
      val before = ctx.persistedIds
      ctx.op(name) {
        val df = fn(ctx.spark, ctx.a.data)
        if (p == 0) df.coalesce(1).write.mode("overwrite")
          .parquet(ctx.a.out.resolve("results").resolve(name).toString)
        else df.write.format("noop").mode("overwrite").save()
      }
      ctx.releaseSince(before)
    }
    System.gc()
  }

  def round(): Unit = rnd.shuffle(fns).foreach { case (name, fn) =>
    val before = ctx.persistedIds
    val tr = ctx.a.trace
    ctx.op(name) {
      ctx.streams.parentSpan = ctx.tracer.current
      val (jobs0, held0) = if (tr) { ctx.drain(); (ctx.exec.jobs.get, Storage.heldMb(ctx.spark)) }
        else (0L, 0.0)
      val t0 = System.nanoTime()
      val df = ctx.tracer.span("operators.build")(fn(ctx.spark, ctx.a.data))
      val t1 = System.nanoTime()
      if (tr) {
        ctx.drain()
        buildJobs += (ctx.exec.jobs.get - jobs0).toDouble
        materializedMb += Storage.heldMb(ctx.spark) - held0
      }
      ctx.tracer.span("operators.execute")(df.write.format("noop").mode("overwrite").save())
      buildMs += (t1 - t0) / 1e6
      executeMs += (System.nanoTime() - t1) / 1e6
    }
    ctx.releaseSince(before)
  }

  def finish(): Map[String, Any] = Map("results" -> Registered.Pipeline)

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def layers(): Map[String, Double] = Map(
    "operators.build_ms" -> mean(buildMs.toSeq),
    "operators.execute_ms" -> mean(executeMs.toSeq),
    "operators.build_jobs" -> mean(buildJobs.toSeq),
    "operators.materialized_mb" -> mean(materializedMb.toSeq),
    "staging.build_ms" -> ctx.setupParts("staging.eventsDir_s") * 1000) ++ ctx.streamLayers()
}

object Registered {
  /** LLM-data operators: the build-heavy dedup-cluster and
    * graph-fixpoint pipelines (every Materialize.once runs a job while the
    * result is built) and the registered streaming dedup (a stream
    * started, drained and stopped per call). */
  val Pipeline: Seq[String] = Seq("d44_dup_clusters", "q148_pagerank", "q74_stream_dedup")

  /** Untimed warm-up passes. */
  val WarmPasses = 2
}
