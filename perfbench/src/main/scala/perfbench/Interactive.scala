package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.StructType

import graft.api.DfSql
import graft.api.DfSql.SqlOps
import graft.catalog.{DataSource, FileTable, MemoryCache, QueryResult}

/** Sum of squares: the custom aggregate the statement stream calls. */
object SumSquares extends Aggregator[Long, Long, Long] {
  def zero: Long = 0L
  def reduce(b: Long, a: Long): Long = b + a * a
  def merge(x: Long, y: Long): Long = x + y
  def finish(r: Long): Long = r
  def bufferEncoder: Encoder[Long] = Encoders.scalaLong
  def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

/** A seeded stream of dfsql statements through one DataSource over the
  * region/nation/customer tables: ParityFuzz SELECTs, DfSql.sqlQuery and
  * df.sql implicit-FROM calls, custom scalar and aggregate functions, and
  * a fixed share of catalog writes (CTAS, read-back, SHOW TABLES, DROP).
  * A round is one pass over the statement list; latency runs from the
  * call to the last row in hand. */
final class Interactive(ctx: Ctx) extends Workload {
  import Interactive._

  private val tables = Seq("region", "nation", "customer")
  private var ds: DataSource = _
  private var cache: MemoryCache = _
  private val metaDir = ctx.work.resolve("catalog").toString
  /** The round's statements. Every round repeats them, as a dashboard
    * would, and the warm-up runs them `WarmRounds` times, so each measured
    * statement finds its generated code compiled; a statement's first
    * run, which also compiles that code, is not measured. */
  private val stmts = plan(fuzzSeed(ctx.a.seed), ctx.a.seed)
  /** First measured round's results, for the checker. */
  private val kept = mutable.LinkedHashMap.empty[Int, (StructType, Array[Row])]
  private val hitsBefore = Array(0L, 0L)

  /** Open the catalog once, as a user would: tables and functions. */
  def setup(): Double = ctx.setupStep("catalog.open") {
    cache = new MemoryCache
    ds = new DataSource(ctx.spark, metaDir, initialCache = cache)
    tables.foreach(t => ds.addTable(FileTable(t, ctx.data(t))))
    ds.registerFunction[Long, Long]("pb_bucket", x => x % 7L)
    ds.registerAggregate("pb_sumsq", SumSquares)
  }

  /** A round takes 3.5-8 s here: three keep the number of measured
    * rounds the same on a fast and a slow box. */
  override def minRounds: Int = 3

  def warmup(): Unit = (1 to WarmRounds).foreach(_ => stmts.foreach(s => exec(s)))

  def round(): Unit = {
    if (ctx.rounds == 0) {
      val (h, m, _) = cache.info
      hitsBefore(0) = h; hitsBefore(1) = m
    }
    stmts.zipWithIndex.foreach { case (s, i) =>
      exec(s).foreach { case (schema, rows) =>
        if (ctx.rounds == 0 && schema != null) kept(i) = (schema, rows)
      }
    }
  }

  /** Run one statement; returns its result rows (null schema = command). */
  private def exec(s: Stmt): Option[(StructType, Array[Row])] = {
    val tr = ctx.tracer
    def collect(df: DataFrame): (StructType, Array[Row]) =
      if (ctx.a.trace) {
        tr.span("catalyst.optimizedPlan")(df.queryExecution.optimizedPlan)
        tr.span("catalyst.executedPlan")(df.queryExecution.executedPlan)
        (df.schema, tr.span("exec.collect")(df.collect()))
      } else (df.schema, df.collect())
    def facade(sql: String, span: String): QueryResult = {
      if (ctx.a.trace) tr.span("sql.lower")(graft.sql.Dialect.lower(sql))
      tr.span(span)(ds.query(sql))
    }
    ctx.op(s"stmt.${s.kind}") {
      s.kind match {
        case "sqlquery" =>
          val bound = s.binds.map(t => t -> ds.table(t))
          collect(tr.span("api.sqlquery")(DfSql.sqlQuery(s.sql, bound: _*)))
        case "accessor" =>
          collect(tr.span("api.accessor")(ds.table("customer").sql(s.sql)))
        case "ctas" =>
          facade(s.sql, "commands.ctas"); (null, Array.empty[Row])
        case "drop" =>
          facade(s.sql, "commands.drop"); (null, Array.empty[Row])
        case _ =>
          facade(s.sql, "catalog.query") match {
            case QueryResult.Frame(df) => collect(df)
            case other => sys.error(s"unexpected result $other")
          }
      }
    }
  }

  def finish(): Map[String, Any] = {
    val dir = ctx.a.out.resolve("results")
    // untimed: the writes run four at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try kept.toSeq.map { case (i, (schema, rows)) =>
        pool.submit(new Runnable {
          def run(): Unit = ctx.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(dir.resolve(f"s$i%03d").toString)
        })
      }.foreach(_.get())
    finally pool.shutdown()
    // catalog properties: a dropped table is gone, SHOW TABLES lists the
    // live tables, a reopened catalog sees the same tables
    val dropped = try { ds.query(s"SELECT * FROM $CtasTable"); "no error" }
      catch { case e: Exception => e.getMessage }
    val reopened = new DataSource(ctx.spark, ds.metadataDir).tableNames.sorted
    Map(
      "statements" -> stmts.zipWithIndex.filter(p => kept.contains(p._2)).map { case (s, i) =>
        Map("id" -> f"s$i%03d", "kind" -> s.kind, "sql" -> s.sql, "duck" -> s.duck)
      },
      "kinds" -> stmts.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "live_tables" -> (tables :+ CtasTable).sorted,
      "dropped_error" -> dropped,
      "tables_after" -> ds.tableNames.sorted,
      "tables_reopened" -> reopened)
  }

  def layers(): Map[String, Double] = {
    val tr = ctx.tracer
    def mean(n: String) = if (tr.count(n) == 0) 0.0 else tr.totalMs(n) / tr.count(n)
    val (h, m, _) = cache.info
    val hits = h - hitsBefore(0)
    val total = hits + (m - hitsBefore(1))
    Map(
      "sql.lower_ms" -> mean("sql.lower"),
      "catalog.open_ms" -> ctx.setupParts.getOrElse("catalog.open_s", 0.0) * 1000,
      "catalog.query_call_ms" -> mean("catalog.query"),
      "catalog.cache_hit_ratio" -> (if (total == 0) 0.0 else hits.toDouble / total),
      "commands.ctas_ms" -> mean("commands.ctas"),
      "commands.drop_ms" -> mean("commands.drop"),
      "api.sqlquery_call_ms" -> mean("api.sqlquery"),
      "api.accessor_call_ms" -> mean("api.accessor"))
  }
}

object Interactive {
  final case class Stmt(kind: String, sql: String, duck: String, binds: Seq[String] = Nil)

  val CtasTable = "pb_ctas"
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Untimed warm-up rounds. */
  val WarmRounds = 2

  /** The fuzz seed for a run seed: never the gate's fixed seed 42. */
  def fuzzSeed(seed: Long): Long = 1000003L + 2 * math.abs(seed)

  /** One round of 24 statements: 14 fuzz SELECTs, one of each of the
    * generator's 14 shapes (58 %), 2 DfSql.sqlQuery and 2 df.sql calls
    * (17 %), 1 custom scalar and 1 custom aggregate call (8 %), and the
    * catalog statements CTAS, read-back, SHOW TABLES, DROP (17 %), in a
    * seeded order that keeps the four catalog statements in sequence.
    * Taking the same number of cases per shape keeps the mix the same for
    * every seed. */
  def plan(fuzz: Long, seed: Long): Seq[Stmt] = {
    val rnd = new Random(seed)
    def k() = rnd.nextInt(25)
    def bal() = 1000 + rnd.nextInt(8000)
    val fz = graft.tools.ParityFuzz.cases(fuzz, 400)
      .groupBy(_.name.split("_s").last).toSeq.sortBy(_._1.toInt)
      .flatMap { case (_, cs) => cs.take(1).map(c => Stmt("fuzz", c.dfsql, c.duckSql)) }
    val sq = (1 to 2).map { i =>
      if (i % 2 == 1) {
        val q = s"SELECT c_mktsegment, COUNT(*) AS n, MIN(c_custkey) AS lo FROM customer " +
          s"WHERE c_nationkey = ${k()} GROUP BY c_mktsegment ORDER BY c_mktsegment"
        Stmt("sqlquery", q, q, Seq("customer"))
      } else {
        val q = "SELECT n.n_name, COUNT(*) AS n FROM customer c JOIN nation n " +
          s"ON c.c_nationkey = n.n_nationkey WHERE c.c_acctbal > ${bal()} " +
          "GROUP BY n.n_name ORDER BY n.n_name"
        Stmt("sqlquery", q, q, Seq("customer", "nation"))
      }
    }
    val acc = (1 to 2).map { i =>
      if (i % 2 == 1) {
        val w = s"WHERE c_nationkey = ${k()} AND c_acctbal > ${bal()}"
        Stmt("accessor", s"SELECT c_custkey, c_name, c_acctbal $w ORDER BY c_custkey LIMIT 25",
          s"SELECT c_custkey, c_name, c_acctbal FROM customer $w ORDER BY c_custkey LIMIT 25")
      } else {
        val w = s"WHERE c_mktsegment = '${Segments(rnd.nextInt(5))}'"
        Stmt("accessor", s"SELECT c_nationkey, COUNT(*) AS n $w GROUP BY c_nationkey ORDER BY c_nationkey",
          s"SELECT c_nationkey, COUNT(*) AS n FROM customer $w GROUP BY c_nationkey ORDER BY c_nationkey")
      }
    }
    val fns = (1 to 1).flatMap { _ =>
      val w1 = s"WHERE c_nationkey = ${k()}"
      val w2 = s"WHERE c_nationkey = ${k()}"
      Seq(
        Stmt("udf", s"SELECT c_custkey, pb_bucket(c_custkey) AS b FROM customer $w1 ORDER BY c_custkey",
          s"SELECT c_custkey, c_custkey % 7 AS b FROM customer $w1 ORDER BY c_custkey"),
        Stmt("udaf", s"SELECT c_mktsegment, pb_sumsq(c_custkey) AS s FROM customer $w2 " +
          "GROUP BY c_mktsegment ORDER BY c_mktsegment",
          "SELECT c_mktsegment, CAST(SUM(c_custkey * c_custkey) AS BIGINT) AS s FROM customer " +
            s"$w2 GROUP BY c_mktsegment ORDER BY c_mktsegment"))
    }
    val sel = s"SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_nationkey = ${k()}"
    val catalog = Seq(
      Stmt("ctas", s"CREATE TABLE $CtasTable AS $sel", ""),
      Stmt("readback", s"SELECT c_custkey, c_name, c_acctbal FROM $CtasTable ORDER BY c_custkey",
        s"$sel ORDER BY c_custkey"),
      Stmt("show", "SHOW TABLES", ""),
      Stmt("drop", s"DROP TABLE $CtasTable", ""))
    val body = rnd.shuffle(fz ++ sq ++ acc ++ fns)
    // insertion points for the catalog statements, ascending
    val at = (1 to 4).map(_ => rnd.nextInt(body.size + 1)).sorted
    val out = mutable.ArrayBuffer.empty[Stmt]
    var j = 0
    body.zipWithIndex.foreach { case (s, i) =>
      while (j < 4 && at(j) == i) { out += catalog(j); j += 1 }
      out += s
    }
    while (j < 4) { out += catalog(j); j += 1 }
    out.toSeq
  }
}
