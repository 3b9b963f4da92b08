package perfbench

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.{Engine, Tables}
import graft.sqlfront.Parser

/** One REPL client in a closed loop: each llamadb-dialect statement of the
  * generated stream goes through `Engine`, and the next is sent only when
  * the reply is complete (SELECT rows collected). About 70 % are SELECTs
  * over the star schema and the managed tables, 30 % INSERT / UPDATE /
  * DELETE on the managed tables, which grow over the run. Every reply is
  * written to `sql_results.jsonl` for the DuckDB replay in run.py.
  *
  *   op_cpu_ms    JVM CPU ms per SELECT (all SELECTs' CPU over their count)
  *   op2_cpu_ms   JVM CPU ms per UPDATE or DELETE
  *   run_cpu_s    JVM CPU of every measured statement
  *
  * Wall-time percentiles are printed as `#` lines only: on a shared host a
  * busy neighbour stretches every statement of a run alike, the wall time
  * by up to half, the CPU time by a fifth or less. */
final class SqlMixed(ctx: Ctx) extends Workload {
  import ctx._

  private case class Stmt(kind: String, sql: String)
  private val spec = Json.mapper.readTree(data.resolve("statements.json").toFile)
  private val ddl = spec.get("ddl").elements.asScala.map(_.get(0).asText).toSeq
  private val stmts = spec.get("statements").elements.asScala
    .map(n => Stmt(n.get("kind").asText, n.get("sql").asText)).toIndexedSeq

  private val eng = new Engine(spark)
  private val Star = Seq("region", "nation", "customer", "supplier", "part",
                         "orders", "lineitem")
  private val TableOf = """(?i)(?:INTO|UPDATE|FROM)\s+(\w+)""".r

  def setup(): Unit = {
    Star.foreach(n => eng.register(n, Tables.load(spark, dataDir, n)))
    ddl.foreach(eng.execute)
    // warm the read path on the stream's first SELECT of each template
    // (the managed tables are still empty), and the write path on a
    // scratch table
    stmts.filter(_.kind == "select").take(9).foreach(s => exec(s.sql))
    Seq("CREATE TABLE warm (id i64, v i64)",
        "INSERT INTO warm VALUES " + (0 until 50).map(i => s"($i, $i)").mkString(", "),
        "UPDATE warm SET v = v + 1 WHERE id < 10",
        "DELETE FROM warm WHERE id >= 40",
        "SELECT count(*) AS n, sum(v) AS s FROM warm").foreach(exec)
  }

  private sealed trait Reply
  private case class Rows(rows: Array[Row]) extends Reply
  private case class Count(n: Long) extends Reply

  private def exec(sql: String): Reply = eng.execute(sql) match {
    case eng.Rows(df) => Rows(df.collect())
    case eng.Inserted(n) => Count(n)
    case eng.Updated(n) => Count(n)
    case eng.Deleted(n) => Count(n)
    case eng.Created => Count(0)
    case other => throw new IllegalStateException(s"unexpected reply $other")
  }

  // traced-run tallies
  private var rowsScanned, rowsReturned = 0L
  private var rowsCollected, rowsChanged = 0L
  private val managed = mutable.Map[String, Long]().withDefaultValue(0L)

  private def execTraced(i: Int, st: Stmt): Reply =
    tracer.span("stmt", s"${st.kind}-$i") {
      val ast = tracer.span("sqlfront.parse")(Parser.parse(st.sql))
      val table = TableOf.findFirstMatchIn(st.sql).fold("")(_.group(1).toLowerCase)
      st.kind match {
        case "select" =>
          val df = tracer.span("exec.compile")(eng.runStatement(ast)) match {
            case eng.Rows(d) => d
            case other => throw new IllegalStateException(s"not rows: $other")
          }
          tracer.span("spark.plan")(df.queryExecution.executedPlan)
          val rows = tracer.span("spark.exec")(df.collect())
          rowsScanned += Plans.rowsScanned(df.queryExecution.executedPlan)
          rowsReturned += rows.length
          Rows(rows)
        case "insert" =>
          val n = tracer.span("catalog.insert")(eng.runStatement(ast)) match {
            case eng.Inserted(n) => n
            case other => throw new IllegalStateException(s"not inserted: $other")
          }
          managed(table) += n
          Count(n)
        case _ =>
          val n = tracer.span("catalog.dml")(eng.runStatement(ast)) match {
            case eng.Updated(n) => n
            case eng.Deleted(n) => managed(table) -= n; n
            case other => throw new IllegalStateException(s"not dml: $other")
          }
          // replaceRows collects every row the table keeps
          rowsCollected += managed(table)
          rowsChanged += n
          Count(n)
      }
    }

  private val lat = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private val cpu = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  /** The measured part ends with the stream's 72nd SELECT: eight whole
    * cycles of the nine templates (and 21 UPDATE/DELETEs, 14 INSERTs), so
    * every run measures the same statements whatever the host's speed. */
  private val Selects = 8 * 9
  private val measured =
    stmts.scanLeft(0)((n, s) => n + (if (s.kind == "select") 1 else 0)).indexOf(Selects)

  def run(): Unit = {
    require(measured > 0, s"the stream has fewer than $Selects SELECTs")
    val out = Files.newBufferedWriter(ctx.out.resolve("sql_results.jsonl"))
    val t0 = System.nanoTime()
    for (i <- 0 until measured) {
      val st = stmts(i)
      val (reply, ms, cpuMs) = timed(op(st.kind) {
        if (tracer.enabled) execTraced(i, st) else exec(st.sql)
      })
      lat.getOrElseUpdate(st.kind, mutable.ArrayBuffer()) += ms
      cpu.getOrElseUpdate(st.kind, mutable.ArrayBuffer()) += cpuMs
      val body = reply match {
        case Some(Rows(rs)) => "rows" -> rs.map(_.toSeq.map(cell))
        case Some(Count(n)) => "count" -> n
        case None => "error" -> true
      }
      out.write(Json.write(Map("i" -> i, "kind" -> st.kind, "ms" -> ms, "cpu_ms" -> cpuMs, body)))
      out.newLine()
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    out.close()
    e2e("op_cpu_ms", cpu("select").sum / cpu("select").size)
    e2e("op2_cpu_ms", cpu("dml").sum / cpu("dml").size)
    info("sql_select_p50_ms", Stats.median(lat("select").toSeq))
    info("sql_select_p90_ms", Stats.pct(lat("select").toSeq, 0.9))
    info("sql_dml_p50_ms", Stats.median(lat("dml").toSeq))
    info("sql_insert_p50_ms", Stats.median(lat("insert").toSeq))
    info("sql_stmts_per_s", measured / loopS)
    lat.foreach { case (k, v) => info(s"samples.$k", v.size.toDouble) }
  }

  private def cell(v: Any): Any = v match {
    case d: java.math.BigDecimal => d.doubleValue
    case x => x
  }

  def layers(): Unit = {
    def med(n: String) = { val s = tracer.named(n); if (s.isEmpty) 0.0 else Stats.median(s.map(_.ms)) }
    val selects = tracer.named("stmt").filter(_.group.startsWith("select"))
    layer("sqlfront.parse_ms", med("sqlfront.parse"))
    layer("exec.compile_ms", med("exec.compile"))
    layer("spark.plan_ms", med("spark.plan"))
    layer("spark.exec_ms", med("spark.exec"))
    layer("spark.jobs_per_stmt", tracer.rollup(selects).jobs.toDouble / selects.size.max(1))
    layer("spark.rows_scanned_per_row_returned", rowsScanned.toDouble / rowsReturned.max(1))
    layer("catalog.insert_ms", med("catalog.insert"))
    layer("catalog.dml_ms", med("catalog.dml"))
    layer("catalog.rows_collected_per_row_changed", rowsCollected.toDouble / rowsChanged.max(1))
    layer("catalog.managed_rows", managed.values.sum.toDouble)
  }
}
