package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import graft.catalog.Catalog
import graft.exec.Compiler
import graft.sqlfront.{Ast, Parser}

/** The llamadb-dialect engine facade — a user of the reference can point
  * this at their SQL and run it on Spark (SURVEY.md §3.1's lifecycle:
  * lex → parse → compile → execute, with Spark's analyzer/optimizer/
  * executor replacing the reference's interpreter).
  *
  * {{{
  * val eng = new Engine(spark)
  * eng.execute("CREATE TABLE t (x int, name string null)")
  * eng.execute("INSERT INTO t VALUES (1, 'a'), (2, NULL)")
  * val Engine.Rows(df) = eng.execute("SELECT x, name FROM t WHERE x > 1")
  * }}}
  *
  * External (parquet-backed, cluster-scale) tables join the catalog via
  * `register` — SELECTs over them are pure Catalyst plans with pushdown
  * and pruning intact.
  */
class Engine(val spark: SparkSession) {
  val catalog = new Catalog(spark)
  private val compiler = new Compiler(spark, catalog)

  /** Register external data (e.g. parquet) as a queryable table. */
  def register(name: String, df: DataFrame): Unit =
    catalog.register(name, df)

  /** Convenience: register every driver test table from a sf dir. */
  def registerTestTables(dir: String): Unit =
    Tables.names.foreach(n => register(n, Tables.load(spark, dir, n)))

  sealed trait Result
  case class Rows(df: DataFrame)      extends Result
  case class Inserted(count: Long)    extends Result
  case object Created                 extends Result
  case class Explained(text: String)  extends Result
  case class Updated(count: Long)     extends Result
  case class Deleted(count: Long)     extends Result

  /** Parse + execute one llamadb-dialect statement. */
  def execute(sql: String): Result = run(Parser.parse(sql))

  /** Parse + execute a whole `;`-separated script (the reference REPL's
    * `testdata`-style bulk load path, `cli/src/main.rs:122-132`). */
  def executeScript(script: String): Seq[Result] =
    Parser.parseScript(script).map(run)

  /** Execute one already-parsed statement (REPL path — statements arrive
    * pre-split at each `;`). */
  def runStatement(stmt: Ast.Statement): Result = run(stmt)

  private def run(stmt: Ast.Statement): Result = stmt match {
    case Ast.SelectStmt(s) => Rows(compiler.compileSelect(s))
    case Ast.CreateTable(name, cols) =>
      catalog.createTable(name,
        cols.map(c => (c.name, c.typeName, c.nullable)))
      Created
    case Ast.InsertValues(table, columns, rows) =>
      Inserted(catalog.insertRows(table, columns,
        compiler.evalValues(rows)))
    case Ast.InsertSelect(table, _, sel) =>
      // reference parses this then panics (`tempdb/mod.rs:279`);
      // implemented here (SURVEY §2.4)
      Inserted(catalog.insertSelect(table, compiler.compileSelect(sel)))
    case Ast.Update(table, sets, where) =>
      // Beyond-reference DML (SURVEY §2.4): one pass over the table in
      // which matching rows get the SET expressions and the rest pass
      // through; the trailing flag gives the matched count.
      val t = table.toLowerCase
      val df = catalog.table(t).alias(t)
      val matched = matchedFlag(t, df, where)
      val setMap = sets.map { case (c, e) =>
        c.toLowerCase -> compiler.compileOnTable(t, df, e)
      }.toMap
      val schema = catalog.schemaOf(t)
      setMap.keys.foreach { c =>
        if (!schema.fieldNames.contains(c))
          throw new IllegalArgumentException(
            s"column '$c' does not exist in table '$t'")
      }
      val rewritten = schema.fields.map { f =>
        setMap.get(f.name) match {
          case Some(v) =>
            when(matched, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }
      Updated(catalog.rewriteRows(t,
        df.select((rewritten :+ matched.as("__matched")).toIndexedSeq: _*),
        dropMatched = false))
    case Ast.Delete(table, where) =>
      val t = table.toLowerCase
      val df = catalog.table(t).alias(t)
      val kept = catalog.schemaOf(t).fieldNames.map(col)
      val matched = matchedFlag(t, df, where).as("__matched")
      Deleted(catalog.rewriteRows(t,
        df.select((kept :+ matched).toIndexedSeq: _*),
        dropMatched = true))
    case Ast.Explain(s) =>
      val logical = graft.explain.Explain.render(s,
        n => scala.util.Try(catalog.schemaOf(n).fieldNames.toSeq).toOption)
      val physical = compiler.compileSelect(s)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Explained(logical + "\n-- spark physical plan --\n" + physical)
  }

  /** The DML matched flag: the WHERE predicate with NULL read as false
    * (a row whose predicate is NULL is neither counted nor changed);
    * no WHERE matches every row. */
  private def matchedFlag(t: String, df: DataFrame,
                          where: Option[Ast.Expr]): Column =
    coalesce(where.map(compiler.compilePredicateOnTable(t, df, _))
      .getOrElse(lit(true)), lit(false))

  /** SELECT straight to a DataFrame (errors on non-SELECT). */
  def sql(text: String): DataFrame = execute(text) match {
    case Rows(df) => df
    case other => throw new IllegalArgumentException(
      s"not a SELECT: $other")
  }
}
