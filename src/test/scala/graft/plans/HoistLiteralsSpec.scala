package graft.plans

import graft.{Engine, SparkSpec, Tables}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.StaticSQLConf

/** [[HoistLiterals]]: statements that differ only in a key or a bound
  * compile nothing after the first, return what the query means, and
  * leave scan filters and EXPLAIN output as they were.
  *
  * Expected results are computed on the driver from the collected base
  * tables, independently of Spark's execution of the statement. */
class HoistLiteralsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val eng = {
    val e = new Engine(spark)
    e.registerTestTables(sfDir)
    e
  }

  private def rows(table: String): Seq[Row] =
    Tables.load(spark, sfDir, table).collect().toSeq

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Every key's statement after one warm-up compiles no class, and
    * each returns `expected(key)` (as a multiset of rows). */
  private def sameShape[K](warm: K, keys: Seq[K])(sql: K => String)(
      expected: K => Seq[Row]): Unit = {
    assert(keys.distinct.size == 20 && !keys.contains(warm))
    eng.sql(sql(warm)).collect()
    val before = compiles
    val got = keys.map(k => k -> eng.sql(sql(k)).collect().toSeq)
    val compiled = compiles - before
    assert(compiled == 0,
      s"$compiled classes compiled for 20 statements of one shape")
    got.foreach { case (k, rs) =>
      assert(rs.map(_.toString).sorted == expected(k).map(_.toString).sorted,
        s"\nkey $k\nsql ${sql(k)}")
    }
  }

  /** Values of the hoisted and the plain literals in `e`. */
  private def hoisted(e: Expression): Seq[Any] =
    e.collect { case HoistedLiteral(v, _) => v }
  private def literals(e: Expression): Seq[Any] =
    e.collect { case Literal(v, _) if v != null => v }

  private def filters(plan: SparkPlan): Seq[FilterExec] =
    collect(plan) { case f: FilterExec => f }

  test("the session's extensions size the generated-class cache") {
    assert(spark.sparkContext.getConf
      .get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key) == "400")
  }

  test("point lookups: 20 keys, no compile, the keyed customer row") {
    val cust = rows("customer")
    val keys = cust.map(_.getAs[Long]("c_custkey")).distinct.sorted
      .filter(_ % 7 == 3).take(21)
    sameShape(keys.head, keys.tail)(k =>
      s"SELECT c_name, c_acctbal, c_mktsegment FROM customer " +
        s"WHERE c_custkey = $k") { k =>
      cust.filter(_.getAs[Long]("c_custkey") == k).map(r =>
        Row(r.getAs[String]("c_name"), r.getAs[Double]("c_acctbal"),
            r.getAs[String]("c_mktsegment")))
    }
  }

  test("lineitem range aggregates: 20 ranges, no compile, exact aggregates") {
    val li = rows("lineitem")
    val starts = li.map(_.getAs[Long]("l_orderkey")).distinct.sorted
      .filter(_ % 5 == 1).take(21)
    sameShape(starts.head, starts.tail)(a =>
      s"SELECT count(*) AS n, sum(l_quantity) AS q, " +
        s"min(l_extendedprice) AS lo, max(l_discount) AS d FROM lineitem " +
        s"WHERE l_orderkey >= $a AND l_orderkey < ${a + 500}") { a =>
      val in = li.filter { r =>
        val k = r.getAs[Long]("l_orderkey"); k >= a && k < a + 500 }
      // quantities are whole numbers, so the double sum is exact in any
      // order
      Seq(Row(in.size.toLong, in.map(_.getAs[Double]("l_quantity")).sum,
              in.map(_.getAs[Double]("l_extendedprice")).min,
              in.map(_.getAs[Double]("l_discount")).max))
    }
  }

  test("join + WHERE + GROUP BY: 20 bounds, no compile, per-nation groups") {
    val cust = rows("customer")
    val nation = rows("nation").map(r =>
      r.getAs[Int]("n_nationkey") -> r.getAs[String]("n_name")).toMap
    // bounds below the top balance, so every statement has groups
    val bounds = cust.map(_.getAs[Double]("c_acctbal").floor.toLong)
      .distinct.sorted.dropRight(10).grouped(5).map(_.head).take(21).toSeq
    sameShape(bounds.head, bounds.tail)(x =>
      s"SELECT n_name, count(*) AS n, max(c_acctbal) AS top " +
        s"FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        s"WHERE c_acctbal > $x GROUP BY n_name") { x =>
      cust.filter(_.getAs[Double]("c_acctbal") > x)
        .groupBy(r => nation(r.getAs[Int]("c_nationkey"))).toSeq
        .map { case (n, rs) =>
          Row(n, rs.size.toLong, rs.map(_.getAs[Double]("c_acctbal")).max) }
    }
  }

  test("HAVING count(*) > k: 20 (bound, k) pairs, no compile, kept groups") {
    val ord = rows("orders")
    val okeys = ord.map(_.getAs[Long]("o_orderkey")).distinct.sorted
    val pairs = okeys.drop(okeys.size / 2).grouped(7).map(_.head).take(21)
      .zipWithIndex.map { case (a, i) => (a, 2 + i % 4) }.toSeq
    sameShape(pairs.head, pairs.tail) { case (a, k) =>
      s"SELECT o_custkey, count(*) AS n, max(o_totalprice) AS mx " +
        s"FROM orders WHERE o_orderkey < $a " +
        s"GROUP BY o_custkey HAVING count(*) > $k"
    } { case (a, k) =>
      ord.filter(_.getAs[Long]("o_orderkey") < a)
        .groupBy(_.getAs[Long]("o_custkey")).toSeq
        .filter(_._2.size > k)
        .map { case (c, rs) =>
          Row(c, rs.size.toLong, rs.map(_.getAs[Double]("o_totalprice")).max) }
    }
  }

  test("parquet scan filters keep their Literals; the Filter above hoists") {
    val df = eng.sql("SELECT count(*) AS n FROM lineitem " +
      "WHERE l_orderkey >= 100 AND l_orderkey < 600")
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scan = collect(plan) { case s: FileSourceScanExec => s }.head
    assert(scan.dataFilters.flatMap(literals).toSet == Set(100L, 600L))
    assert(scan.dataFilters.flatMap(hoisted).isEmpty)
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_orderkey,100)"), pushed)
    assert(pushed.contains("LessThan(l_orderkey,600)"), pushed)
    val cond = filters(plan).map(_.condition)
    assert(cond.flatMap(hoisted).toSet == Set(100L, 600L), cond)
    assert(cond.flatMap(literals).isEmpty, cond)
  }

  test("a cached frame filtered on a literal still prunes its batches") {
    val key = "spark.sql.inMemoryColumnarStorage.batchSize"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "100")
    // one partition, ten batches of ids 0-99, 100-199, ...
    val cached =
      try {
        val c = spark.range(0, 1000, 1, 1).toDF("id").cache()
        c.count()
        c
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try {
      val df = cached.filter(col("id") < 50)
      assert(df.collect().length == 50)
      val plan = df.queryExecution.executedPlan
      val scan = collect(plan) { case s: InMemoryTableScanExec => s }.head
      assert(scan.predicates.flatMap(literals).contains(50L))
      assert(scan.predicates.flatMap(hoisted).isEmpty)
      // batch statistics pruned nine of the ten batches
      assert(scan.metrics("numOutputRows").value == 100)
      assert(filters(plan).flatMap(f => hoisted(f.condition)) == Seq(50L))
    } finally cached.unpersist()
  }

  test("EXPLAIN renders a hoisted constant exactly as the Literal") {
    import spark.implicits._
    // a parquet table: over a managed (in-memory) table the optimizer
    // evaluates the WHERE itself and no Filter reaches the plan
    val tmp = java.nio.file.Files.createTempDirectory("hoist_explain")
    try {
      val dir = tmp.resolve("ex").toString
      Seq(("a", 1), ("a", 2), ("b", 3)).toDF("g", "v").write.parquet(dir)
      val e = new Engine(spark)
      e.register("ex", spark.read.parquet(dir))
      val q = "SELECT g, count(*) FROM ex WHERE v > 1 GROUP BY g"
      val e.Explained(text) = e.execute(s"EXPLAIN $q"): @unchecked
      val pinned = """\(v#\d+ > 1\)""".r
      assert(pinned.findFirstIn(text).nonEmpty, text)
      assert(!text.toLowerCase.contains("hoisted"), text)
      // the executed (final) plan carries the rewrite and reads the same
      val df = e.sql(q)
      assertSameRows(df, Seq(Row("a", 1L), Row("b", 1L)))
      val plan = df.queryExecution.executedPlan
      assert(filters(plan).flatMap(f => hoisted(f.condition)) == Seq(1))
      val formatted = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      assert(pinned.findFirstIn(formatted).nonEmpty, formatted)
      assert(!formatted.toLowerCase.contains("hoisted"), formatted)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
