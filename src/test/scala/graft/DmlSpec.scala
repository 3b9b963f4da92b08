package graft

/** Beyond-reference DML through the llamadb dialect (SURVEY §2.4: UPDATE /
  * DELETE / DISTINCT are lexer tokens or parse-only in the reference; full
  * capability parity means executing them). */
class DmlSpec extends SparkSpec {

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started. Jobs are tagged with a job group; a sentinel job in a
    * second group, waited for on the same listener, proves every earlier
    * job-start event has been delivered before the count is read. */
  private def countingJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"dml-${java.util.UUID.randomUUID()}"
    val sentinel = group + "-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "DmlSpec job count")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "DmlSpec sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(sentinel), "sentinel job start never delivered")
      (out, seen.toArray.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  private def idQty(eng: Engine, table: String): Seq[(Long, Long)] =
    eng.sql(s"SELECT id, qty FROM $table ORDER BY id").collect()
      .map(x => (x.getAs[Number](0).longValue, x.getAs[Number](1).longValue))
      .toSeq

  private def freshEngine(): Engine = {
    val eng = new Engine(spark)
    eng.executeScript(
      """CREATE TABLE t (id int, qty int, name string null);
        |INSERT INTO t VALUES (1, 10, 'a'), (2, 20, 'b'),
        |                     (3, 30, NULL), (4, 40, 'd');""".stripMargin)
    eng
  }

  test("UPDATE with WHERE rewrites matching rows, expressions see old values") {
    val eng = freshEngine()
    val r = eng.execute("UPDATE t SET qty = qty + 1 WHERE id > 2")
    assert(r == eng.Updated(2))
    val got = eng.sql("SELECT id, qty FROM t ORDER BY id").collect()
      .map(x => (x.getInt(0), x.getInt(1))).toSeq
    assert(got == Seq((1, 10), (2, 20), (3, 31), (4, 41)))
  }

  test("UPDATE without WHERE touches every row; multi-column SET") {
    val eng = freshEngine()
    val r = eng.execute("UPDATE t SET qty = 0, name = 'x'")
    assert(r == eng.Updated(4))
    assert(eng.sql("SELECT count(*) AS n FROM t WHERE qty = 0").head.getLong(0) == 4)
  }

  test("UPDATE cannot write NULL into a NOT NULL column") {
    val eng = freshEngine()
    intercept[RuntimeException] {
      eng.execute("UPDATE t SET qty = NULL WHERE id = 1")
    }
    // table unchanged after the failed statement
    assert(eng.sql("SELECT count(*) AS n FROM t WHERE qty = 10").head.getLong(0) == 1)
  }

  test("DELETE with WHERE removes only matching rows; NULL predicate keeps row") {
    val eng = freshEngine()
    // name = 'a' is NULL for the NULL-name row → that row must survive
    val r = eng.execute("DELETE FROM t WHERE name = 'a'")
    assert(r == eng.Deleted(1))
    val ids = eng.sql("SELECT id FROM t ORDER BY id").collect().map(_.getInt(0)).toSeq
    assert(ids == Seq(2, 3, 4))
  }

  test("DELETE without WHERE empties the table") {
    val eng = freshEngine()
    assert(eng.execute("DELETE FROM t") == eng.Deleted(4))
    assert(eng.sql("SELECT id FROM t").count() == 0)
    // global aggregate over the now-empty table: one row, count 0
    // (standard SQL; documented deviation from reference, SURVEY §2.3)
    assert(eng.sql("SELECT count(*) AS n FROM t").head.getLong(0) == 0)
  }

  test("SELECT DISTINCT dedups the projected rows") {
    val eng = freshEngine()
    eng.execute("INSERT INTO t VALUES (5, 10, 'a'), (6, 10, 'a')")
    // rows with qty=10: ids 1, 5, 6 — all (10, 'a')
    assert(eng.sql("SELECT DISTINCT qty FROM t WHERE qty = 10").count() == 1)
    assert(eng.sql("SELECT DISTINCT qty, name FROM t WHERE qty = 10").count() == 1)
    assert(eng.sql("SELECT DISTINCT id FROM t WHERE qty = 10").count() == 3)
  }

  test("UPDATE and DELETE on a buffered managed table start no Spark job") {
    val eng = freshEngine()
    val (u, uJobs) = countingJobs(
      eng.execute("UPDATE t SET qty = qty + 1 WHERE id > 2"))
    assert(u == eng.Updated(2) && uJobs == 0)
    val (all, allJobs) = countingJobs(eng.execute("UPDATE t SET qty = 0"))
    assert(all == eng.Updated(4) && allJobs == 0)
    val (d, dJobs) = countingJobs(eng.execute("DELETE FROM t WHERE id = 1"))
    assert(d == eng.Deleted(1) && dJobs == 0)
    assert(idQty(eng, "t") == Seq((2L, 0L), (3L, 0L), (4L, 0L)))
  }

  test("UPDATE neither counts nor changes a row whose WHERE is NULL") {
    val eng = freshEngine()
    // name <> 'a' is NULL for id 3 (NULL name)
    assert(eng.execute("UPDATE t SET qty = 99 WHERE name <> 'a'") ==
      eng.Updated(2))
    assert(idQty(eng, "t") == Seq((1L, 10L), (2L, 99L), (3L, 30L), (4L, 99L)))
  }

  test("UPDATE/DELETE on a table seeded by INSERT..SELECT: one collect job") {
    val eng = freshEngine()
    // a non-local source, so the INSERT..SELECT branch stays a Spark plan
    eng.register("src", spark.range(1, 7).toDF("n"))
    eng.executeScript(
      """CREATE TABLE acct (id i64, qty i64, seg string null);
        |INSERT INTO acct SELECT n, n * 100, NULL FROM src;""".stripMargin)
    val (u, uJobs) = countingJobs(
      eng.execute("UPDATE acct SET qty = qty * 2 + 5 WHERE id > 3"))
    assert(u == eng.Updated(3) && uJobs == 1)
    assert(idQty(eng, "acct") == Seq((1L, 100L), (2L, 200L), (3L, 300L),
      (4L, 805L), (5L, 1005L), (6L, 1205L)))
    eng.execute("INSERT INTO acct SELECT n + 10, n, 'x' FROM src WHERE n < 3")
    val (d, dJobs) = countingJobs(
      eng.execute("DELETE FROM acct WHERE id = 3 OR qty > 900"))
    assert(d == eng.Deleted(3) && dJobs == 1)
    assert(idQty(eng, "acct") == Seq((1L, 100L), (2L, 200L), (4L, 805L),
      (11L, 1L), (12L, 2L)))
    // the rewrite installed every row in the buffer: no job from here on
    val (u2, u2Jobs) = countingJobs(
      eng.execute("UPDATE acct SET seg = 'low' WHERE qty < 300"))
    assert(u2 == eng.Updated(4) && u2Jobs == 0)
  }

  test("the UPDATE count equals the number of rows the pass rewrote") {
    val eng = freshEngine()
    val before = idQty(eng, "t").toMap
    // the SET changes the very column the predicate reads: the count and
    // the rewrite must both see the old value
    val r = eng.execute("UPDATE t SET qty = qty * 2 WHERE qty >= 20")
    val after = idQty(eng, "t").toMap
    val rewritten = before.keys.count(k => before(k) != after(k))
    assert(r == eng.Updated(rewritten.toLong) && rewritten == 3)
    assert(after == Map(1L -> 10L, 2L -> 40L, 3L -> 60L, 4L -> 80L))
  }
}
