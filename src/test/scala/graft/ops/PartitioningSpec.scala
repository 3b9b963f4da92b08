package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PartitioningSpec extends SparkSpec {

  test("forBytes: session floor at small inputs, byte-derived above it") {
    val floor = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // tiny input → the session conf wins (no-op at gate scale)
    assert(Partitioning.forBytes(spark, 1L << 20, expansion = 1.0) == floor)
    // big input → ceil(bytes * expansion / target)
    val target = Partitioning.DefaultTargetBytes
    val bytes = 100L * target
    assert(Partitioning.forBytes(spark, bytes, expansion = 1.0) == 100)
    assert(Partitioning.forBytes(spark, bytes, expansion = 2.5) == 250)
    // sanity cap
    assert(Partitioning.forBytes(spark, Long.MaxValue / 4,
      expansion = 2.0) == (1 << 18))
  }

  test("forBytes: target is conf-overridable") {
    val key = Partitioning.TargetBytesKey
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, (1L << 20).toString)
      assert(Partitioning.forBytes(spark, 64L << 20, expansion = 1.0) == 64)
      // Spark size strings parse like every other byte knob ("1MB" must
      // not throw NumberFormatException at plan time)
      spark.conf.set(key, "1MB")
      assert(Partitioning.forBytes(spark, 64L << 20, expansion = 1.0) == 64)
    } finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  // (the non-numeric shuffle.partitions fallback — platforms that set
  // "auto" — cannot be spec'd through the public API: Spark's typed
  // conf validator rejects the value at set() time in local mode; the
  // Try-toInt fallback in forBytes covers platforms that inject it
  // below the validator.)

  test("tableBytes reads the real parquet footprint, memoized") {
    val b = Partitioning.tableBytes(spark, sfDir, "documents")
    assert(b > 0, "documents.parquet must have a nonzero footprint")
    assert(Partitioning.tableBytes(spark, sfDir, "documents") == b)
    assert(Partitioning.tableBytes(spark, sfDir, "no_such_table") == 0L)
  }

  test("tableBytes re-probes a table that appears after a miss") {
    // replicas are generated mid-session: a pre-generation probe (0)
    // must NOT freeze the memo, or sizing stays at the session floor
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pbytes").toString
    assert(Partitioning.tableBytes(spark, dir, "late") == 0L)
    (1 to 1000).toDF("x").write.parquet(s"$dir/late.parquet")
    val after = Partitioning.tableBytes(spark, dir, "late")
    assert(after > 0L, "post-generation probe must see the real bytes")
    assert(Partitioning.tableBytes(spark, dir, "late") == after)
  }

  private val partsKey = "spark.sql.shuffle.partitions"
  private def scope[T](n: Int)(body: => T): T =
    SessionConf.scoped(spark, partsKey -> n.toString)(body)

  test("interleaved scopes on two threads never clobber the restored conf") {
    val key = partsKey
    val before = spark.conf.get(key)
    val t = new Thread(() => scope(11) { Thread.sleep(50) })
    t.start()
    scope(13) { Thread.sleep(50) }
    t.join()
    assert(spark.conf.get(key) == before,
      "scopes must serialize; an interleaved restore would leak a count")
    // reentrant nesting restores through both layers
    scope(5) {
      scope(6) {
        assert(spark.conf.get(key) == "6")
      }
      assert(spark.conf.get(key) == "5")
    }
    assert(spark.conf.get(key) == before)

    // A bounded stream takes the same scope. Thread A holds a build's
    // scope of 7 while thread B starts a bounded gate; A is released
    // only once B's query has started (a stream that sets its conf
    // beside A's scope) or B waits on the scope's lock. A stream that
    // saved A's 7 would "restore" it after A restored the original.
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val a = new Thread(() => scope(7) { held.countDown(); release.await() })
    a.start()
    assert(held.await(60, TimeUnit.SECONDS))
    val started = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      // started events reach listeners on the stream's own thread
      // before its first batch: hold the stream there until A is done
      override def onQueryStarted(e: QueryStartedEvent): Unit = {
        started.countDown(); a.join()
      }
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val b = new Thread(() =>
      try graft.streaming.Streams.hourlyAggAvailableNow(spark, sfDir)
      catch { case t: Throwable => errors.add(t) })
    try {
      b.start()
      def waitsOnScope = b.getState == Thread.State.BLOCKED &&
        b.getStackTrace.exists(_.getClassName.startsWith(
          "graft.ops.SessionConf"))
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(120)
      while (started.getCount > 0 && !waitsOnScope && b.isAlive &&
             System.nanoTime() < deadline) Thread.sleep(5)
      release.countDown()
      a.join()
      b.join()
    } finally spark.streams.removeListener(listener)
    assert(errors.isEmpty, s"bounded gate threw: ${errors.peek()}")
    assert(spark.conf.get(key) == before,
      "a bounded stream beside a build's scope must not leak its count")
  }

  test("SessionConf.scoped scopes the conf and restores it, even on throw") {
    val key = partsKey
    val before = spark.conf.get(key)
    val inside = scope(7) {
      spark.conf.get(key)
    }
    assert(inside == "7")
    assert(spark.conf.get(key) == before)
    intercept[RuntimeException] {
      scope(9) {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(key) == before, "conf must restore on failure")
    // several keys at once; a key unset before is unset again after
    val unsetKey = "spark.graft.test.scopedUnset"
    assert(spark.conf.getOption(unsetKey).isEmpty)
    SessionConf.scoped(spark, key -> "3", unsetKey -> "x") {
      assert(spark.conf.get(key) == "3")
      assert(spark.conf.get(unsetKey) == "x")
    }
    assert(spark.conf.get(key) == before)
    assert(spark.conf.getOption(unsetKey).isEmpty)
  }

  test("two concurrent materialized builds each plan at their OWN count") {
    // the round-11 claim ("per-session lock makes scoped builds safe
    // under concurrency") exercised: two threads race into
    // materialized() with different counts; each cached plan must have
    // been planned at ITS OWN count (cached plans keep their planned
    // partitioning — canChangeCachedPlanOutputPartitioning defaults
    // false), and the session conf must restore to the pre-race value.
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def runner(n: Int, mod: Int): Thread = new Thread(() =>
      try {
        barrier.await()
        val df = Partitioning.materialized(spark, n) {
          spark.range(10000).toDF("x").groupBy(col("x") % mod).count()
        }
        results.put(n, df.rdd.getNumPartitions)
        df.unpersist(blocking = false)
      } catch { case t: Throwable => errors.add(t) })
    val ts = Seq(runner(17, 97), runner(23, 89))
    ts.foreach(_.start())
    ts.foreach(_.join())
    assert(errors.isEmpty, s"concurrent build threw: ${errors.peek()}")
    assert(results.get(17) == 17,
      s"build A must plan at its own 17, got ${results.get(17)}")
    assert(results.get(23) == 23,
      s"build B must plan at its own 23, got ${results.get(23)}")
    assert(spark.conf.get(key) == before,
      "the race must not leak either scoped count into the session")
  }

  test("an action inside the scope plans its exchanges at the scoped count") {
    import spark.implicits._
    val n = scope(6) {
      // AQE would coalesce the post-shuffle read, so assert on the rdd
      // partition count of a plain non-adaptive groupBy execution
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try (1 to 100).toDF("x").groupBy(col("x") % 3).count()
        .rdd.getNumPartitions
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    assert(n == 6, s"scoped shuffle should plan 6 partitions, got $n")
  }
}
