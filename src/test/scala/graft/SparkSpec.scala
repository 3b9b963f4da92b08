package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM per `sbt test` fork;
  * getOrCreate dedups across suites so startup cost is paid once). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** Smallest driver-generated scale factor — correctness fixtures. */
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir

  /** Order-insensitive row-set comparison (the reference guarantees no
    * output order, SURVEY.md §1.2). */
  def assertSameRows(actual: DataFrame, expected: Seq[Row]): Unit = {
    val a = actual.collect().map(_.toString).sorted.toSeq
    val e = expected.map(_.toString).sorted
    assert(a == e, s"\nactual:   $a\nexpected: $e")
  }

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started. Jobs are tagged with a job group; a sentinel job in a
    * second group, waited for on the same listener, proves every earlier
    * job-start event has been delivered before the count is read. */
  def countingJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
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
      sc.setJobGroup(group, "SparkSpec job count")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "SparkSpec sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(sentinel), "sentinel job start never delivered")
      (out, seen.toArray.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }
}
