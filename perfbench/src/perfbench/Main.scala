package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run: set a workload up twice (session start plus warm-up;
  * the first includes the JVM start; the median of the two is reported),
  * then run its fixed amount of work and write `result.json` (and, traced,
  * `spans.jsonl`) into `--out`. Output checks that need DuckDB run
  * afterwards in `perfbench/run.py`.
  *
  *   Main --workload <name> --data <dir> --out <dir> --trace <0|1>
  */
object Main {
  val SetupRounds = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val out = Paths.get(opts("out"))
    Files.createDirectories(out)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val setupS, sessionS = mutable.ArrayBuffer[Double]()
    var ctx: Ctx = null
    var wl: Workload = null
    for (round <- 1 to SetupRounds) {
      val t0 = System.nanoTime()
      val spark = session(cores, out)
      sessionS += (System.nanoTime() - t0) / 1e9
      ctx = new Ctx(spark, Paths.get(opts("data")), out)
      wl = Workload(name, ctx)
      wl.setup()
      setupS += (System.nanoTime() - t0) / 1e9
      if (round < SetupRounds) {
        ColdReset(spark)
        spark.stop()
      }
    }
    // outside every timed region: the inputs match the pinned table schemas
    ctx.op("schema check")(graft.Tables.assertSchemas(ctx.spark, ctx.dataDir))
    ctx.tracer = new Tracer(ctx.spark, enabled = opts("trace") == "1")
    val gc0 = Gc.ms
    ctx.timedCpuNs = 0L // the warm-up's timed calls are set-up
    val r0 = System.nanoTime()
    wl.run()
    ctx.info("run_s", (System.nanoTime() - r0) / 1e9)
    ctx.layer("spark.gc_ms", (Gc.ms - gc0).toDouble)
    ctx.tracer.drain()
    if (ctx.tracer.enabled) {
      wl.layers()
      ctx.layer("memo.persisted_rdds_after_reset", ctx.persistedAfterReset.toDouble)
      ctx.layer("storage_peak_mb", ctx.storagePeakBytes / 1048576.0)
      ctx.tracer.write(out.resolve("spans.jsonl"))
    }
    ctx.e2e("run_cpu_s", ctx.timedCpuNs / 1e9)
    ctx.e2e("setup_s", Stats.median(setupS.toSeq))
    ctx.info("jvm_uptime_s", java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    Files.write(out.resolve("result.json"), Json.write(Map(
      "setup_s_samples" -> setupS.toSeq,
      "e2e" -> ctx.e2eMetrics.toMap,
      "layers" -> ctx.layerMetrics.toMap,
      "setup_session_s_samples" -> sessionS.toSeq,
      "info" -> ctx.infoMetrics.toMap,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "errors" -> ctx.errors.take(20).toSeq)).getBytes("UTF-8"))
    // Everything is written; skip the orderly Spark shutdown, which would
    // add seconds to every run (the run directory is removed by the next
    // run of the same workload and seed).
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  private def session(cores: Int, out: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** What a run knows and what it reports. */
final class Ctx(val spark: SparkSession, val data: Path, val out: Path) {
  val dataDir: String = data.resolve("tables").toString
  /** Set-up runs untraced; the measured part gets the run's tracer. */
  var tracer = new Tracer(spark, enabled = false)
  val e2eMetrics = mutable.LinkedHashMap[String, Double]()
  val layerMetrics = mutable.LinkedHashMap[String, Double]()
  /** Extra figures printed by run.py but not reported as metrics. */
  val infoMetrics = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  var persistedAfterReset = 0
  var storagePeakBytes = 0L

  def e2e(name: String, v: Double): Unit = e2eMetrics(name) = v
  def layer(name: String, v: Double): Unit = layerMetrics(name) = v
  def info(name: String, v: Double): Unit = infoMetrics(name) = v

  /** Count one operation; a thrown exception is a failed operation. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failed += 1
      errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      None
    }
  }

  /** A failed output check, counted as a failed operation. */
  def checkFailed(msg: String): Unit = { failed += 1; errors += s"check: $msg" }

  /** JVM CPU of every timed operation of the run, all threads counted. */
  var timedCpuNs = 0L

  /** Time one operation: its result, wall ms and JVM CPU ms (every thread:
    * driver, task threads, GC, JIT; a busy host stretches the wall time of
    * a run by up to a half, its CPU time by a fifth or less). */
  def timed[T](body: => T): (T, Double, Double) = {
    val w0 = System.nanoTime()
    val c0 = Cpu.ns
    val r = body
    val c = Cpu.ns - c0
    timedCpuNs += c
    (r, (System.nanoTime() - w0) / 1e6, c / 1e6)
  }

  def coldReset(): Unit =
    persistedAfterReset = math.max(persistedAfterReset, ColdReset(spark))

  def sampleStorage(): Unit = if (tracer.enabled)
    storagePeakBytes = math.max(storagePeakBytes,
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
}

/** Put the session back in the no-cache state of a fresh session: every
  * operator family's memos, Spark's cache, then any RDD still persisted.
  * Returns how many RDDs the program's own hooks left persisted (counted
  * before the final sweep drops them). */
object ColdReset {
  def apply(spark: SparkSession): Int = {
    import graft.ext._
    Dedup.clearMemos(); Similarity.clearMemos(); Quantize.clearMemos()
    Winnow.clearMemos(); PageRank.clearMemos(); Selection.clearMemos()
    Pipeline.clearMemos()
    spark.catalog.clearCache()
    val left = spark.sparkContext.getPersistentRDDs.values.toSeq
    left.foreach(_.unpersist(blocking = true))
    left.size
  }
}

trait Workload {
  /** Runs inside the timed set-up: register inputs, warm up. */
  def setup(): Unit
  /** The measured part; reports end-to-end metrics. */
  def run(): Unit
  /** Traced runs only: per-layer metrics from the spans. */
  def layers(): Unit
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "sql_mixed" => new SqlMixed(ctx)
    case "llm_data" => new LlmData(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

object Stats {
  /** Quantile with linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** JSON through Jackson, with Scala collections and options. */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def write(v: Any): String = mapper.writeValueAsString(v)
}
