package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, round, sum, window}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.Streams

/** The q96 chain (`readEventsStream` → `dedupStream` → `hourlyAgg`, append
  * mode, default trigger) fed by a generator thread in two phases:
  *
  *   1. open loop: one events file is due every `interval` ms, on a
  *      schedule that does not wait for the query; a file's latency runs
  *      from its due time to the commit of the batch that read it;
  *   2. drain: a closed loop of steps; each lands [[StepFiles]] files at
  *      once and waits until the query has processed them. Its JVM CPU per
  *      step is the reported figure: every step is the same amount of
  *      work, whatever the host's speed, while how many files the open
  *      loop's batches read follows the host's speed.
  *
  * File → batch comes from the file source's and the offset checkpoint
  * logs, a batch's start from the offset log and its commit time from its
  * commit file, all read after the query stops. */
final class StreamIngest(ctx: Ctx) {
  import ctx._

  private val truth = Json.mapper.readTree(data.resolve("truth.json").toFile)
  private val staged = Files.list(data.resolve("stream")).iterator.asScala
    .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
  private val openFiles = truth.get("open_files").asInt
  /** One file due every this many ms in the open loop. A backlog of 64
    * files drains about 0.7 s slower than one of a single file (2.7 s
    * against 2.0 s, each a data batch and a watermark batch, 4-core host),
    * so a file adds about 11 ms to its batch and the chain keeps up with
    * about 90 files a second. 100 ms is about a ninth of that: batches run
    * back to back, each reads the 6 or 7 files that landed during the
    * previous one, and a file's latency is mostly per-batch fixed cost, not
    * queueing (latency_first_third_ms and latency_last_third_ms show that
    * it does not grow over the loop). */
  private val IntervalMs = 100.0

  private def start(root: Path, files: Seq[String]): (StreamingQuery, Path, Path) = {
    val watch = root.resolve("watch/events.parquet")
    Files.createDirectories(watch)
    files.foreach(f => Files.copy(data.resolve("stream").resolve(f), watch.resolve(f)))
    val ckpt = root.resolve("ckpt")
    val name = "perfbench_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = tracer.outside(hourly(Streams.dedupStream(
        Streams.readEventsStream(spark, root.resolve("watch").toString)))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start())
    (q, watch, ckpt)
  }

  /** The q96 rollup after the dedup (as `Streams.dedupHourlyAvailableNow`
    * composes it: `Streams.hourlyAgg` would redefine the watermark). */
  private def hourly(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").cast("timestamp_ntz").as("h"),
              col("event_type"), col("n"), col("sum_value"))

  def setup(): Unit = {
    val root = out.resolve("warm-" + java.util.UUID.randomUUID())
    val (q, _, _) = start(root, staged.take(1))
    q.processAllAvailable()
    q.stop()
  }

  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress)
  }
  private var lagMs = Seq.empty[Double]
  /** Open-loop file latencies, due time to commit. */
  var latencyMs = Seq.empty[Double]
  /** Durations of the micro-batches that read files, after the first:
    * the batch's start in the offset log to its commit. */
  var batchMs = Seq.empty[Double]
  private var drainEventsPerS = 0.0
  /** Files landed by one drain step. */
  val StepFiles = 3
  /** JVM CPU ms of each drain step. */
  var stepCpuMs = Seq.empty[Double]

  def run(): Unit = {
    if (tracer.enabled) spark.streams.addListener(listener)
    val root = out.resolve("stream")
    val pending = root.resolve("pending")
    Files.createDirectories(pending)
    staged.drop(1).foreach(f => Files.copy(data.resolve("stream").resolve(f), pending.resolve(f)))
    val ran = phases(root, pending)
    import ran._
    if (tracer.enabled) spark.streams.removeListener(listener)
    lagMs = landed.indices.map(i => (landed(i) - due(i)).toDouble)

    // outside the timed region: latencies from the checkpoint, output dump
    val log = offsetLog(ckpt)
    val batchOf = fileBatches(ckpt, log)
    val commitMs = (b: Long) => ckpt.resolve(s"commits/$b").toFile.lastModified.toDouble
    latencyMs = openLoop.indices.flatMap(i => batchOf.get(openLoop(i)).map(b => commitMs(b) - due(i)))
    val first = batchOf(staged.head)
    val reading = batchOf.values.toSet
    batchMs = log.collect { case (b, startMs, _) if b > first && reading(b) =>
      commitMs(b) - startMs }
    attempted += staged.size
    val missing = staged.filterNot(batchOf.contains)
    if (missing.nonEmpty) checkFailed(s"${missing.size} files never read, e.g. ${missing.head}")
    drainEventsPerS = spark.read.parquet(steps.flatten.map(f => watch.resolve(f).toString): _*)
      .count() / (drainMs.sum / 1e3)
    writeOutput(q)
    val openBatches = openLoop.flatMap(batchOf.get).distinct.size
    val third = latencyMs.size / 3
    info("samples.file_latency", latencyMs.size.toDouble)
    info("samples.batch", batchMs.size.toDouble)
    info("stream_batches", log.size.toDouble)
    info("stream_latency_p50_ms", Stats.median(latencyMs))
    info("stream_latency_p90_ms", Stats.pct(latencyMs, 0.9))
    info("stream_batch_p50_ms", Stats.median(batchMs))
    info("interval_ms", IntervalMs)
    info("open_loop_batches", openBatches.toDouble)
    info("files_per_batch", openLoop.size.toDouble / openBatches)
    info("latency_first_third_ms", Stats.median(latencyMs.take(third)))
    info("latency_last_third_ms", Stats.median(latencyMs.takeRight(third)))
    info("drain_step_ms", Stats.median(drainMs))
    info("generator_lag_max_ms", lagMs.max)
  }

  private case class Ran(q: StreamingQuery, watch: Path, ckpt: Path, openLoop: Seq[String],
                         due: Seq[Long], landed: Array[Long], steps: Seq[Seq[String]],
                         drainMs: Seq[Double])

  /** Start the query, the open loop, the drain steps, stop. The start
    * and each drain step are timed operations; the open loop is not (its
    * CPU follows how many batches the host's speed makes of it). */
  private def phases(root: Path, pending: Path): Ran = {
    val ((q, watch, ckpt), _, _) = timed {
      val started = tracer.span("streaming.start", "stream")(start(root, staged.take(1)))
      tracer.span("streaming.first_batch", "stream")(started._1.processAllAvailable())
      started
    }
    def land(f: String): Long = {
      Files.move(pending.resolve(f), watch.resolve(f), StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }
    // phase 1: open loop, files 1 until openFiles - 1
    val openLoop = staged.slice(1, openFiles)
    val t0 = System.currentTimeMillis() + 50
    val due = openLoop.indices.map(i => t0 + math.round((i + 1) * IntervalMs))
    val landed = new Array[Long](openLoop.size)
    val gen = new Thread(() => openLoop.indices.foreach { i =>
      val wait = due(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      landed(i) = land(openLoop(i))
    }, "perfbench-generator")
    gen.start(); gen.join()
    tracer.span("streaming.open_tail", "stream")(q.processAllAvailable())
    // phase 2: the drain steps
    val steps = staged.drop(openFiles).grouped(StepFiles).toSeq
    val timings = steps.map { step =>
      val (_, ms, cpuMs) = timed {
        step.foreach(land)
        tracer.span("streaming.drain", "stream")(q.processAllAvailable())
      }
      (ms, cpuMs)
    }
    q.stop()
    stepCpuMs = timings.map(_._2)
    Ran(q, watch, ckpt, openLoop, due, landed, steps, timings.map(_._1))
  }

  /** (micro-batch id, its start in ms, the source offset it read up to),
    * by batch id, from the offset log. */
  private def offsetLog(ckpt: Path): Seq[(Long, Double, Long)] =
    entries(ckpt.resolve("offsets")).map { case (b, lines) =>
      (b.toLong, Json.mapper.readTree(lines.head).get("batchTimestampMs").asDouble,
       Json.mapper.readTree(lines.last).get("logOffset").asLong)
    }.sortBy(_._1)

  /** file name → id of the micro-batch that read it. The source log
    * numbers its entries by the source's own offset, which advances only
    * when files arrive, so a file belongs to the first micro-batch whose
    * offset reaches its entry's (watermark-only batches read no files). */
  private def fileBatches(ckpt: Path, log: Seq[(Long, Double, Long)]): Map[String, Long] =
    entries(ckpt.resolve("sources/0")).flatMap(_._2).flatMap { l =>
      val n = Json.mapper.readTree(l)
      val offset = n.get("batchId").asLong
      log.collectFirst { case (b, _, o) if o >= offset => b }
        .map(new File(new java.net.URI(n.get("path").asText)).getName -> _)
    }.groupMapReduce(_._1)(_._2)(math.min)

  /** The JSON lines of each file of a checkpoint log, by file name. */
  private def entries(dir: Path): Seq[(String, Seq[String])] =
    dir.toFile.listFiles.filterNot(_.getName.startsWith(".")).toSeq.map(f =>
      f.getName -> Files.readAllLines(f.toPath).asScala.drop(1).filter(_.startsWith("{")).toSeq)

  private def writeOutput(q: StreamingQuery): Unit = {
    val rows = spark.table(q.name).collect().map { r =>
      Map("h" -> r.getAs[java.time.LocalDateTime]("h").toString,
          "event_type" -> r.getAs[String]("event_type"),
          "n" -> r.getAs[Long]("n"), "sum_value" -> r.getAs[Double]("sum_value"))
    }
    val wm = Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
    Files.write(out.resolve("stream_output.json"), Json.write(Map(
      "watermark" -> wm, "rows" -> rows.toSeq)).getBytes("UTF-8"))
  }

  def layers(): Unit = {
    val batches = progress.filter(_.numInputRows > 0).toSeq
    def med(key: String) =
      Stats.median(batches.map(p => Option(p.durationMs.get(key)).fold(0.0)(_.toDouble)))
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
      .foreach(k => layer(s"streaming.${k}_ms", med(k)))
    layer("streaming.batches", batches.size.toDouble)
    layer("streaming.rows_per_batch", batches.map(_.numInputRows.toDouble).sum / batches.size)
    layer("streaming.state_rows",
      progress.map(_.stateOperators.map(_.numRowsTotal).sum).max.toDouble)
    layer("streaming.state_bytes",
      progress.map(_.stateOperators.map(_.memoryUsedBytes).sum).max.toDouble)
    layer("streaming.generator_lag_ms", lagMs.max)
    layer("streaming.drain_events_per_s", drainEventsPerS)
  }
}
