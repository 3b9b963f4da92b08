package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming operators over the `events` stream — the
  * streaming twins of the batch operators in [[graft.ext.Events]].
  *
  * The reference engine has no streaming at all (SURVEY.md §2.5); this
  * module is part of the beyond-reference capability surface, built the
  * idiomatic Spark way: `readStream` file source → event-time watermark →
  * windowed aggregation / keyed state (`flatMapGroupsWithState`) →
  * `writeStream`. Every operator here is shuffle-partitioned by its key
  * (window+type, user_id), so state scales horizontally with executors;
  * watermarks bound state size — the two properties that matter at
  * 100 TB/day event volumes.
  *
  * Each streaming pipeline also has a bounded `Trigger.AvailableNow` run
  * used by the driver gate: the static events table processed as a stream
  * must produce exactly the batch answer (checked against the same DuckDB
  * oracle SQL as the batch twin).
  */
object Streams {

  /** Stream-source schema for the events directory. A file-source stream
    * needs a user-declared schema, and the physical unit of `ts` has
    * changed across driver rounds (TIMESTAMP(NANOS) → TIMESTAMP(MICROS);
    * see [[graft.Tables]] loadEvents) — so declare `ts` with the type a
    * one-time batch footer probe reports rather than hard-coding a unit. */
  private def rawSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Resolve a table's stream source path: the driver testdata ships
    * `<name>.parquet` as a single FILE inside `dir`, while any
    * Spark-written layout (production, the 10× smoke replica) has it as
    * a DIRECTORY of part files — stream from inside the directory in
    * that case, since `pathGlobFilter` matches leaf file names only. */
  private def streamSource(dir: String, name: String): (String, String) = {
    val f = new java.io.File(s"$dir/$name.parquet")
    if (f.isDirectory) (f.getPath, "*.parquet") else (dir, s"$name.parquet")
  }

  /** File-source stream over an events parquet directory. New files
    * appearing under `dir` become micro-batches; `maxFilesPerTrigger`
    * bounds batch size in production (None = all available per batch). */
  def readEventsStream(spark: SparkSession, dir: String,
                       maxFilesPerTrigger: Option[Int] = None,
                       globOverride: Option[String] = None): DataFrame = {
    val (path, glob) =
      globOverride.map((dir, _)).getOrElse(streamSource(dir, "events"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // one cheap footer read decides the ts unit for the whole stream
    val tsType = spark.read.option("pathGlobFilter", glob).parquet(path)
      .schema("ts").dataType
    val r = spark.readStream.schema(rawSchema(tsType))
      // the file source needs a directory path; events is a single file
      // in the driver testdata layout, so scan the dir with a glob filter
      .option("pathGlobFilter", glob)
    val r2 = maxFilesPerTrigger.fold(r)(n =>
      r.option("maxFilesPerTrigger", n.toString))
    // watermarks require TIMESTAMP (LTZ) — keep event time LTZ on the
    // stream (UTC session, so NTZ↔LTZ is the identity on wall clocks),
    // convert to NTZ only at output edges
    val raw = r2.parquet(path)
    val tsLtz = tsType match {
      case LongType         => timestamp_micros(expr("ts div 1000")) // nanos
      case TimestampNTZType => col("ts").cast("timestamp")
      case TimestampType    => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other — testdata contract changed?")
    }
    raw.withColumn("ts", tsLtz)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Tumbling-hour aggregation (streaming twin of Events.hourlyAgg).
    * With a watermark the sink can run in append mode: a window is final
    * once the watermark passes its end, and its state is dropped —
    * bounded state, exactly-once per window. */
  def hourlyAgg(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("h"), col("event_type"),
              col("n"), col("sum_value"))

  /** Streaming exact dedup by event_id within the watermark horizon —
    * the streaming form of exact dedup: per-key state holds only ids
    * younger than the watermark, so state is bounded while re-delivered
    * events (at-least-once sources) are dropped exactly-once. */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  // ---- keyed-state sessionization ----------------------------------

  private val GapMicros = 1800L * 1000000L // 30 minutes

  case class SessEvent(user_id: Long, ts_us: Long, event_id: Long)
  case class SessState(lastTs: Long, nEvents: Long, nSessions: Long)
  case class SessionCounts(user_id: Long, n_events: Long, n_sessions: Long)

  /** Per-user cumulative (n_events, n_sessions) via flatMapGroupsWithState
    * (update mode): a new session starts after a >30-minute gap. Events
    * are sorted by (ts, event_id) within each batch; counts are
    * monotonically nondecreasing across updates, so a downstream
    * max-per-user over the update stream equals the batch answer.
    *
    * State per user is three longs — bounded regardless of event volume.
    * (The session-closing variant with EventTimeTimeout emits finished
    * sessions instead; cumulative counts keep the driver-gate comparison
    * against the batch oracle exact.)
    *
    * ORDERING CONTRACT (single-batch / per-batch-ordered delivery): events
    * are sorted by (ts, event_id) WITHIN each micro-batch only — state
    * carries no reorder buffer, so an event older than `lastTs` arriving
    * in a LATER batch would be gap-measured against the running max and
    * could merge two true sessions. The driver gate is exact because the
    * static events table is one file delivered in one AvailableNow batch.
    * Production use with `maxFilesPerTrigger` (or any source that splits
    * a user's events across batches out of event-time order) needs the
    * buffering variant: hold events younger than the watermark in state
    * and fold them only when the watermark passes, which trades this
    * version's three-longs state for a watermark-bounded buffer. The
    * assumption is also recorded in DEVIATIONS.md. */
  def sessionCounts(events: DataFrame): Dataset[SessionCounts] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"),
              unix_micros(col("ts").cast("timestamp")), // exact long math
              col("event_id"))
      .toDF("user_id", "ts_us", "event_id")
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(updateSession)
  }

  private def updateSession(
      userId: Long, events: Iterator[SessEvent],
      state: GroupState[SessState]): Iterator[SessionCounts] = {
    val sorted = events.toArray.sortBy(e => (e.ts_us, e.event_id))
    if (sorted.isEmpty) return Iterator.empty
    var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
    sorted.foreach { e =>
      val newSession = st.nEvents == 0L || e.ts_us - st.lastTs > GapMicros
      st = SessState(math.max(e.ts_us, st.lastTs), st.nEvents + 1L,
                     st.nSessions + (if (newSession) 1L else 0L))
    }
    state.update(st)
    Iterator.single(SessionCounts(userId, st.nEvents, st.nSessions))
  }

  // ---- bounded (AvailableNow) runs for the driver gate --------------

  /** Dev probe: cumulative bytes under each bounded run's state dir,
    * recorded just before checkpoint cleanup when
    * `-Dgraft.stream.measureState` is set — the ScaleSmoke streaming
    * table reads this to report RocksDB state footprint per gate. */
  private val stateBytesAcc = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def resetStateBytesProbe(): Unit = stateBytesAcc.set(0L)
  private[graft] def stateBytesProbe: Long = stateBytesAcc.get()

  /** Number of micro-batches the most recent [[runBounded]] executed
    * (from the terminated query's last progress). The multi-batch
    * certification gates require this to be ≥ their staged file count
    * — a silent collapse into one batch would certify nothing. */
  private val lastBatchesAcc = new java.util.concurrent.atomic.AtomicLong(-1L)
  private[graft] def lastRunBatches: Long = lastBatchesAcc.get()

  /** Drop the memory-sink temp views left by bounded runs, releasing
    * their buffered rows. Each bounded gate pins its FULL output in
    * the session (the MemorySink's row buffer lives behind the temp
    * view, untouched by cache clearing) — harmless per gate, but
    * ADDITIVE across a benchmark sweep: the 100× stream smoke
    * accumulated ~30M buffered rows across nine runs and drove the
    * driver heap into GC collapse before this sweep existed. Call
    * between timed runs, after the previous result is consumed. */
  private[graft] def dropBoundedSinks(spark: SparkSession): Unit = {
    spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_stream_"))
      .foreach(spark.catalog.dropTempView(_))
    // the shared events-family result rides one of those sinks — a
    // memo surviving the sink drop would hand later gates an empty
    // (dropped) table, so the two lifetimes are tied here
    eventsFamilyCache.keys.filter(_._1 eq spark)
      .foreach(eventsFamilyCache.remove)
  }

  private[graft] def runBounded(df: DataFrame, mode: OutputMode,
                         statePartitions: Int = 4,
                         noDataBatch: Boolean = false,
                         rocksDb: Boolean = false): DataFrame = {
    // tuning knob for gate/probe runs: -Dgraft.stream.statePartitions=N
    // overrides every bounded run's state partition count; malformed or
    // non-positive values fall back to the default instead of throwing
    // from deep inside the stream run
    val parts = sys.props.get("graft.stream.statePartitions")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(statePartitions)
    val spark = df.sparkSession
    val name = "graft_stream_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // throwaway checkpoint for a bounded verification run: prefer the
    // RAM-backed tmpfs (offset/commit-log + state-store fsyncs dominate
    // small AvailableNow runs); production queries pass a durable
    // checkpointLocation instead.
    val ckptBase = {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm" else
        System.getProperty("java.io.tmpdir")
    }
    // Bounded-run cost is almost all per-micro-batch machinery, so spend
    // fewer batches and fewer state partitions:
    //   - no-data micro-batches exist to advance the watermark for
    //     append-mode emission; gate runs in Complete/Update modes emit
    //     everything in the final data batch, so the trailing empty
    //     batch is pure overhead — skip it (noDataBatch = false). The
    //     chained-stateful append gate NEEDS it: its windows only emit
    //     once the watermark passes them, which takes the extra batch.
    //   - each shuffle partition is a state-store instance with its own
    //     load/commit lifecycle per batch; the bounded verification data
    //     does not need 32 of them, but it DOES need more than one: a
    //     single store serializes all state work on one core (a warm
    //     probe once suggested 1 beats 4, but cold runs — the bench
    //     methodology — showed 1 partition tripling the dedup gate, so
    //     the default is 4: enough stores to spread commit work, few
    //     enough that per-store lifecycle overhead stays small).
    // Both are session confs — set around the run, restored after (the
    // query pins its state partition count at first start from its own
    // checkpoint, so batch queries in the session are unaffected).
    val conf = spark.conf
    val prevNoData =
      conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    val prevParts = conf.getOption("spark.sql.shuffle.partitions")
    val prevProvider =
      conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val changelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevChangelog = conf.getOption(changelogKey)
    conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
             noDataBatch.toString)
    conf.set("spark.sql.shuffle.partitions", parts.toString)
    // State store backend. RocksDB is the PRODUCTION choice for
    // 100 TB keyed state (dedup keys, open sessions, HLL registers):
    // state lives off-heap/on-disk in an embedded LSM instead of the
    // default provider's in-heap HashMap, so executor heap stops being
    // the state ceiling and checkpoint deltas ship incrementally
    // (changelog files), not as full HDFS snapshots. For BOUNDED
    // CERTIFICATION runs, though, the per-(batch × partition) RocksDB
    // instance lifecycle is pure fixed cost against kilobyte-sized
    // state — the r16 `ScaleSmoke streamcost` cold A/B measured the
    // six fixed-cost gates at 19.8 s RocksDB vs 16.9 s in-heap — and
    // the certified SEMANTICS are provider-independent. So bounded
    // runs default to the in-heap provider, while the RocksDB path
    // keeps a standing certification: q208 (the cross-batch Bloom
    // state gate, the most production-shaped keyed-state lifecycle)
    // pins rocksDb = true, and -Dgraft.stream.stateStore=rocksdb|hdfs
    // overrides everything for full-suite A/Bs.
    val provider = (sys.props.get("graft.stream.stateStore") match {
      case Some("hdfs")    => Some(false)
      case Some("rocksdb") => Some(true)
      case _               => None
    }).getOrElse(rocksDb) match {
      case true => "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider"
      case false => "org.apache.spark.sql.execution.streaming." +
        "state.HDFSBackedStateStoreProvider"
    }
    conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    // Changelog checkpointing: per-batch state durability ships the
    // batch's DELTA instead of a full RocksDB snapshot — the production
    // setting for incremental state at scale, and it also trims the
    // bounded runs' per-batch commit cost. (Restored after the run
    // like every other conf this method touches.)
    conf.set(changelogKey, "true")
    val q =
      try {
        val started = df.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$ckptBase/graft_ckpt_$name")
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
        started.awaitTermination()
        lastBatchesAcc.set(
          Option(started.lastProgress).fold(-1L)(_.batchId + 1L))
        started
      } finally {
        prevNoData.fold(
          conf.unset("spark.sql.streaming.noDataMicroBatches.enabled"))(v =>
          conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v))
        prevParts.fold(conf.unset("spark.sql.shuffle.partitions"))(v =>
          conf.set("spark.sql.shuffle.partitions", v))
        prevProvider.fold(
          conf.unset("spark.sql.streaming.stateStore.providerClass"))(v =>
          conf.set("spark.sql.streaming.stateStore.providerClass", v))
        prevChangelog.fold(conf.unset(changelogKey))(v =>
          conf.set(changelogKey, v))
      }
    // state-footprint probe (dev measurement), then best-effort cleanup
    // of the throwaway checkpoint
    try {
      if (sys.props.contains("graft.stream.measureState")) {
        def du(f: java.io.File): Long =
          if (f.isDirectory)
            Option(f.listFiles).fold(0L)(_.map(du).sum)
          else f.length
        val sd = new java.io.File(s"$ckptBase/graft_ckpt_$name/state")
        if (sd.exists) stateBytesAcc.addAndGet(du(sd))
      }
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(s"$ckptBase/graft_ckpt_$name"))
    } catch { case _: Throwable => () }
    spark.table(name)
  }

  /** Static events dir processed as a stream; must equal the batch
    * hourly aggregation (q32's oracle). Complete mode: the final trigger
    * emits every window, closed or not, so the bounded run is exact. */
  def hourlyAggAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEventsStream(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      // NTZ at the output edge: compares naive-to-naive with the batch
      // twin and the DuckDB oracle under the UTC session
      .select(col("window.start").cast("timestamp_ntz").as("h"),
              col("event_type"), col("n"), col("sum_value"))
    runBounded(agg, OutputMode.Complete())
  }

  /** Streaming Gopher quality filter — the q201 rule bundle applied to
    * the document-ingest firehose: every rule is pure row-local
    * expression work ([[graft.ext.TextAnalysis.withGopherFlags]]), so
    * the filter composes into the stream with NO state of its own; the
    * only stateful operator is the per-source keep/reject census.
    * Complete mode emits every source's totals at the final trigger,
    * matching the batch aggregate (the q201 oracle grouped by source).
    * Production shape: the same projection feeds a `filter(keep = 1)`
    * sink — this gate keeps the census so the result is comparable. */
  def gopherKeepAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val agg = graft.ext.TextAnalysis
      .withGopherFlags(readDocumentsStream(spark, dir))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("keep").cast("long")).as("n_keep"))
    runBounded(agg, OutputMode.Complete())
  }

  /** Stream-static enrichment: join the event stream against a static
    * dimension table (the standard streaming-enrichment shape — the
    * static side is planned as a broadcast per micro-batch, no stream
    * state for the join itself), then aggregate per segment. */
  def enrichedSegmentAgg(events: DataFrame,
                         customer: DataFrame): DataFrame =
    events.join(
        broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("value")), 2).as("sum_value"))

  /** Bounded gate run of the stream-static join; Complete mode emits
    * every segment at the final trigger, matching the batch join. */
  def enrichedSegmentAvailableNow(spark: SparkSession,
                                  dir: String): DataFrame = {
    val events = readEventsStream(spark, dir)
    val customer = graft.Tables.load(spark, dir, "customer")
    runBounded(enrichedSegmentAgg(events, customer), OutputMode.Complete())
  }

  /** Stream-stream funnel join: each click matched to the same user's
    * purchases within the following hour. Both sides carry watermarks
    * and the join condition bounds the event-time distance, so the state
    * store retains only one watermark-horizon of each side — the
    * canonical bounded-state stream-stream join. Output: one row per
    * (click, purchase) pair. */
  def funnelJoin(events: DataFrame,
                 watermark: String = "2 hours"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
              col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
      col("purchase_ts") >= col("click_ts") &&
      col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_id"),
              col("purchase_id"))
  }

  /** Bounded gate run of the funnel join (append mode — stream-stream
    * inner joins emit exactly the matched pairs). Keeps the small state
    * partition count: a stream-stream join runs FOUR state stores per
    * partition (two per side), so raising partitions multiplies store
    * lifecycles faster than it buys parallelism (measured 2x slower at
    * 16 partitions than at 4 on the bounded run). */
  def funnelJoinAvailableNow(spark: SparkSession, dir: String): DataFrame =
    runBounded(funnelJoin(readEventsStream(spark, dir)),
               OutputMode.Append())

  /** Stream-stream LEFT OUTER funnel — the drop-off analysis the inner
    * join (q46) cannot express: every click, matched to the same
    * user's purchases within the following hour OR emitted null-padded
    * once the watermark proves no future purchase can match (a
    * purchase must satisfy `purchase_ts <= click_ts + 1h`, so a click
    * is decided when `click_ts + 1h < watermark`). Matched pairs emit
    * as both sides arrive; unmatched clicks emit exactly once, at
    * watermark passage — Spark's outer stream-stream join semantics,
    * state bounded to one watermark horizon per side. */
  def funnelLeftOuter(events: DataFrame,
                      watermark: String = "2 hours"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
              col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
      col("purchase_ts") >= col("click_ts") &&
      col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("c_user").as("user_id"), col("click_id"),
              col("purchase_id"))
  }

  /** Bounded gate run: append mode with the trailing no-data batch so
    * the final watermark (max(ts) − delay) decides every decidable
    * click; the oracle emits matched pairs plus null-padded clicks
    * whose match window closed before that watermark. */
  def funnelLeftOuterAvailableNow(spark: SparkSession,
                                  dir: String): DataFrame =
    runBounded(funnelLeftOuter(readEventsStream(spark, dir)),
               OutputMode.Append(), noDataBatch = true)

  // ---- shared events-family certification query (q96+q106+q116) -----
  //
  // The three events-family gates each certify one stateful shape —
  // dedup→hourly rollup (chained, q96), session windows (q106), the
  // funnel left-outer join (q116) — and each used to pay its own
  // bounded streaming query: ~2.3 s of per-query machinery (startup,
  // per-batch planning, state lifecycle, sink) against sub-second data
  // work, three times over (the round-15 verdict's "harness, not
  // plans" line item). Production runs this family the other way: ONE
  // ingest job fanning one source into every aggregation. This is that
  // job — the three pipelines as tagged branches of one streaming
  // query (Spark supports multiple stateful operators in append mode);
  // each gate filters its tag from the shared, memoized run.
  //
  // WATERMARK SEMANTICS OF THE SHARED JOB (the part the oracles must
  // replay): one query has one global watermark — the MIN across every
  // branch's watermark operators. The funnel's sides watermark AFTER
  // their event-type filters, so their maxima (max click ts, max
  // purchase ts) sit at or below the aggregation branches' whole-table
  // max, and the pool resolves to the funnel's own
  // min(max click, max purchase) − delay: q116's emitted set is
  // IDENTICAL to its solo run, while q96/q106 now emit at the shared
  // job's (slightly earlier) cutoff — their oracles carry the same wm
  // CTE as the funnel's. Nothing certified got weaker: the same
  // operators run with the same state semantics, and the oracle
  // replays the shared job's exact output; the solo single-query
  // operators remain above for single-pipeline deployments.
  //
  // The memo lives and dies with the bounded sink ([[dropBoundedSinks]]
  // clears both), so every bench/probe pass that drains sinks re-runs
  // the family cold.

  private val eventsFamilyCache = scala.collection.concurrent
    .TrieMap[(SparkSession, String), DataFrame]()

  private def nullC(t: String, as: String) = lit(null).cast(t).as(as)

  private def eventsFamilyShared(spark: SparkSession,
                                 dir: String): DataFrame =
    eventsFamilyCache.getOrElseUpdate((spark, dir), {
      val wmk = "2 hours"
      val ev = readEventsStream(spark, dir)
      val hourly = dedupStream(ev.union(ev), wmk)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             round(sum(col("value")), 2).as("sum_value"))
        .select(lit("hourly").as("tag"),
                col("window.start").cast("timestamp_ntz").as("h"),
                col("event_type"), col("n"),
                nullC("long", "user_id"), nullC("timestamp_ntz", "s_start"),
                nullC("timestamp_ntz", "s_end"), nullC("long", "n_events"),
                nullC("long", "click_id"), nullC("long", "purchase_id"),
                col("sum_value"))
      val sessions = readEventsStream(spark, dir)
        .withWatermark("ts", wmk)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
             round(sum(col("value")), 2).as("sum_value"))
        .select(lit("session").as("tag"),
                nullC("timestamp_ntz", "h"), nullC("string", "event_type"),
                nullC("long", "n"), col("user_id"),
                col("session_window.start").cast("timestamp_ntz")
                  .as("s_start"),
                col("session_window.end").cast("timestamp_ntz")
                  .as("s_end"),
                col("n_events"),
                nullC("long", "click_id"), nullC("long", "purchase_id"),
                col("sum_value"))
      val funnel = funnelLeftOuter(readEventsStream(spark, dir), wmk)
        .select(lit("funnel").as("tag"),
                nullC("timestamp_ntz", "h"), nullC("string", "event_type"),
                nullC("long", "n"), col("user_id"),
                nullC("timestamp_ntz", "s_start"),
                nullC("timestamp_ntz", "s_end"), nullC("long", "n_events"),
                col("click_id"), col("purchase_id"),
                nullC("double", "sum_value"))
      runBounded(hourly.unionByName(sessions).unionByName(funnel),
                 OutputMode.Append(), noDataBatch = true)
    })

  /** q96 via the shared family run: the dedup→hourly-rollup branch. */
  def dedupHourlySharedGate(spark: SparkSession, dir: String): DataFrame =
    eventsFamilyShared(spark, dir).filter(col("tag") === "hourly")
      .select(col("h"), col("event_type"), col("n"), col("sum_value"))

  /** q106 via the shared family run: the session-window branch. */
  def sessionWindowSharedGate(spark: SparkSession, dir: String): DataFrame =
    eventsFamilyShared(spark, dir).filter(col("tag") === "session")
      .select(col("user_id"), col("s_start"), col("s_end"),
              col("n_events"), col("sum_value"))

  /** q116 via the shared family run: the funnel left-outer branch
    * (emitted set identical to the solo run — see the watermark note
    * above). */
  def funnelLeftOuterSharedGate(spark: SparkSession,
                                dir: String): DataFrame =
    eventsFamilyShared(spark, dir).filter(col("tag") === "funnel")
      .select(col("user_id"), col("click_id"), col("purchase_id"))

  private def pooledWmSql(watermarkHours: Int): String =
    s"""wm AS (SELECT least(
       |  (SELECT max(ts) FROM events WHERE event_type = 'click'),
       |  (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
       |  - INTERVAL $watermarkHours HOUR AS w)""".stripMargin

  /** Oracle for [[dedupHourlySharedGate]]: the q96 rollup under the
    * SHARED job's pooled watermark (the funnel sides' min — see the
    * family note). */
  def dedupHourlySharedOracleSql(watermarkHours: Int = 2): String =
    s"""WITH ${pooledWmSql(watermarkHours)}
       |SELECT date_trunc('hour', ts) AS h, event_type,
       |  count(*) AS n, round(sum(value), 2) AS sum_value
       |FROM events
       |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
       |      <= (SELECT w FROM wm)
       |GROUP BY 1, 2""".stripMargin

  /** Oracle for [[sessionWindowSharedGate]]: the q106 sessions under
    * the shared job's pooled watermark. */
  def sessionWindowSharedOracleSql(watermarkHours: Int = 2): String =
    s"""WITH ${pooledWmSql(watermarkHours)}
       |SELECT user_id, min(ts) AS s_start,
       | max(ts) + INTERVAL 30 MINUTE AS s_end,
       | CAST(count(*) AS BIGINT) AS n_events,
       | round(sum(value), 2) AS sum_value
       |FROM (SELECT user_id, ts, value,
       |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
       | FROM (SELECT user_id, ts, event_id, value,
       |   CASE WHEN lag(ts) OVER (PARTITION BY user_id
       |                           ORDER BY ts, event_id) IS NULL
       |        OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
       |             ORDER BY ts, event_id)) > 1800.0 THEN 1
       |        ELSE 0 END AS new_s
       |  FROM events) t) s
       |GROUP BY user_id, sid
       |HAVING max(ts) + INTERVAL 30 MINUTE < (SELECT w FROM wm)""".stripMargin

  /** Oracle for [[funnelLeftOuterAvailableNow]]. The decisive subtlety
    * (found empirically, 2-row diff at sf0.01): each side's watermark
    * operator sits AFTER its event-type filter, so the query's global
    * watermark is min(max click ts, max purchase ts) − delay — NOT the
    * whole-table max − delay (clicks closing between the two were
    * wrongly "decidable" under the naive cutoff). */
  def funnelLeftOuterOracleSql(watermarkHours: Int = 2): String =
    s"""WITH clk AS (SELECT user_id, ts AS cts, event_id AS click_id
       |  FROM events WHERE event_type = 'click'),
       |pur AS (SELECT user_id, ts AS pts, event_id AS purchase_id
       |  FROM events WHERE event_type = 'purchase'),
       |wm AS (SELECT least((SELECT max(cts) FROM clk),
       |                    (SELECT max(pts) FROM pur))
       |         - INTERVAL $watermarkHours HOUR AS w),
       |matched AS (
       |  SELECT c.user_id, c.click_id, p.purchase_id
       |  FROM clk c JOIN pur p ON p.user_id = c.user_id
       |    AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR),
       |unmatched AS (
       |  SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id
       |  FROM clk c, wm
       |  WHERE c.cts + INTERVAL 1 HOUR < wm.w
       |    AND NOT EXISTS (SELECT 1 FROM pur p
       |      WHERE p.user_id = c.user_id
       |        AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR))
       |SELECT * FROM matched UNION ALL SELECT * FROM unmatched""".stripMargin

  /** CHAINED stateful pipeline — streaming dedup feeding a windowed
    * aggregation in one query (the exactly-once-ingest + hourly-rollup
    * shape every event pipeline runs; Spark supports stateful-operator
    * chaining in append mode since 3.4): the redelivered stream is
    * deduped by event_id, then hourly-aggregated; each window emits
    * exactly once, when the watermark passes its end. The bounded run
    * keeps the trailing no-data micro-batch (it advances the watermark
    * to max(ts) − delay), so the emitted set is every window with
    * `end <= max(ts) − delay` — deterministic, and the oracle applies
    * the same cutoff to the batch aggregation. State: dedup ids + open
    * windows, both watermark-bounded.
    *
    * `round(sum(value), 2)` is TIE-FREE here, not merely close: `value`
    * is 2-decimal money (verified: zero off-grid values at every SF),
    * so the true sum is 0.01-granular and never lands at a .005
    * rounding boundary; the ~1e-10 double accumulation error cannot
    * flip the rounding under any summation order in either engine —
    * same argument as the q32/q35/q36 rollups (see the verify skill's
    * rounding note). */
  def dedupHourlyAvailableNow(spark: SparkSession, dir: String,
                              watermark: String = "2 hours"): DataFrame = {
    val ev = readEventsStream(spark, dir)
    val agg = dedupStream(ev.union(ev), watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").cast("timestamp_ntz").as("h"),
              col("event_type"), col("n"), col("sum_value"))
    runBounded(agg, OutputMode.Append(), noDataBatch = true)
  }

  /** MULTI-BATCH-SAFE streaming sessionization via Spark's native
    * `session_window` — the idiomatic answer to the ordering contract
    * documented on [[sessionCounts]]: the session-window aggregation
    * operator keeps open windows in the state store and MERGES any
    * window an arriving event overlaps, regardless of which micro-batch
    * the event arrives in or in what order — cross-batch disorder is
    * handled up to the watermark delay, with no hand-rolled buffer.
    * Append mode emits a session exactly once, when the watermark
    * passes its end (end = last event + gap, so no later event can
    * extend it). State per user = open windows only — watermark-bounded.
    *
    * The bounded gate run keeps the trailing no-data micro-batch to
    * advance the watermark to max(ts) − delay; the emitted set is every
    * session with `end < max(ts) − delay`, and the oracle applies the
    * same cutoff to the batch gaps-and-islands answer (same pattern as
    * the q96 hourly-rollup oracle). */
  def sessionWindowAvailableNow(spark: SparkSession, dir: String,
                                watermark: String = "2 hours",
                                maxFilesPerTrigger: Option[Int] = None,
                                globOverride: Option[String] = None)
      : DataFrame = {
    val agg = readEventsStream(spark, dir, maxFilesPerTrigger, globOverride)
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"),
              col("session_window.start").cast("timestamp_ntz").as("s_start"),
              col("session_window.end").cast("timestamp_ntz").as("s_end"),
              col("n_events"), col("sum_value"))
    runBounded(agg, OutputMode.Append(), noDataBatch = true)
  }

  /** Oracle for [[sessionWindowAvailableNow]]: the batch session_window
    * answer (gap > 30 min starts a session; end = last + gap)
    * restricted to sessions the append-mode watermark has closed. */
  def sessionWindowOracleSql(watermarkHours: Int = 2): String =
    s"""SELECT user_id, min(ts) AS s_start,
       | max(ts) + INTERVAL 30 MINUTE AS s_end,
       | CAST(count(*) AS BIGINT) AS n_events,
       | round(sum(value), 2) AS sum_value
       |FROM (SELECT user_id, ts, value,
       |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
       | FROM (SELECT user_id, ts, event_id, value,
       |   CASE WHEN lag(ts) OVER (PARTITION BY user_id
       |                           ORDER BY ts, event_id) IS NULL
       |        OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
       |             ORDER BY ts, event_id)) > 1800.0 THEN 1
       |        ELSE 0 END AS new_s
       |  FROM events) t) s
       |GROUP BY user_id, sid
       |HAVING max(ts) + INTERVAL 30 MINUTE
       |       < (SELECT max(ts) - INTERVAL $watermarkHours HOUR FROM events)""".stripMargin

  /** Bounded gate run of the streaming dedup: the events stream unioned
    * with itself simulates an at-least-once source redelivering every
    * event; `dropDuplicatesWithinWatermark` must collapse the stream
    * back to exactly the batch table (q68's oracle is a plain SELECT of
    * the events table). State = one entry per event_id within the
    * watermark horizon — bounded, and keyed so it scales out with
    * shuffle partitions. */
  def dedupAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val ev = readEventsStream(spark, dir)
    val redelivered = ev.union(ev)
    runBounded(
      dedupStream(redelivered)
        .select(col("event_id"), col("event_type"), col("value")),
      OutputMode.Append())
  }

  // ---- bounded-state (Bloom) streaming dedup ------------------------

  case class BloomEvent(shard: Int, event_id: Long, event_type: String,
                        value: Double)
  case class BloomShard(bits: Array[Byte])
  case class DedupOut(event_id: Long, event_type: String, value: Double)

  private val BloomK = 4

  /** splitmix64 finalizer — a deterministic 64-bit avalanche (public
    * constants from Steele et al., "Fast Splittable Pseudorandom Number
    * Generators", OOPSLA 2014); the Bloom filter derives its k probe
    * positions from two rounds of it. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** BOUNDED-STATE streaming dedup — the production companion to
    * [[dedupStream]]: q68's `dropDuplicatesWithinWatermark` keeps one
    * state entry PER KEY inside the horizon, so its state grows with
    * the corpus (measured ~linear at 10× — correct for exact semantics,
    * unbounded at 100 TB). This variant keeps a FIXED-size Bloom filter
    * per shard instead: state is `shards × 2^log2BitsPerShard` bits —
    * a deployment constant (default 32 × 2^21 = 8 MiB total), flat at
    * ANY corpus size.
    *
    * The price is the Bloom false-positive rate: a genuinely-new key
    * whose k probe bits were all set by OTHER keys is dropped as a
    * duplicate. With m total bits, k=4 probes and n distinct keys the
    * per-check FP rate is (1 − e^(−kn/m))^k — at the default sizing
    * ≈1.3e-9 for n=100k (sf0.1: expected false drops 1e-4, i.e. the
    * gate is exact in practice) and ≈1e-5 at n=1M; production sizes m
    * for its target n exactly like any Bloom deployment (10 bits/key
    * ≈ 1% FP). False NEGATIVES are impossible — every true duplicate
    * is always dropped.
    *
    * Sharding is `event_id % shards`, so all copies of a key land in
    * one shard; within a batch the fold is id-sorted (the
    * [[updateBucket]] determinism contract). At 100 TB parallelism =
    * shards (a deployment knob); each shard's state value is one
    * RocksDB blob rewritten per batch. */
  def bloomDedupStream(events: DataFrame, shards: Int = 32,
                       log2BitsPerShard: Int = 21): Dataset[DedupOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      // NULL event_id cannot enter the non-nullable Long encoder field;
      // the batch twin (q68's dropDuplicates) would instead keep one
      // NULL-keyed row — disagreement only on NULL ids, which the
      // events contract excludes
      .filter(col("event_id").isNotNull)
      .select(pmod(col("event_id"), lit(shards)).cast("int").as("shard"),
              col("event_id"), col("event_type"), col("value"))
      .as[BloomEvent]
      .groupByKey(_.shard)
      .flatMapGroupsWithState(
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(updateBloom(log2BitsPerShard))
  }

  /** Probe-then-set: true iff `key` was NOT yet in the filter (its k
    * bits are then set — membership is recorded as a side effect).
    * k positions via splitmix64 double hashing, masked directly to the
    * power-of-two bit space: h2 forced odd makes the probe stride
    * invertible mod 2^log2Bits, so the k probe positions of one key
    * are pairwise distinct (the classic Kirsch–Mitzenmacher
    * double-hashing guarantee). splitmix64 avalanches every output
    * bit, so the low bits used here are full-quality. */
  private[graft] def bloomCheckAndSet(bits: Array[Byte], mask: Int,
                                      key: Long): Boolean = {
    val h1 = mix64(key)
    val h2 = mix64(h1) | 1L
    var allSet = true
    var i = 0
    while (i < BloomK) {
      val p = ((h1 + i * h2) & mask).toInt
      if ((bits(p >>> 3) & (1 << (p & 7))) == 0) allSet = false
      i += 1
    }
    if (allSet) false
    else {
      i = 0
      while (i < BloomK) {
        val p = ((h1 + i * h2) & mask).toInt
        bits(p >>> 3) = (bits(p >>> 3) | (1 << (p & 7))).toByte
        i += 1
      }
      true
    }
  }

  /** Probe-only membership test (no set) — the companion of
    * [[bloomCheckAndSet]] for the rotating filter's PREVIOUS
    * generation, which is read-only by construction. */
  private[graft] def bloomContains(bits: Array[Byte], mask: Int,
                                   key: Long): Boolean = {
    val h1 = mix64(key)
    val h2 = mix64(h1) | 1L
    var i = 0
    while (i < BloomK) {
      val p = ((h1 + i * h2) & mask).toInt
      if ((bits(p >>> 3) & (1 << (p & 7))) == 0) return false
      i += 1
    }
    true
  }

  private def updateBloom(log2Bits: Int)(
      shard: Int, events: Iterator[BloomEvent],
      state: GroupState[BloomShard]): Iterator[DedupOut] = {
    val mask = (1 << log2Bits) - 1
    val bits = state.getOption.map(_.bits)
      .getOrElse(new Array[Byte](1 << (log2Bits - 3)))
    val out = Seq.newBuilder[DedupOut]
    events.toArray.sortBy(_.event_id).foreach { e =>
      if (bloomCheckAndSet(bits, mask, e.event_id))
        out += DedupOut(e.event_id, e.event_type, e.value)
    }
    state.update(BloomShard(bits))
    out.result().iterator
  }

  /** Bounded gate run of the Bloom dedup: the same redelivered-stream
    * setup as q68 — the output must collapse back to exactly the batch
    * events table (the q68 oracle), but the state footprint is the
    * fixed Bloom allocation instead of one entry per event. */
  def bloomDedupAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val ev = readEventsStream(spark, dir)
    runBounded(bloomDedupStream(ev.union(ev)).toDF(),
               OutputMode.Update())
      .select(col("event_id"), col("event_type"), col("value"))
  }

  // ---- time-horizon-bounded (rotating) Bloom dedup -------------------

  case class TimedBloomEvent(shard: Int, ts_us: Long, event_id: Long,
                             event_type: String, value: Double)
  case class RotState(genStart: Long, cur: Array[Byte], prev: Array[Byte])

  /** Rotating two-generation Bloom dedup — the TIME-horizon-bounded
    * production variant of [[bloomDedupStream]]: a fixed filter on an
    * unbounded-time stream eventually fills (the documented resize
    * guidance); real deployments instead dedup within a horizon
    * ("seen in the last N hours?") by rotating generations. Each shard
    * keeps a CURRENT filter for the event-time bucket
    * `floor(ts / horizon)` and the PREVIOUS bucket's filter; an event
    * is a duplicate iff its key probes positive in either, so the
    * effective lookback is [horizon, 2·horizon) — the standard
    * two-generation approximation of a sliding window. When event time
    * enters a new bucket the current filter retires to previous and a
    * fresh one starts (a jump of ≥2 buckets clears both), so state is
    * EXACTLY 2 × the allocation per shard — bounded by allocation AND
    * by time, at any corpus size and any stream age.
    *
    * Semantics notes (DEVIATIONS.md): a re-seen key refreshes into the
    * current generation (its horizon extends — dedup, not sampling); a
    * key re-arriving BEYOND the lookback is re-admitted (by design —
    * that is what a horizon means); an event arriving out of order
    * behind the current bucket is checked against the live generations
    * (rotation never runs backward). The q210 gate redelivers every
    * event at an identical timestamp, always inside the lookback, so
    * the gate oracle (the q206 plain SELECT) is exact; the
    * rotation/re-admission semantics are pinned by spec. */
  def bloomDedupWindowed(events: DataFrame, horizonHours: Int = 6,
                         shards: Int = 32,
                         log2BitsPerShard: Int = 21): Dataset[DedupOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val horizonUs = horizonHours.toLong * 3600L * 1000000L
    events
      .filter(col("event_id").isNotNull && col("ts").isNotNull)
      .select(pmod(col("event_id"), lit(shards)).cast("int").as("shard"),
              unix_micros(col("ts").cast("timestamp")).as("ts_us"),
              col("event_id"), col("event_type"), col("value"))
      .as[TimedBloomEvent]
      .groupByKey(_.shard)
      .flatMapGroupsWithState(
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(
        updateRotating(log2BitsPerShard, horizonUs))
  }

  private def updateRotating(log2Bits: Int, horizonUs: Long)(
      shard: Int, events: Iterator[TimedBloomEvent],
      state: GroupState[RotState]): Iterator[DedupOut] = {
    val mask = (1 << log2Bits) - 1
    def fresh() = new Array[Byte](1 << (log2Bits - 3))
    var st = state.getOption.getOrElse(RotState(Long.MinValue, fresh(), fresh()))
    val out = Seq.newBuilder[DedupOut]
    events.toArray.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      val bucket = Math.floorDiv(e.ts_us, horizonUs) * horizonUs
      if (st.genStart == Long.MinValue)
        st = st.copy(genStart = bucket)
      else if (bucket > st.genStart) {
        st = if (bucket - st.genStart >= 2L * horizonUs)
          RotState(bucket, fresh(), fresh()) // gap: both generations aged out
        else RotState(bucket, fresh(), st.cur)
      }
      val inPrev = bloomContains(st.prev, mask, e.event_id)
      // probe-and-set the current generation regardless: a re-seen key
      // refreshes, extending its dedup horizon from THIS sighting
      val newInCur = bloomCheckAndSet(st.cur, mask, e.event_id)
      if (newInCur && !inPrev)
        out += DedupOut(e.event_id, e.event_type, e.value)
    }
    state.update(st)
    out.result().iterator
  }

  /** Bounded gate run of the windowed Bloom dedup: the q206 redelivered
    * setup (duplicates at identical timestamps — always inside the
    * lookback), so the output must collapse to exactly the batch events
    * table while the state is 2 × the fixed allocation. The sf0.1
    * events span multiple 6-hour buckets, so the gate DOES exercise
    * rotation; re-admission beyond the lookback is spec-territory. */
  def bloomDedupWindowedAvailableNow(spark: SparkSession,
                                     dir: String): DataFrame = {
    val ev = readEventsStream(spark, dir)
    runBounded(bloomDedupWindowed(ev.union(ev)).toDF(),
               OutputMode.Update())
      .select(col("event_id"), col("event_type"), col("value"))
  }

  case class BloomDoc(shard: Int, key: Long, doc_id: Long, fp: String)
  case class DocDedupOut(doc_id: Long, fp: String)

  /** Streaming CONTENT dedup with bounded state — the ingest-pipeline
    * twin of batch fingerprint dedup (q25): "have we already ingested
    * this exact content?" answered at arrival time from the same
    * fixed-allocation sharded Bloom as [[bloomDedupStream]], keyed on
    * xxhash64 of the full 128-bit md5(normalized text) — every md5 bit
    * participates in the Bloom key, so key collisions between distinct
    * fingerprints sit at the 64-bit birthday bound (~n²/2^65), below
    * the Bloom FP rate itself — instead of the event id. NULL text
    * rows are dropped at entry (the keyed-state encoder's Long key
    * cannot represent them; the batch twin q25 instead groups all
    * NULL fingerprints as one — a disagreement only on NULL content,
    * which the ingest contract excludes). One survivor per content
    * fingerprint; state is the Bloom
    * allocation at ANY corpus size, where the exact formulation
    * (q82's incremental index, q68-style per-key state) grows with
    * distinct content.
    *
    * ORDERING CONTRACT (the [[minhashDedupStream]] one, recorded in
    * DEVIATIONS.md): rows sort by doc_id within each micro-batch, so
    * with the gate's single AvailableNow batch the survivor is the
    * GLOBAL min doc_id per fingerprint — exactly the batch q25
    * keep-min rule, which makes the gate oracle-exact (Bloom FPs are
    * ≈0 at gate scale, same math as q206). Cross-batch arrival keeps
    * "one survivor per content" but the survivor is the first to
    * ARRIVE — what a production ingest filter actually wants. */
  def bloomDocDedupStream(docs: DataFrame, shards: Int = 32,
                          log2BitsPerShard: Int = 21)
      : Dataset[DocDedupOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col("text").isNotNull)
      .withColumn("fp",
        md5(graft.ext.TextAnalysis.normalized(col("text"))))
      .withColumn("key", xxhash64(col("fp")))
      .select(pmod(col("key"), lit(shards)).cast("int").as("shard"),
              col("key"), col("doc_id"), col("fp"))
      .as[BloomDoc]
      .groupByKey(_.shard)
      .flatMapGroupsWithState(
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(updateDocBloom(log2BitsPerShard))
  }

  private def updateDocBloom(log2Bits: Int)(
      shard: Int, docs: Iterator[BloomDoc],
      state: GroupState[BloomShard]): Iterator[DocDedupOut] = {
    val mask = (1 << log2Bits) - 1
    val bits = state.getOption.map(_.bits)
      .getOrElse(new Array[Byte](1 << (log2Bits - 3)))
    val out = Seq.newBuilder[DocDedupOut]
    docs.toArray.sortBy(_.doc_id).foreach { d =>
      if (bloomCheckAndSet(bits, mask, d.key))
        out += DocDedupOut(d.doc_id, d.fp)
    }
    state.update(BloomShard(bits))
    out.result().iterator
  }

  /** Bounded gate run: the static documents dir streamed through the
    * content Bloom — output must equal the batch keep-min-per-
    * fingerprint survivor set (the q25 grouping, one row per group). */
  def bloomDocDedupAvailableNow(spark: SparkSession,
                                dir: String): DataFrame =
    runBounded(bloomDocDedupStream(readDocumentsStream(spark, dir)).toDF(),
               OutputMode.Update())
      .select(col("doc_id"), col("fp"))

  // ---- Bloom sizing + multi-batch certification ----------------------

  /** Bloom allocation from an FP budget: the smallest per-shard
    * power-of-two bit count giving at least `bitsPerKey` bits per
    * expected distinct key across `shards` shards (production sizing;
    * with the kernel's k=4 probes, 10 bits/key puts the per-check FP
    * at (1−e^(−0.4))^4 ≈ 1.2%, and the power-of-two round-up only
    * lowers it). Clamped to [10, 30] — 2^30 bits = 128 MiB per shard
    * is past any sane single-filter deployment; shard count is the
    * scale-out axis beyond that. */
  def log2BitsPerShardFor(expectedKeys: Long, bitsPerKey: Int = 10,
                          shards: Int = 32): Int = {
    require(expectedKeys > 0 && bitsPerKey > 0 && shards > 0,
      s"positive sizing inputs required: keys=$expectedKeys " +
        s"bits/key=$bitsPerKey shards=$shards")
    val perShard =
      math.max(1L, math.ceil(expectedKeys.toDouble * bitsPerKey / shards).toLong)
    val log2 = 64 - java.lang.Long.numberOfLeadingZeros(perShard - 1L)
    math.min(30, math.max(10, log2.toInt))
  }

  /** Stage `table` from `dir` for cross-batch redelivery: the selected
    * columns are written as `nFiles` part files TWICE (copy A, then
    * copy B with later modification times), so a maxFilesPerTrigger=1
    * stream over the staging dir runs 2×nFiles micro-batches in which
    * every row is redelivered in a DIFFERENT batch than its first
    * arrival — the at-least-once delivery shape a single AvailableNow
    * batch cannot exercise. Staged once per (dir, table, COLUMN SET,
    * nFiles); the marker file keys idempotence. The column set MUST be
    * part of the key: gates staging the same table select different
    * columns (q209/q215 take (doc_id, text); q225 also needs source),
    * and an under-keyed dir is first-stager-wins — a later gate then
    * reads its declared-but-absent columns as NULL and silently loses
    * rows (caught as a 616-of-1210 q225 row loss at sf0.1 when a
    * (doc_id, text) stager happened to run first). */
  private def stageRedelivered(spark: SparkSession, dir: String,
                               table: String, cols: Seq[String],
                               nFiles: Int): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir/$table/${cols.mkString(",")}/$nFiles"
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) "/dev/shm"
               else System.getProperty("java.io.tmpdir")
    val out = s"$base/graft_stage_${table}_$key"
    val marker = new java.io.File(s"$out/_staged")
    if (!marker.isFile) {
      val df = spark.read.parquet(s"$dir/$table.parquet")
        .select(cols.map(col): _*).repartition(nFiles)
      df.write.mode("overwrite").parquet(out)
      df.write.mode("append").parquet(out)
      java.nio.file.Files.write(marker.toPath, Array.empty[Byte])
    }
    out
  }

  /** Fail loudly if the redelivered run silently collapsed into fewer
    * micro-batches than files — the certification is ABOUT cross-batch
    * state continuity, so a one-batch run proving nothing must not
    * pass as green. */
  private def requireMultiBatch(nFiles: Int): Unit = {
    val batches = lastRunBatches
    require(batches >= 2L * nFiles,
      s"multi-batch certification degenerated to $batches micro-batches " +
        s"(need ≥ ${2 * nFiles}) — maxFilesPerTrigger not honored?")
  }

  /** MULTI-BATCH certification of [[bloomDedupStream]] (q206's
    * production delivery shape): the events table redelivered across
    * 2×nFiles micro-batches via maxFilesPerTrigger=1, so every event's
    * duplicate arrives in a LATER batch than its original. Green means
    * (a) the Bloom state persists across batches — later-batch
    * duplicates are dropped, (b) every distinct event survives exactly
    * once, against the same order-insensitive oracle as q206 (a plain
    * SELECT of events): the survivor SET is delivery-order-invariant
    * because every copy of an event carries the same attributes. This
    * replaces the single-batch ordering contract with a cross-batch
    * certification for the event-keyed gate. */
  def bloomDedupMultiBatch(spark: SparkSession, dir: String,
                           nFiles: Int = 2): DataFrame = {
    val src = stageRedelivered(spark, dir, "events",
      Seq("event_id", "event_type", "value"), nFiles)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType))))
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    // statePartitions=1: the multi-batch run pays per-(batch × store)
    // lifecycle cost 2×nFiles times over and its Bloom state is a
    // handful of small blobs, so one store wins here (cold A/B
    // probes: 4.21→3.92 s)
    // where the single-batch gates' bigger-state default of 4 wins there
    val out = runBounded(bloomDedupStream(stream).toDF(),
                         OutputMode.Update(), statePartitions = 1,
                         rocksDb = true)
      .select(col("event_id"), col("event_type"), col("value"))
    requireMultiBatch(nFiles)
    out
  }

  /** MULTI-BATCH certification of [[bloomDocDedupStream]] (q207's
    * production delivery shape): documents redelivered across 2×nFiles
    * micro-batches. The surviving doc_id per fingerprint IS
    * arrival-order-dependent across batches (first to arrive — the
    * ingest-filter semantics), so the certified output is the survivor
    * fingerprint SET, which delivery order cannot change: exactly one
    * survivor per distinct content fingerprint (cross-batch duplicates
    * dropped), none missing. Oracle: SELECT DISTINCT md5(normalized)
    * over the batch table. */
  def bloomDocDedupMultiBatch(spark: SparkSession, dir: String,
                              nFiles: Int = 2): DataFrame = {
    val src = stageRedelivered(spark, dir, "documents",
      Seq("doc_id", "text"), nFiles)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType))))
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val out = runBounded(bloomDocDedupStream(stream).toDF(),
                         OutputMode.Update(), statePartitions = 1)
      .select(col("fp"))
    requireMultiBatch(nFiles)
    out
  }

  case class BloomPara(shard: Int, key: Long, doc_id: Long, pos: Int,
                       pfp: String)
  case class ParaDedupOut(pfp: String)

  /** Streaming PARAGRAPH dedup with bounded state — the q211 dedup
    * unit (CCNet's, Wenzek et al. 2020 §3) pushed to ingest time with
    * the q206/q207 Bloom kernel: documents are segmented into the same
    * fixed-length pseudo-paragraphs as the batch operator (shared
    * [[graft.ext.Dedup.paragraphs]] — the unit cannot drift), each
    * paragraph's md5 is keyed through xxhash64 into the sharded
    * fixed-allocation Bloom, and only first-seen paragraphs survive.
    * State is the Bloom allocation at ANY corpus size — the boilerplate
    * table a 100 TB crawl carries (the q211 skew case) costs no state
    * growth at all, because a repeated paragraph never sets new bits.
    *
    * Output is the surviving paragraph FINGERPRINT (one per distinct
    * paragraph). Which document contributed the survivor is
    * arrival-order-dependent across batches (first to arrive — ingest
    * semantics); the fingerprint SET is delivery-order-invariant,
    * which is what the multi-batch gate certifies. Rows sort by
    * (doc_id, pos) within each micro-batch, so a single AvailableNow
    * batch reproduces q211's global first-occurrence survivor
    * (same ordering contract as [[bloomDocDedupStream]]). */
  def bloomParaDedupStream(docs: DataFrame, paraLen: Int = 8,
                           shards: Int = 32, log2BitsPerShard: Int = 21)
      : Dataset[ParaDedupOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.ext.Dedup.paragraphs(docs.filter(col("text").isNotNull), paraLen)
      .withColumn("pfp", md5(col("para")))
      .withColumn("key", xxhash64(col("pfp")))
      .select(pmod(col("key"), lit(shards)).cast("int").as("shard"),
              col("key"), col("doc_id"), col("pos").cast("int").as("pos"),
              col("pfp"))
      .as[BloomPara]
      .groupByKey(_.shard)
      .flatMapGroupsWithState(
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(updateParaBloom(log2BitsPerShard))
  }

  private def updateParaBloom(log2Bits: Int)(
      shard: Int, paras: Iterator[BloomPara],
      state: GroupState[BloomShard]): Iterator[ParaDedupOut] = {
    val mask = (1 << log2Bits) - 1
    val bits = state.getOption.map(_.bits)
      .getOrElse(new Array[Byte](1 << (log2Bits - 3)))
    val out = Seq.newBuilder[ParaDedupOut]
    paras.toArray.sortBy(p => (p.doc_id, p.pos)).foreach { p =>
      if (bloomCheckAndSet(bits, mask, p.key))
        out += ParaDedupOut(p.pfp)
    }
    state.update(BloomShard(bits))
    out.result().iterator
  }

  /** MULTI-BATCH certification of [[bloomParaDedupStream]] (q215):
    * documents redelivered across 2×nFiles micro-batches via
    * maxFilesPerTrigger=1 — every paragraph's duplicate (both the
    * cross-document boilerplate the operator exists for AND the whole
    * redelivered copy) arrives in a LATER batch than its original, so
    * green means the Bloom state persists across batches and exactly
    * one survivor per distinct paragraph emerges. Oracle: SELECT
    * DISTINCT md5(paragraph) over the batch segmentation. Shares the
    * q209 staging (same table, same columns). */
  def paragraphDedupMultiBatch(spark: SparkSession, dir: String,
                               nFiles: Int = 2): DataFrame = {
    val src = stageRedelivered(spark, dir, "documents",
      Seq("doc_id", "text"), nFiles)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType))))
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val out = runBounded(bloomParaDedupStream(stream).toDF(),
                         OutputMode.Update(), statePartitions = 1)
      .select(col("pfp"))
    requireMultiBatch(nFiles)
    out
  }

  /** Static events dir sessionized as a stream; cumulative counts are
    * monotone, so max-per-user over all updates equals the batch
    * sessionization (q33's oracle). */
  def sessionCountsAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val updates = runBounded(
      sessionCounts(readEventsStream(spark, dir)).toDF(),
      OutputMode.Update())
    updates.groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
           max(col("n_sessions")).as("n_sessions"))
  }

  // ---- streaming minhash-LSH near-dup (dedup-against-index) ---------

  case class BandDoc(band: Int, s0: Long, s1: Long, s2: Long, s3: Long,
                     doc_id: Long)
  case class DupHit(band: Int, a_id: Long, b_id: Long)
  case class BucketMin(minId: Long)

  /** File-source stream over a documents parquet directory (the
    * document-ingest firehose; schema per TESTDATA.md). */
  def readDocumentsStream(spark: SparkSession, dir: String): DataFrame = {
    val (path, glob) = streamSource(dir, "documents")
    spark.readStream.schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType))))
      .option("pathGlobFilter", glob)
      .parquet(path)
  }

  /** STREAMING minhash-LSH near-duplicate detection — dedup-against-
    * index, the shape a production ingest pipeline actually runs (batch
    * LSH re-pairs the whole corpus; an ingest stream must answer "is
    * this NEW doc a near-dup of anything already indexed?" at arrival
    * time). The stateless minhash front end (normalize → 3-gram md5
    * shingles → 32-perm signature → 8×4 banding) is literally the batch
    * q26 operator's code (`Dedup.shingledOf`/`signatures`/
    * `bandStructs`); the index is keyed state per (band, band-key):
    * ONE long (the smallest doc_id seen) — bounded regardless of corpus
    * size, the same growth law as the batch LSH bucket table. A doc
    * emits one [[DupHit]] per band whose bucket already holds an
    * earlier doc.
    *
    * ORDERING CONTRACT (same as [[sessionCounts]], recorded in
    * DEVIATIONS.md): rows are sorted by doc_id within each micro-batch;
    * with id-ordered delivery (the gate's single AvailableNow batch)
    * every hit reports the bucket's GLOBAL minimum, which is what the
    * batch oracle computes. Out-of-order cross-batch arrival keeps
    * correctness ("a_id is SOME earlier bucket member") but can report
    * a non-minimal earlier doc. */
  def minhashDedupStream(docs: DataFrame): Dataset[DupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.ext.Dedup.signatures(graft.ext.Dedup.shingledOf(docs))
      .select(col("doc_id"),
              explode(graft.ext.Dedup.bandStructs(col("sig"))).as("bk"))
      .select(col("bk.band").as("band"),
              col("bk.s0").as("s0"), col("bk.s1").as("s1"),
              col("bk.s2").as("s2"), col("bk.s3").as("s3"),
              col("doc_id"))
      .as[BandDoc]
      .groupByKey(d => (d.band, d.s0, d.s1, d.s2, d.s3))
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(updateBucket)
  }

  private def updateBucket(
      key: (Int, Long, Long, Long, Long), docs: Iterator[BandDoc],
      state: GroupState[BucketMin]): Iterator[DupHit] = {
    val sorted = docs.toArray.sortBy(_.doc_id)
    if (sorted.isEmpty) return Iterator.empty
    var minId = state.getOption.map(_.minId).getOrElse(Long.MaxValue)
    val out = Seq.newBuilder[DupHit]
    sorted.foreach { d =>
      if (d.doc_id > minId) out += DupHit(key._1, minId, d.doc_id)
      else minId = d.doc_id
    }
    state.update(BucketMin(minId))
    out.result().iterator
  }

  /** Static documents dir streamed through [[minhashDedupStream]]; with
    * the single-batch id-ordered delivery the result equals the batch
    * bucket-min join ([[graft.ext.Dedup.streamingLshDedupOracleSql]]). */
  def minhashDedupAvailableNow(spark: SparkSession, dir: String): DataFrame =
    runBounded(minhashDedupStream(readDocumentsStream(spark, dir)).toDF(),
               OutputMode.Update())
      .select(col("band"), col("a_id"), col("b_id"))

  /** LAMBDA HANDOFF — certify that a STREAMING partial aggregate is
    * mergeable with a BATCH partial of the same view: the standing set
    * (event_id % mod ≠ 0) aggregates through the batch path, the
    * "newly-arriving" delta (event_id % mod = 0) aggregates through a
    * bounded STREAM run (Complete mode), and the two partials merge via
    * [[graft.ops.Incremental.mergeHourly]]. The oracle recomputes the
    * view from the full table — a hash match proves the batch and
    * streaming halves of the engine produce interchangeable partials
    * (the property the Lambda architecture assumes but rarely checks).
    * DECIMAL partial sums make partial+partial bit-exact. */
  def lambdaHourlyAvailableNow(spark: SparkSession, dir: String,
                               mod: Int = 10): DataFrame = {
    val standing = graft.Tables.load(spark, dir, "events")
      .filter(col("event_id") % mod =!= 0)
    val deltaAgg = readEventsStream(spark, dir)
      .filter(col("event_id") % mod === 0)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).as("sv"))
    val deltaPartial = runBounded(deltaAgg, OutputMode.Complete())
      // NTZ at the merge edge so both partials key identically
      .withColumn("h", col("h").cast("timestamp_ntz"))
    graft.ops.Incremental
      .mergeHourly(graft.ops.Incremental.hourlyPartial(standing),
                   deltaPartial)
      .select(col("h"), col("event_type"), col("n"),
              round(col("sv").cast("double"), 2).as("sum_value"))
  }

  /** STREAMING histogram-quantile sketch — the quantiles member of the
    * streaming sketch family (next to the q128 HLL): bin bounds come
    * from the batch side (production: yesterday's stats or a fixed
    * domain — a sketch needs a pre-agreed domain to be mergeable across
    * days), the STREAM builds the (type, bin) registers with one
    * Complete-mode aggregation. Register adds are commutative, so any
    * arrival order yields the batch-built sketch exactly — certified by
    * the q155-shape oracle over the batch table. State is bounded at
    * types × bins forever. */
  def histogramSketchAvailableNow(spark: SparkSession, dir: String,
                                  bins: Int = 1000): DataFrame = {
    val bounds = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"),
              round(col("value") * 100).cast("long").as("c"))
      .groupBy(col("event_type"))
      .agg(min(col("c")).as("minc"), max(col("c")).as("maxc"))
      .withColumn("w", (col("maxc") - col("minc") + lit(bins.toLong))
                         .divide(lit(bins.toLong)).cast("long"))
      .select(col("event_type"), col("minc"), col("w"))
    val registers = readEventsStream(spark, dir)
      .select(col("event_type"),
              round(col("value") * 100).cast("long").as("c"))
      .join(broadcast(bounds), Seq("event_type"))
      .withColumn("bin", ((col("c") - col("minc")) / col("w"))
                           .cast("long"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("bc"))
    runBounded(registers, OutputMode.Complete())
  }

  // ---- streaming HLL distinct-count sketch --------------------------

  /** STREAMING HyperLogLog distinct-users-per-event-type — the
    * dashboard counter that makes exact streaming `count(DISTINCT)`
    * unnecessary (Spark rejects it in streaming for good reason:
    * unbounded state). The stateless register projection is the batch
    * q109 code (`Sketches.registerRhoRows`); the STREAM holds one
    * `max(rho)` aggregation keyed on (type, register) — state is
    * bounded at m=256 longs per event type FOREVER, regardless of
    * stream volume, and register maxima are arrival-order-invariant,
    * so any delivery order yields the batch answer (no ordering
    * contract needed, unlike q36/q121). The final fold of ≤256
    * registers to the estimate is the consumer's bounded per-refresh
    * step, computed here on the bounded run's output. */
  def hllDistinctAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val registers = graft.ext.Sketches
      .registerRhoRows(readEventsStream(spark, dir),
                       col("event_type"), col("user_id"))
      .groupBy(col("g"), col("idx"))
      .agg(max(col("rho")).as("r"))
    graft.ext.Sketches.foldRegisters(
        runBounded(registers, OutputMode.Complete()))
      .withColumnRenamed("g", "event_type")
      .select(col("event_type"), col("n_set"), col("n_zero_regs"),
              col("denom_scaled"), col("est"), col("est_corrected"))
  }

  /** STREAMING count-min heavy hitters — the frequency member of the
    * streaming sketch family, completing the trio with the q128 HLL
    * (distincts) and the q159 histogram (quantiles): the STREAM folds
    * the token firehose into the fixed d×w = 4×512 counter table with
    * one Complete-mode aggregation (state bounded at 2048 cells
    * FOREVER), and counter adds commute, so any arrival order builds
    * the batch table bit-for-bit — certified by reusing the batch q110
    * oracle verbatim. The point-query set (true top-k) comes from the
    * BATCH side, like q159's bin bounds: a production dashboard queries
    * the sketch with keys it already knows, it does not enumerate the
    * stream. The final min-of-d-cells fold is the consumer's bounded
    * per-refresh step over the bounded run's output. */
  def cmsTopTokensAvailableNow(spark: SparkSession, dir: String,
                               k: Int = 20): DataFrame = {
    val counters = graft.ext.Sketches
      .cmsCounters(graft.ext.Sketches.tokensOf(
        readDocumentsStream(spark, dir)))
    graft.ext.Sketches.cmsEstimates(
      runBounded(counters, OutputMode.Complete()),
      graft.ext.Sketches.cmsTopTruth(
        graft.ext.Sketches.corpusTokens(spark, dir), k))
  }

  /** STREAMING INGEST PIPELINE — the cleaning steps a crawl actually
    * runs AT ingest time, composed into ONE streaming query: Gopher
    * quality filter (stateless flags, q204's rules at stopMin=1 so the
    * synthetic corpus yields survivors) → deterministic mixture sample
    * (the q41 md5 keep rule, shared via `Sampling.mixtureKeep` so the
    * policy cannot drift from the batch gates) → content dedup against
    * the bounded Bloom state (the certified q207 kernel). Everything
    * upstream of the dedup is a pure row-local expression, so the only
    * state is the Bloom allocation — the whole pipeline admits a doc
    * within one micro-batch of its arrival at O(8.4 MB) memory forever.
    *
    * The gate's single AvailableNow batch delivers id-ordered, so the
    * survivor per fingerprint is the batch keep-min rule and the oracle
    * replays the full composition (rules → sample → min-per-fp). */
  def ingestPipelineAvailableNow(spark: SparkSession,
                                 dir: String): DataFrame = {
    val survivors = graft.ext.TextAnalysis
      .withGopherFlags(readDocumentsStream(spark, dir), stopMin = 1)
      .filter(col("keep") === 1)
      .filter(graft.ext.Sampling.mixtureKeep)
      .select(col("doc_id"), col("text"))
    runBounded(bloomDocDedupStream(survivors).toDF(), OutputMode.Update())
      .select(col("doc_id"), col("fp"))
  }

  /** STREAMING hourly anomaly detection — the q88 alerting rule run
    * at ingest time: the hourly rollup builds FROM the stream (one
    * Complete-mode windowed count, the q35 state shape — bounded at
    * types × hours), and the per-type stats + z-filter are the shared
    * batch tail ([[graft.ext.Events.anomaliesOf]] — the rule cannot
    * drift between engines). Count adds commute, so any arrival order
    * builds the batch hourly table exactly and the unchanged q88
    * oracle certifies the whole chain. Production shape: the stats
    * side comes from yesterday's batch profile and the z-filter runs
    * per micro-batch; the gate computes stats from the same bounded
    * run so the oracle is self-contained. */
  def hourlyAnomaliesAvailableNow(spark: SparkSession, dir: String,
                                  sigma: Double = 2.0): DataFrame = {
    val hourlyStream = readEventsStream(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .select(col("event_type"),
              col("window.start").cast("timestamp_ntz").as("h"),
              col("c"))
    val hourly = runBounded(hourlyStream, OutputMode.Complete())
    // anomaliesOf self-joins its input (stats side vs row side); the
    // memory-sink view cannot deduplicate conflicting attribute refs
    // across a self-join, so rebase the bounded output on its RDD
    // (tiny: types × hours rows)
    graft.ext.Events.anomaliesOf(
      spark.createDataFrame(hourly.rdd, hourly.schema), sigma)
  }

  /** Multi-batch certification of the ingest pipeline — the q208/q209
    * redelivery harness applied to the COMPOSITION: every document is
    * delivered twice across 2×nFiles micro-batches
    * (maxFilesPerTrigger=1), and the surviving fingerprint SET must be
    * delivery-order-invariant. The stateless stages (quality, sample)
    * are row-local — redelivered copies make identical decisions — and
    * the Bloom guarantees no fingerprint is admitted twice across
    * batches, so the certified columns are exactly the distinct
    * fingerprints of the filtered sample (which doc carried each one
    * is first-arrival, excluded, as in q209). */
  def ingestPipelineMultiBatch(spark: SparkSession, dir: String,
                               nFiles: Int = 2): DataFrame = {
    val src = stageRedelivered(spark, dir, "documents",
      Seq("doc_id", "text", "source"), nFiles)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("source", StringType))))
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val survivors = graft.ext.TextAnalysis
      .withGopherFlags(stream, stopMin = 1)
      .filter(col("keep") === 1)
      .filter(graft.ext.Sampling.mixtureKeep)
      .select(col("doc_id"), col("text"))
    val out = runBounded(bloomDocDedupStream(survivors).toDF(),
                         OutputMode.Update(), statePartitions = 1)
      .select(col("fp"))
    requireMultiBatch(nFiles)
    out
  }

  /** Oracle for [[ingestPipelineMultiBatch]]: the distinct content
    * fingerprints of the quality-passing mixture sample —
    * delivery-order-invariant by construction. */
  def ingestPipelineMultiBatchOracleSql(): String =
    s"""WITH g AS (
       |${graft.ext.TextAnalysis.gopherRulesOracleSql(stopMin = 1)})
       |SELECT DISTINCT
       |  md5(trim(regexp_replace(regexp_replace(lower(d.text),
       |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
       |FROM documents d JOIN g ON g.doc_id = d.doc_id
       |WHERE g.keep = 1
       |  AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) <
       |      CASE WHEN length(d.source) <= 4 THEN 'c' ELSE '4' END""".stripMargin

  /** DuckDB oracle for [[ingestPipelineAvailableNow]]: the gopher rule
    * CTE (stopMin=1) → the md5 mixture predicate → keep-min per
    * content fingerprint. */
  def ingestPipelineOracleSql(): String =
    s"""WITH g AS (
       |${graft.ext.TextAnalysis.gopherRulesOracleSql(stopMin = 1)}),
       |s AS (
       |  SELECT d.doc_id, d.text
       |  FROM documents d JOIN g ON g.doc_id = d.doc_id
       |  WHERE g.keep = 1
       |    AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) <
       |        CASE WHEN length(d.source) <= 4 THEN 'c' ELSE '4' END),
       |f AS (
       |  SELECT doc_id,
       |    md5(trim(regexp_replace(regexp_replace(lower(text),
       |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
       |  FROM s)
       |SELECT doc_id, fp FROM (
       |  SELECT doc_id, fp,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
       |  FROM f) t
       |WHERE rn = 1""".stripMargin
}
