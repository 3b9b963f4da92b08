package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.sql.Timestamp

/** Structured Streaming semantics: watermark finalization + late-data
  * drop, keyed session state across out-of-order micro-batches, dedup
  * within watermark, and the bounded AvailableNow runs equalling the
  * batch twins on real testdata. */
class StreamsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  case class RawEvent(event_id: Long, ts: Timestamp, user_id: Long,
                      event_type: String, value: Double, props: String)

  private def toEventsDF(stream: MemoryStream[RawEvent]) =
    stream.toDF().withColumn("ts", col("ts").cast("timestamp"))

  test("hourlyAgg append mode: windows finalize at watermark; late data dropped") {
    val input = MemoryStream[RawEvent]
    val agg = Streams.hourlyAgg(toEventsDF(input), watermark = "30 minutes")
    val q = agg.writeStream.format("memory").queryName("hourly_test")
      .outputMode("append").start()
    try {
      // two events in hour 10, one in hour 11
      input.addData(
        RawEvent(1, ts("2026-01-01 10:05:00"), 1, "click", 1.0, ""),
        RawEvent(2, ts("2026-01-01 10:50:00"), 1, "click", 2.0, ""))
      q.processAllAvailable()
      // advance watermark past hour 10's end (11:00 + 30m)
      input.addData(RawEvent(3, ts("2026-01-01 11:45:00"), 1, "click", 4.0, ""))
      q.processAllAvailable()
      input.addData(RawEvent(4, ts("2026-01-01 12:00:00"), 1, "click", 8.0, ""))
      q.processAllAvailable()
      // hour-10 window must be emitted, finalized with both events
      val out = spark.table("hourly_test")
        .select(col("h").cast("timestamp_ntz"), col("n"), col("sum_value"))
        .as[(java.time.LocalDateTime, Long, Double)]
        .collect().map { case (h, n, s) => h.toString -> ((n, s)) }.toMap
      assert(out.contains("2026-01-01T10:00"))
      assert(out("2026-01-01T10:00") == ((2L, 3.0)))
      // a late event for hour 10, behind the watermark → dropped
      input.addData(RawEvent(5, ts("2026-01-01 10:10:00"), 1, "click", 100.0, ""))
      q.processAllAvailable()
      val out2 = spark.table("hourly_test").filter(col("n") === 3).count()
      assert(out2 == 0, "late event behind watermark must not re-open the window")
    } finally q.stop()
  }

  test("sessionCounts: state persists across batches; 30-min gap splits") {
    val input = MemoryStream[RawEvent]
    val counts = Streams.sessionCounts(toEventsDF(input))
    val q = counts.toDF().writeStream.format("memory").queryName("sess_test")
      .outputMode("update").start()
    try {
      // batch 1, out of order within the batch: one session (gap 10 min)
      input.addData(
        RawEvent(2, ts("2026-01-01 10:10:00"), 7, "a", 0, ""),
        RawEvent(1, ts("2026-01-01 10:00:00"), 7, "a", 0, ""))
      q.processAllAvailable()
      // batch 2: 10:20 continues session 1; 11:30 starts session 2
      input.addData(
        RawEvent(3, ts("2026-01-01 10:20:00"), 7, "a", 0, ""),
        RawEvent(4, ts("2026-01-01 11:30:00"), 7, "a", 0, ""))
      q.processAllAvailable()
      val last = spark.table("sess_test").groupBy("user_id")
        .agg(max("n_events").as("e"), max("n_sessions").as("s"))
        .as[(Long, Long, Long)].collect().head
      assert(last == ((7L, 4L, 2L)))
    } finally q.stop()
  }

  test("dedupStream drops re-delivered event_ids within the watermark") {
    val input = MemoryStream[RawEvent]
    val dd = Streams.dedupStream(toEventsDF(input), watermark = "1 hour")
    val q = dd.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      input.addData(RawEvent(1, ts("2026-01-01 10:00:00"), 1, "a", 0, ""))
      q.processAllAvailable()
      // re-delivery of id 1 plus a new id
      input.addData(
        RawEvent(1, ts("2026-01-01 10:00:00"), 1, "a", 0, ""),
        RawEvent(2, ts("2026-01-01 10:01:00"), 1, "a", 0, ""))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 2)
    } finally q.stop()
  }

  test("bounded AvailableNow runs equal the batch twins on sf0.001") {
    val streamHourly = Streams.hourlyAggAvailableNow(spark, sfDir)
      .select("h", "event_type", "n", "sum_value")
    val batchHourly = graft.ext.Events.hourlyAgg(spark, sfDir)
    assert(streamHourly.exceptAll(batchHourly).isEmpty &&
           batchHourly.exceptAll(streamHourly).isEmpty)

    val streamSess = Streams.sessionCountsAvailableNow(spark, sfDir)
    val batchSess = graft.ext.Events.sessionize(spark, sfDir)
    assert(streamSess.exceptAll(batchSess).isEmpty &&
           batchSess.exceptAll(streamSess).isEmpty)
  }

  test("bounded stream-stream funnel join equals the batch join") {
    import org.apache.spark.sql.functions._
    val streamed = Streams.funnelJoinAvailableNow(spark, sfDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
              col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"))
    val batch = clicks.join(purchases,
        col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_id"),
              col("purchase_id"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
           batch.exceptAll(streamed).isEmpty)
  }

  test("bounded dedup of a redelivered stream equals the batch table") {
    import org.apache.spark.sql.functions._
    val streamed = Streams.dedupAvailableNow(spark, sfDir)
    val batch = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    assert(streamed.count() == batch.count(),
      "every duplicate from the redelivered union must collapse")
    assert(streamed.exceptAll(batch).isEmpty &&
           batch.exceptAll(streamed).isEmpty)
  }

  test("bloom dedup: redelivered stream collapses to the batch table") {
    import org.apache.spark.sql.functions._
    val streamed = Streams.bloomDedupAvailableNow(spark, sfDir)
    val batch = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    // exact at this scale: the default Bloom sizing (2^26 bits, k=4)
    // puts the expected false-drop count at ~1e-4 even for sf0.1
    assert(streamed.count() == batch.count(),
      "bloom dedup must collapse every redelivery at gate scale")
    assert(streamed.exceptAll(batch).isEmpty &&
           batch.exceptAll(streamed).isEmpty)
  }

  test("bloom doc dedup: one survivor per content fingerprint, keep-min") {
    import org.apache.spark.sql.functions._
    val streamed = Streams.bloomDocDedupAvailableNow(spark, sfDir)
    val batch = graft.Tables.load(spark, sfDir, "documents")
      .withColumn("fp",
        md5(graft.ext.TextAnalysis.normalized(col("text"))))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("fp"))
    assert(streamed.count() == batch.count(),
      "survivor count must equal the distinct-fingerprint count")
    assert(streamed.exceptAll(batch).isEmpty &&
           batch.exceptAll(streamed).isEmpty,
      "single-batch id-ordered delivery must keep the min doc per fp")
  }

  test("bloom dedup state is the fixed allocation, not per-key") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // an UNDERSIZED Bloom (2^10 bits/shard, 1 shard) over many distinct
    // keys must show the documented failure mode: false POSITIVES drop
    // genuinely-new keys (output < distinct), never false negatives
    // (no duplicate survives). This is the deliberate trade the fixed
    // state buys; the default sizing makes it negligible at gate scale.
    val n = 4000L
    val ev = spark.range(n)
      .select(col("id").as("event_id"), lit("e").as("event_type"),
              lit(1.0).as("value"))
    val dir = java.nio.file.Files.createTempDirectory("bloomst").toString
    ev.union(ev).write.mode("overwrite")
      .parquet(s"$dir/events_small.parquet")
    val stream = spark.readStream
      .schema(ev.schema)
      .parquet(s"$dir/events_small.parquet")
    val out = Streams.runBounded(
      Streams.bloomDedupStream(stream, shards = 1,
        log2BitsPerShard = 10).toDF(), OutputMode.Update())
    val ids = out.select("event_id").as[Long].collect()
    assert(ids.nonEmpty && ids.length == ids.distinct.length,
      "false negatives are impossible: no duplicate may survive")
    assert(ids.length < n,
      s"a 1024-bit bloom over $n keys must show false drops, " +
        s"got ${ids.length}")
    // and at the DEFAULT sizing the same corpus is exact
    val exact = Streams.runBounded(
      Streams.bloomDedupStream(stream).toDF(), OutputMode.Update())
    assert(exact.count() == n, "default sizing must be exact here")
  }

  test("RocksDB and HDFSBacked state stores produce identical results") {
    // Bounded certification runs default to the in-heap provider
    // (per-(batch × partition) RocksDB lifecycle is pure fixed cost
    // against kilobyte state), with RocksDB — the production backend
    // for 100 TB keyed state — pinned on q208. A stateful chain (the
    // q96 keyed dedup state feeding windowed agg state) must be
    // backend-invariant, and the session conf must be restored after.
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(confKey)
    def q96(rocksDb: Boolean) = Streams.runBounded(
        Streams.hourlyRollup(Streams.dedupStream(
          Streams.redelivered(spark, sfDir))),
        OutputMode.Append(), noDataBatch = true, rocksDb = rocksDb)
      .collect()
    val viaRocks = q96(rocksDb = true)
    val viaHdfs = q96(rocksDb = false)
    assert(viaRocks.nonEmpty)
    assert(viaRocks.toSet == viaHdfs.toSet,
      "state-store backend must not change streaming results")
    assert(spark.conf.getOption(confKey) == before,
      "provider conf must be restored after the bounded run")
  }

  test("shared events-family run: funnel branch identical to the solo " +
       "query; aggregation branches follow the pooled watermark") {
    import org.apache.spark.sql.functions._
    // the sharing contract: the pooled global watermark IS the
    // funnel's min(max click, max purchase) − 2h, so q116's emitted
    // set is unchanged, and q96/q106 equal their solo runs restricted
    // to the pooled cutoff (same comparators as their oracles)
    val soloF = Streams.funnelLeftOuterAvailableNow(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val sharedF = Streams.funnelLeftOuterSharedGate(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(sharedF == soloF,
      "pooling must not move the funnel's watermark")
    val ev = graft.Tables.load(spark, sfDir, "events")
    val pooledWm = ev
      .agg(least(
        max(when(col("event_type") === "click", col("ts"))),
        max(when(col("event_type") === "purchase", col("ts")))))
      .head.getAs[java.time.LocalDateTime](0).minusHours(2)
    val soloH = Streams.dedupHourlyAvailableNow(spark, sfDir)
      .filter(col("h") + expr("INTERVAL 1 HOUR") <= lit(pooledWm))
      .collect().map(_.toString).sorted.toSeq
    val sharedH = Streams.dedupHourlySharedGate(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(sharedH == soloH)
    assert(sharedH.nonEmpty)
    val soloS = Streams.sessionWindowAvailableNow(spark, sfDir)
      .filter(col("s_end") < lit(pooledWm))
      .collect().map(_.toString).sorted.toSeq
    val sharedS = Streams.sessionWindowSharedGate(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(sharedS == soloS)
    assert(sharedS.nonEmpty)
  }

  test("chained dedup→hourly agg equals the batch rollup up to the watermark") {
    import org.apache.spark.sql.functions._
    val streamed = Streams.dedupHourlyAvailableNow(spark, sfDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
    val cutoff = ev.agg(max(col("ts"))).head.getAs[java.time.LocalDateTime](0)
      .minusHours(2)
    val batch = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .filter(col("h") + expr("INTERVAL 1 HOUR") <= lit(cutoff))
    assert(streamed.count() > 0, "append windows must have emitted")
    assert(streamed.exceptAll(batch).isEmpty &&
           batch.exceptAll(streamed).isEmpty)
  }

  test("bounded stream-static enrichment equals the batch join") {
    import org.apache.spark.sql.functions._
    val streamed = Streams.enrichedSegmentAvailableNow(spark, sfDir)
    val ev = graft.Tables.load(spark, sfDir, "events")
    val cust = graft.Tables.load(spark, sfDir, "customer")
    val batch = ev
      .join(cust.select(col("c_custkey"), col("c_mktsegment")),
            col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("value")), 2).as("sum_value"))
    assert(streamed.exceptAll(batch).isEmpty &&
           batch.exceptAll(streamed).isEmpty)
  }

  test("left-outer funnel: unmatched click emits null-padded at watermark") {
    val input = MemoryStream[RawEvent]
    val out = Streams.funnelJoin(toEventsDF(input), "left_outer",
                                 watermark = "30 minutes")
    val q = out.writeStream.format("memory").queryName("funnel_outer_test")
      .outputMode("append").start()
    try {
      input.addData(
        RawEvent(1, ts("2026-01-01 10:00:00"), 1, "click", 1.0, ""),
        RawEvent(2, ts("2026-01-01 10:30:00"), 1, "purchase", 2.0, ""),
        RawEvent(3, ts("2026-01-01 10:05:00"), 2, "click", 1.0, ""))
      q.processAllAvailable()
      // advance BOTH side watermarks (each side's operator sits after
      // its type filter, so each needs its own late event) far past
      // click 3's decision point (11:05 + 30m)
      input.addData(
        RawEvent(4, ts("2026-01-01 14:00:00"), 9, "click", 1.0, ""),
        RawEvent(5, ts("2026-01-01 14:00:00"), 9, "purchase", 1.0, ""))
      q.processAllAvailable()
      // one more batch so the eviction-triggered outer rows flush
      input.addData(
        RawEvent(6, ts("2026-01-01 14:30:00"), 9, "click", 1.0, ""))
      q.processAllAvailable()
      val rows = spark.table("funnel_outer_test")
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
                   if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toSet
      assert(rows.contains((1L, 1L, Some(2L))), s"matched pair missing: $rows")
      assert(rows.contains((2L, 3L, None)),
        s"unmatched click not null-emitted: $rows")
    } finally q.stop()
  }

  test("streaming minhash dedup equals the batch bucket-min join (single batch)") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val bands = graft.ext.Dedup.signatures(graft.ext.Dedup.shingledOf(docs))
      .select(col("doc_id"), graft.ext.Dedup.bandKey(col("sig")))
    val mins = bands.groupBy(col("bk")).agg(min(col("doc_id")).as("a_id"))
    val expected = bands.join(mins, "bk")
      .filter(col("doc_id") > col("a_id"))
      .select(col("bk.band").as("band"), col("a_id"),
              col("doc_id").as("b_id"))
      .collect().map(_.toString).sorted.toSeq
    val got = Streams.minhashDedupAvailableNow(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected)
    assert(got.nonEmpty, "sf0.001 must contain near-dup docs")
  }

  case class RawDoc(doc_id: Long, text: String, lang: String,
                    source: String, n_chars: Long)

  test("streaming minhash dedup across batches: a_id always arrived earlier") {
    val input = MemoryStream[RawDoc]
    val out = Streams.minhashDedupStream(input.toDF()).toDF()
    val q = out.writeStream.format("memory").queryName("mh_dedup_test")
      .outputMode("update").start()
    try {
      val t = "the quick brown fox jumps over the lazy dog again and again"
      // batch 1: docs 10 and 20 (identical text -> same buckets)
      input.addData(RawDoc(10, t, "en", "s", t.length.toLong),
                    RawDoc(20, t, "en", "s", t.length.toLong))
      q.processAllAvailable()
      // batch 2: doc 5 (smaller id, same text) arrives LATE, plus 30
      input.addData(RawDoc(5, t, "en", "s", t.length.toLong),
                    RawDoc(30, t, "en", "s", t.length.toLong))
      q.processAllAvailable()
      val hits = spark.table("mh_dedup_test")
        .select("band", "a_id", "b_id").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      // batch 1: 20 dups against 10 in all 8 bands
      assert((0 until 8).forall(b => hits.contains((b, 10L, 20L))))
      // late smaller id emits nothing (it becomes the new bucket min)...
      assert(!hits.exists(_._3 == 5L))
      // ...and 30 (sorted after 5 within its batch) pairs with 5 — every
      // a_id arrived no later than its b_id, the documented contract
      assert((0 until 8).forall(b => hits.contains((b, 5L, 30L))))
      assert(!hits.exists(h => h._3 == 30L && h._2 == 10L))
    } finally q.stop()
  }

  test("streaming HLL registers are arrival-order invariant") {
    val input = MemoryStream[RawEvent]
    val registers = graft.ext.Sketches
      .registerRhoRows(toEventsDF(input), col("event_type"), col("user_id"))
      .groupBy(col("g"), col("idx"))
      .agg(max(col("rho")).as("r"))
    val q = registers.writeStream.format("memory").queryName("hll_regs")
      .outputMode("complete").start()
    try {
      val t0 = ts("2026-01-01 10:00:00")
      def ev(id: Long, u: Long) = RawEvent(id, t0, u, "click", 1.0, "")
      // later users arrive FIRST, then the earlier block — reversed order
      input.addData((100L to 199L).map(u => ev(u, u)): _*)
      q.processAllAvailable()
      input.addData((1L to 99L).map(u => ev(u + 1000, u)): _*)
      q.processAllAvailable()
      val streamed = graft.ext.Sketches
        .foldRegisters(spark.table("hll_regs")).collect()
        .map(_.toString).sorted.toSeq
      val batch = graft.ext.Sketches
        .foldRegisters(graft.ext.Sketches
          .registerRhoRows(
            (1L to 199L).map(u => (u, "click")).toDF("user_id", "event_type"),
            col("event_type"), col("user_id"))
          .groupBy(col("g"), col("idx")).agg(max(col("rho")).as("r")))
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("lambda handoff equals the all-batch incremental view bit-for-bit") {
    val lambda = Streams.lambdaHourlyAvailableNow(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.ops.Incremental.incrementalHourlyGate(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(lambda == batch)
  }

  test("stream-built histogram registers equal the batch sketch bit-for-bit") {
    val stream = Streams.histogramSketchAvailableNow(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.ext.Sketches.histogramRegisters(
      graft.Tables.load(spark, sfDir, "events"))
      .collect().map(_.toString).sorted.toSeq
    assert(stream == batch)
  }

  test("stream-built CMS heavy hitters equal the batch gate bit-for-bit") {
    val stream = Streams.cmsTopTokensAvailableNow(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.ext.Sketches.cmsTopTokens(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  test("streaming hourly anomalies equal the batch q88 rule") {
    // all four columns, INCLUDING the hour bucket — an hour-bucket
    // misalignment between window(ts, '1 hour') and date_trunc('hour')
    // must fail here, not only via the q229 oracle gate. The stream
    // side emits timestamp_ntz and the batch side timestamp, so both
    // are cast to ntz (same session tz) for a comparable JVM type.
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("h", col("h").cast("timestamp_ntz"))
      .collect()
      .map(r => (r.getString(0), r.get(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val stream = rows(Streams.hourlyAnomaliesAvailableNow(spark, sfDir))
    val batch = rows(graft.ext.Events.hourlyAnomalies(spark, sfDir))
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  test("streaming ingest pipeline equals the batch composition") {
    import org.apache.spark.sql.functions._
    val stream = Streams.ingestPipelineAvailableNow(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.ext.TextAnalysis
      .withGopherFlags(graft.Tables.load(spark, sfDir, "documents"),
                       stopMin = 1)
      .filter(col("keep") === 1)
      .filter(graft.ext.Sampling.mixtureKeep)
      .groupBy(md5(graft.ext.TextAnalysis.normalized(col("text")))
        .as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .collect().map(r => (r.getLong(1), r.getString(0))).toSet
    assert(stream == batch)
    assert(stream.nonEmpty)
    // the composition really filters: fewer survivors than documents
    val total = graft.Tables.load(spark, sfDir, "documents").count()
    assert(stream.size < total)
  }

  test("streaming gopher census equals the batch rule aggregate") {
    val stream = Streams.gopherKeepAvailableNow(spark, sfDir)
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    import org.apache.spark.sql.functions._
    val batch = graft.ext.TextAnalysis
      .withGopherFlags(graft.Tables.load(spark, sfDir, "documents"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("keep").cast("long")).as("k"))
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stream == batch)
    assert(stream.nonEmpty)
  }
}
