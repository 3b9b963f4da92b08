package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import java.sql.Timestamp

/** Cross-batch certification of the bounded-state Bloom dedup
  * (q206/q207's production delivery shape): state must persist across
  * micro-batch boundaries so a duplicate arriving in a LATER batch is
  * dropped, while every distinct key still survives exactly once.
  * MemoryStream + processAllAvailable gives exact control over which
  * batch each row arrives in — the file-staged gates (q208/q209)
  * certify the same property on real testdata through the file
  * source's maxFilesPerTrigger path. */
class MultiBatchBloomSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  case class RawEvent(event_id: Long, ts: Timestamp, user_id: Long,
                      event_type: String, value: Double, props: String)
  case class RawDoc(doc_id: Long, text: String, lang: String,
                    source: String, n_chars: Long)

  private def ev(id: Long, v: Double) =
    RawEvent(id, Timestamp.valueOf("2026-01-01 10:00:00"), 1L, "click", v, "")

  test("bloomDedupStream drops cross-batch duplicates, keeps every distinct key once") {
    val input = MemoryStream[RawEvent]
    val q = Streams.bloomDedupStream(input.toDF(), shards = 4,
        log2BitsPerShard = 12).toDF()
      .writeStream.format("memory").queryName("bloom_xbatch")
      .outputMode("update").start()
    try {
      input.addData(ev(1, 1.0), ev(2, 2.0))
      q.processAllAvailable()
      // batch 2 redelivers 1 (must be dropped against batch-1 state)
      input.addData(ev(1, 1.0), ev(3, 3.0))
      q.processAllAvailable()
      // batch 3 redelivers both earlier survivors + one new key
      input.addData(ev(2, 2.0), ev(3, 3.0), ev(4, 4.0))
      q.processAllAvailable()
      val out = spark.table("bloom_xbatch")
        .select("event_id").as[Long].collect().toSeq
      assert(out.sorted == Seq(1L, 2L, 3L, 4L),
        s"expected each key once, got $out")
    } finally q.stop()
  }

  test("bloomDocDedupStream: one survivor per content across batches; NULL text dropped") {
    val input = MemoryStream[RawDoc]
    val q = Streams.bloomDocDedupStream(input.toDF(), shards = 4,
        log2BitsPerShard = 12).toDF()
      .writeStream.format("memory").queryName("bloomdoc_xbatch")
      .outputMode("update").start()
    try {
      val a = "alpha beta gamma"; val b = "delta epsilon zeta"
      input.addData(RawDoc(10, a, "en", "s", a.length.toLong),
                    RawDoc(20, b, "en", "s", b.length.toLong))
      q.processAllAvailable()
      // same CONTENT under new doc_ids in a later batch → dropped;
      // a null text row must not kill the query (filtered at entry)
      input.addData(RawDoc(30, a, "en", "s", a.length.toLong),
                    RawDoc(40, null, "en", "s", 0L),
                    RawDoc(50, "eta theta iota", "en", "s", 14L))
      q.processAllAvailable()
      val rows = spark.table("bloomdoc_xbatch")
        .select("doc_id", "fp").as[(Long, String)].collect().toSeq
      assert(rows.map(_._1).sorted == Seq(10L, 20L, 50L),
        s"survivors must be first arrivals only, got $rows")
      assert(rows.map(_._2).distinct.size == 3)
    } finally q.stop()
  }

  test("bloomParaDedupStream: paragraph-level survivors across batches") {
    val input = MemoryStream[RawDoc]
    // paraLen 3 → "w1 w2 w3" is one paragraph
    val q = Streams.bloomParaDedupStream(input.toDF(), paraLen = 3,
        shards = 4, log2BitsPerShard = 12).toDF()
      .writeStream.format("memory").queryName("bloompara_xbatch")
      .outputMode("update").start()
    try {
      // doc 10: paragraphs P1 P2; doc 20 shares P2 (cross-doc
      // boilerplate) and adds P3 — but arrives in a LATER batch
      val p1 = "alpha beta gamma"; val p2 = "delta epsilon zeta"
      val p3 = "eta theta iota"
      input.addData(RawDoc(10, s"$p1 $p2", "en", "s", 0L))
      q.processAllAvailable()
      input.addData(RawDoc(20, s"$p2 $p3", "en", "s", 0L),
                    RawDoc(30, null, "en", "s", 0L))
      q.processAllAvailable()
      // batch 3: a full redelivery of doc 10 → nothing new
      input.addData(RawDoc(40, s"$p1 $p2", "en", "s", 0L))
      q.processAllAvailable()
      val got = spark.table("bloompara_xbatch")
        .select("pfp").as[String].collect().toSeq
      val expected = Seq(p1, p2, p3).map { s =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      assert(got.sorted == expected.sorted,
        s"expected one survivor per distinct paragraph, got $got")
    } finally q.stop()
  }

  // The within-batch ordering contract of the keep-first kernel: a
  // micro-batch folds in id order whatever order its rows arrived in,
  // which is what makes the single-batch gates (q206/q207) equal the
  // batch keep-min rule.
  test("within one batch the Bloom kernel folds events in event_id order") {
    val input = MemoryStream[RawEvent]
    val q = Streams.bloomDedupStream(input.toDF(), shards = 1,
        log2BitsPerShard = 12)
      .writeStream.format("memory").queryName("bloom_inbatch_order")
      .outputMode("update").start()
    try {
      // one batch, descending ids, event 3 delivered twice
      input.addData(ev(5, 5.0), ev(3, 3.0), ev(3, 3.0))
      q.processAllAvailable()
      val out = spark.table("bloom_inbatch_order")
        .select("event_id").as[Long].collect().toSeq
      assert(out == Seq(3L, 5L),
        s"the smaller id must fold (and survive) first, once: $out")
    } finally q.stop()
  }

  test("within one batch the content Bloom keeps the smaller doc_id") {
    val input = MemoryStream[RawDoc]
    val q = Streams.bloomDocDedupStream(input.toDF(), shards = 4,
        log2BitsPerShard = 12)
      .writeStream.format("memory").queryName("bloomdoc_inbatch_order")
      .outputMode("update").start()
    try {
      val a = "alpha beta gamma"
      // one batch, the same content under two ids, descending
      input.addData(RawDoc(20, a, "en", "s", a.length.toLong),
                    RawDoc(10, a, "en", "s", a.length.toLong))
      q.processAllAvailable()
      val out = spark.table("bloomdoc_inbatch_order")
        .select("doc_id").as[Long].collect().toSeq
      assert(out == Seq(10L), s"the smaller doc_id must survive: $out")
    } finally q.stop()
  }

  test("ingest pipeline multi-batch: set equals the batch composition") {
    import org.apache.spark.sql.functions._
    val stream = Streams.ingestPipelineMultiBatch(spark, sfDir)
      .collect().map(_.getString(0))
    // no fingerprint admitted twice despite full redelivery
    assert(stream.length == stream.distinct.length)
    val batch = graft.ext.TextAnalysis
      .withGopherFlags(graft.Tables.load(spark, sfDir, "documents"),
                       stopMin = 1)
      .filter(col("keep") === 1)
      .filter(graft.ext.Sampling.mixtureKeep)
      .select(md5(graft.ext.TextAnalysis.normalized(col("text")))
        .as("fp"))
      .distinct().collect().map(_.getString(0))
    assert(stream.toSet == batch.toSet)
    assert(stream.nonEmpty)
  }

  test("null event_id rows are filtered, not fatal") {
    val input = MemoryStream[RawEvent]
    val withNull = input.toDF()
      .withColumn("event_id",
        when(col("event_id") < 0L, lit(null)).otherwise(col("event_id")))
    val q = Streams.bloomDedupStream(withNull, shards = 2,
        log2BitsPerShard = 12).toDF()
      .writeStream.format("memory").queryName("bloom_nullid")
      .outputMode("update").start()
    try {
      input.addData(ev(-1, 9.0), ev(7, 7.0))
      q.processAllAvailable()
      val out = spark.table("bloom_nullid")
        .select("event_id").as[Long].collect().toSeq
      assert(out == Seq(7L))
    } finally q.stop()
  }

  test("windowed Bloom: dedup within lookback, re-admission beyond, gap clears") {
    val input = MemoryStream[RawEvent]
    def at(min: Long, id: Long) = RawEvent(id,
      new Timestamp(1767225600000L + min * 60000L), 1L, "click", 1.0, "")
    // horizon 1h → lookback [1h, 2h)
    val q = Streams.bloomDedupWindowed(input.toDF(), horizonHours = 1,
        shards = 2, log2BitsPerShard = 12).toDF()
      .writeStream.format("memory").queryName("bloom_windowed")
      .outputMode("update").start()
    try {
      // bucket B0: keys 1, 2 emitted; 1 redelivered in-bucket → dropped
      input.addData(at(0, 1), at(10, 2), at(20, 1))
      q.processAllAvailable()
      // bucket B1 (rotation): 1 still within lookback → dropped AND
      // refreshed into the current generation; 3 new → emitted
      input.addData(at(70, 1), at(75, 3))
      q.processAllAvailable()
      // bucket B2: 1 was refreshed in B1 → still dropped; 2 was last
      // seen in B0 (beyond the lookback) → RE-ADMITTED
      input.addData(at(130, 1), at(135, 2))
      q.processAllAvailable()
      // gap ≥ 2 buckets (B5): both generations aged out → 3 re-admitted
      input.addData(at(310, 3))
      q.processAllAvailable()
      val ids = spark.table("bloom_windowed")
        .select("event_id").as[Long].collect().toSeq
      assert(ids.sorted == Seq(1L, 2L, 2L, 3L, 3L),
        s"windowed semantics violated: $ids")
    } finally q.stop()
  }

  test("log2BitsPerShardFor: FP-budget sizing, power-of-two round-up, clamps") {
    // 10M keys × 10 bits / 32 shards = 3,125,000 → 2^22 per shard
    assert(Streams.log2BitsPerShardFor(10000000L, 10, 32) == 22)
    // exact power of two: 2^21 keys × 16 bits / 32 shards = 2^20
    assert(Streams.log2BitsPerShardFor(1L << 21, 16, 32) == 20)
    // one key → floor clamp
    assert(Streams.log2BitsPerShardFor(1L, 10, 32) == 10)
    // absurd demand → ceiling clamp (shards are the scale-out axis)
    assert(Streams.log2BitsPerShardFor(Long.MaxValue / 16, 10, 32) == 30)
    intercept[IllegalArgumentException] {
      Streams.log2BitsPerShardFor(0L, 10, 32)
    }
    ()
  }
}
