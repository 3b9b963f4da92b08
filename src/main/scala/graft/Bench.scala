package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Testdata schema canary (round-7 lesson: a driver-side regeneration
    // changed events.ts NANOS→MICROS and 12 gates silently clocked
    // time-to-exception). A drift is shouted here AND recorded in the
    // JSON artifact so the timings can't masquerade as healthy.
    val canaryDiff: Option[String] =
      try { Tables.assertSchemas(spark, sfDir); None }
      catch { case e: Throwable =>
        System.err.println(s"[bench] ${e.getMessage}")
        Some(e.getMessage)
      }
    // Warm up the JVM/codegen/file-listing paths once so the first timed
    // query isn't charged ~10 s of JIT + Spark bootstrap.
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().count()
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey")).count()
      // warm the Structured Streaming machinery too (micro-batch engine,
      // state store, file stream source) on the smallest dataset so the
      // timed streaming queries measure steady-state cost, not JIT
      streaming.Streams.hourlyAggAvailableNow(
        spark, "/root/testdata/sf0.001").count()
    } catch { case _: Throwable => () }
    // Multiple full passes, report the per-query MIN: single-shot timings
    // on a shared VM swing 2-5x under host contention, so one sample
    // measures the neighbor's load, not the plan (r4 showed isolated
    // +0.3 s swings surviving min-of-2). Between passes every cached
    // block (DataFrame persists, memoized pair tables, RDD persists from
    // the label-propagation loop) is dropped, so later passes honestly
    // recompute each operator rather than reading pass-1 caches.
    // numeric gate order, not string order: "q101" < "q28" as strings,
    // which would move the cold shared-pair-set cost from q28 (a
    // shared63 member) onto q101 and silently deflate the cross-round
    // subtotal — run q1..qN in id order so cost attribution is stable
    val names = SparkEntry.queries.toSeq.sortBy { case (n, _) =>
      ("""\d+""".r.findFirstIn(n).map(_.toInt).getOrElse(0), n)
    }
    val reps = 3
    // One-time bucket-layout write, timed separately so q149 (and any
    // other consumer of the bucketed tables) measures the JOIN the
    // layout enables, not the layout build itself. A FAILED write is
    // shouted and recorded as -1 (not swallowed): with the memo unset,
    // every q149 sample would silently re-pay (and re-fail) the build
    // while the artifact showed a plausible write time — the schema-
    // canary discipline applies here too.
    val bwT0 = System.nanoTime()
    val bucketWriteSec =
      try {
        sources.Bucketing.ensureWritten(spark, sfDir)
        (System.nanoTime() - bwT0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] bucket-layout write FAILED: $e")
          -1.0
      }
    // Storage-memory high-water per pass: cached blocks (operator memos,
    // shared pair sets, streaming state) compete for the storage pool,
    // and a regression caused by cache eviction is invisible in timings
    // alone — record the footprint so eviction pressure is diagnosable
    // from the artifact.
    def storageBytes(): Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    val storagePeaks = new Array[Long](reps)
    val noopGates = Set("q81_hash_split", "q216_substr_remove",
      "q219_collapse_repeats", "q222_vocab_prune")
    val samples = (1 to reps).map { pass =>
      if (pass > 1) {
        ext.Memo.clearAll()
        // Fixture writes (the bucket layout, `Tables.writeOnce`) stay:
        // the bucket layout's cost model
        // is write-once-amortize-forever, and the write is timed as its
        // own bucket_write_sec line item below — clearing it per pass
        // (round 8) charged every q149 sample the one-time layout build
        // and made the certified zero-shuffle join look like the worst
        // query in the subtotal.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        // release the streaming gates' memory-sink row buffers — they
        // accumulate across passes otherwise (one full output per gate
        // per pass pinned on the driver heap)
        streaming.Streams.dropBoundedSinks(spark)
      }
      names.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // Rewrite gates (one output row per input row) are timed
        // against the noop sink: under count() Catalyst prunes their
        // rebuilt columns and eliminates the final outer joins
        // (unique keys), so the count would time the pruned plan, not
        // the operator (see SCALE.md, "rewrite-gate full-
        // materialization"). Legacy rewrite gates inside the shared63
        // comparison set (q58/q59) keep count() so the cross-round
        // subtotal stays like-for-like; their honest decades live in
        // `ScaleSmoke rewrite`.
        val ok =
          try {
            if (noopGates(name))
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            else { fn(spark, sfDir).count(); () }
            true
          } catch { case e: Throwable =>
            // keep the sweep alive, but NEVER silently: the failure is
            // shouted here AND recorded per-gate below, so a crashed
            // gate's time-to-failure never enters the per-gate min or
            // the round total, and the JSON artifact cannot look green
            // over a gate that never ran to completion
            System.err.println(
              s"[bench] $name FAILED pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}")
            false
          }
        storagePeaks(pass - 1) =
          math.max(storagePeaks(pass - 1), storageBytes())
        name -> ((System.nanoTime() - t0) / 1e9, ok)
      }.toMap
    }
    // A gate that crashed on ANY pass is excluded from min/total and
    // listed in failed_gates (its queries entry is the -1 sentinel).
    val failedGates = names.map(_._1)
      .filter(n => samples.exists(s => !s(n)._2))
    val results = names.collect {
      case (name, _) if !failedGates.contains(name) =>
        name -> samples.map(_(name)._1).min
    }.toMap
    // Fixed round-5 comparison set: the total alone moves every round as
    // gates are added, so cross-round perf tracking pins this subtotal
    // (the 63 queries benched since r5) as the like-for-like number.
    val shared63 = Set(
      "q01_filter_project", "q03_inner_join", "q04_left_join",
      "q05_groupby_agg", "q07_global_agg", "q10_expr_semantics",
      "q11_topk", "q12_distinct", "q13_setops", "q15_star_join",
      "q16_sqlfront_join_group", "q17_sqlfront_corr_subq",
      "q18_sqlfront_theta_subq", "q19_sqlfront_on_subq", "q20_text_stats",
      "q21_lang_id", "q22_fingerprint", "q23_token_count",
      "q24_dedup_exact", "q25_dedup_fingerprint", "q26_dedup_minhash",
      "q29_emb_neardup", "q31_knn_lsh", "q33_sessionize",
      "q34_multimodal", "q37_knn_ivf", "q38_json_props",
      "q39_dedup_clusters", "q41_mix_sample", "q42_stream_enrich",
      "q43_mix_rates", "q44_top_terms", "q45_quality_filter",
      "q46_stream_funnel", "q47_asof_join", "q48_salted_join",
      "q54_percentile", "q55_tfidf", "q56_repetition",
      "q57_contamination", "q58_chunking", "q59_pii_redact",
      "q60_bloom_join", "q61_range_join", "q62_token_spectrum",
      "q63_clean_corpus", "q65_semi_join", "q68_stream_dedup",
      "q69_bpe_pairs", "q71_distinct_agg", "q73_temp_rates",
      "q74_reservoir", "q75_dup_ngrams", "q76_moment_stats", "q77_bm25",
      "q79_dml_update", "q80_insert_select", "q83_winnowing",
      "q84_gram_novelty", "q85_pq_codes", "q86_winnow_matches",
      "q87_corpus_card", "q88_hourly_anomalies")
    // a crashed shared63 member would silently SHRINK the pinned
    // cross-round subtotal and read as a speedup — null it instead
    val sharedSub =
      if (failedGates.exists(shared63)) "null"
      else results.collect { case (n, v) if shared63(n) => v }.sum.toString
    val qs = (results.map { case (k, v) => s"\"" + k + "\":" + v } ++
        failedGates.map(n => s"\"" + n + "\":-1"))
      .mkString("{", ",", "}")
    val failedJson =
      failedGates.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Contention self-report (r11 protocol, members extended r16):
    // canary gates with pinned quiet-window floors, whose
    // measured-over-floor ratios estimate THIS window's host
    // contention factor; total/factor is the canary-normalized
    // total — the artifact self-reports how much of its total is
    // weather, so cross-window comparisons stop inviting misreads
    // (the r10 "regression" and the r11 driver/builder 204.5-vs-170.2
    // gap were both pure window drift).
    // r15 found the blind spot: identical-code windows spread
    // 1.01–1.14 canary-normalized with NO correlation to a
    // q01/q05-only canary — tonight's host weather moves the HEAVY
    // (shuffle/streaming) gates without moving two sub-second CPU
    // gates. The canary now spans the cost families: q01/q05
    // (pure-CPU scan/agg), q63 (the shuffle-heavy clean-corpus
    // pipeline), q218 (a trigger-cadence streaming gate). Floors are
    // the MINIMA across the r13–r15 archived windows (code for these
    // four gates unchanged across those rounds) — the r11-era q05
    // floor of 0.34 had gone stale (archive min 0.268), silently
    // dragging quiet-window factors below 1 into the clamp.
    // The floors are quiet-window constants measured at sf0.1 on this
    // host; against any other scale they would compute a confidently
    // wrong factor, so the fields are emitted as JSON null unless the
    // bench ran at sf0.1.
    val canaryFloors = Seq("q01_filter_project" -> 0.14,
                           "q05_groupby_agg" -> 0.27,
                           "q63_clean_corpus" -> 1.98,
                           "q218_stream_cms" -> 1.95)
    val canaryRatios =
      if (!sfDir.stripSuffix("/").endsWith("sf0.1")) Nil
      else canaryFloors.flatMap { case (n, floor) =>
        results.get(n).filter(_ > 0.0).map(v => n -> (v / floor))
      }
    val canaryFactorOpt =
      if (canaryRatios.isEmpty) None
      else Some(math.max(1.0, canaryRatios.map(_._2).sum /
                              canaryRatios.size))
    val canaryFactor = canaryFactorOpt.fold("null")(_.toString)
    val canaryNormTotal =
      canaryFactorOpt.fold("null")(f => (total / f).toString)
    // per-member ratios, so a consumer can recompute the old two-member
    // factor (cross-round reads against r15-and-earlier artifacts) or
    // diagnose WHICH family a contended window hit
    val canaryMembersJson = canaryRatios
      .map { case (n, r) => s"\"" + n + "\":" + r }
      .mkString("{", ",", "}")
    val peaks = storagePeaks.mkString("[", ",", "]")
    val canaryJson = canaryDiff.fold("\"ok\"")(d =>
      "\"DRIFT: " + d.replaceAll("[\"\\\\\\n]", " ").take(400) + "\"")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"agg":"min","shared63_subtotal":$sharedSub,"bucket_write_sec":$bucketWriteSec,"canary_factor":$canaryFactor,"canary_normalized_total":$canaryNormTotal,"canary_members":$canaryMembersJson,"storage_peak_bytes":$peaks,"schema_canary":$canaryJson,"failed_gates":$failedJson,"queries":$qs,"sf":"$sfDir"}"""
    // stdout gets wrapped in sbt log prefixes — also write the JSON to a
    // file so machine consumers don't have to scrape the build log
    println(json)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_LAST.json"),
      (json + "\n").getBytes("UTF-8"))
    // The full artifact line above exceeds a tail-window capture once the
    // per-query map is ~200 entries (r08/r09 both recorded parsed:null),
    // so the LAST lines this process emits are a compact, self-contained
    // summary that always fits: totals here, per-query detail in
    // BENCH_LAST.json. Emitted on stdout (unprefixed — build.sbt sets
    // run/outputStrategy := StdoutOutput, because sbt's default logger
    // prefix "[info] " is what defeated the r09/r10 tail parsers) AND on
    // stderr AND into a stable BENCH_SUMMARY.json file, so a machine
    // consumer has three independent capture paths.
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"agg":"min","shared63":$sharedSub,"bucket_write_sec":$bucketWriteSec,"canary_factor":$canaryFactor,"canary_normalized_total":$canaryNormTotal,"canary_members":$canaryMembersJson,"n_queries":${results.size},"failed_gates":$failedJson,"schema_canary":${if (canaryDiff.isEmpty) "\"ok\"" else "\"DRIFT\""},"sf":"$sfDir","detail":"BENCH_LAST.json"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_SUMMARY.json"),
      (compact + "\n").getBytes("UTF-8"))
    println(compact)
    System.err.println(compact)
    spark.stop()
  }
}
