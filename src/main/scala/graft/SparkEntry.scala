package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.ops.RefQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a matching DuckDB oracle in `oracleSql`
  * run on the same parquet tables; column names are aligned on both sides
  * (the driver sorts columns by name before hashing values).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RefQueries.q05GroupByAgg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_filter_project"  -> RefQueries.q01FilterProject _,
    "q02_cross_join"      -> RefQueries.q02CrossJoinWhere _,
    "q03_inner_join"      -> RefQueries.q03InnerJoin _,
    "q04_left_join"       -> RefQueries.q04LeftJoin _,
    "q05_groupby_agg"     -> RefQueries.q05GroupByAgg _,
    "q06_having"          -> RefQueries.q06Having _,
    "q07_global_agg"      -> RefQueries.q07GlobalAgg _,
    "q08_corr_subquery"   -> RefQueries.q08CorrelatedSubquery _,
    "q09_scalar_subquery" -> RefQueries.q09ScalarSubquery _,
    "q10_expr_semantics"  -> RefQueries.q10ExprSemantics _,
    "q11_topk"            -> RefQueries.q11TopK _,
    "q12_distinct"        -> RefQueries.q12Distinct _,
    "q13_setops"          -> RefQueries.q13SetOps _,
    "q14_window"          -> RefQueries.q14Window _,
    "q15_star_join"       -> RefQueries.q15StarJoin _,
    // llamadb-dialect SQL front end (graft.Engine): the same engine
    // surface the reference exposes — lex/parse/compile to Catalyst
    "q16_sqlfront_join_group" -> ((s: SparkSession, d: String) => {
      val eng = new Engine(s); eng.registerTestTables(d)
      eng.sql(
        """SELECT n_name, count(*) AS n, min(c_acctbal) AS min_bal,
          |       max(c_acctbal) AS max_bal
          |FROM customer, nation
          |WHERE c_nationkey = n_nationkey
          |GROUP BY n_name HAVING count(*) > 10""".stripMargin)
    }),
    "q17_sqlfront_corr_subq" -> ((s: SparkSession, d: String) => {
      val eng = new Engine(s); eng.registerTestTables(d)
      eng.sql(
        """SELECT n_name,
          |  (SELECT count(*) FROM customer
          |   WHERE customer.c_nationkey = nation.n_nationkey) AS n_cust
          |FROM nation""".stripMargin)
    }),
    "q18_sqlfront_theta_subq" -> ((s: SparkSession, d: String) => {
      val eng = new Engine(s); eng.registerTestTables(d)
      // mixed equality + theta correlation: the equality conjunct still
      // becomes the join key, the `<` rides along as residual condition
      eng.sql(
        """SELECT o_orderkey,
          |  (SELECT count(*) FROM lineitem
          |   WHERE lineitem.l_orderkey = orders.o_orderkey
          |     AND lineitem.l_extendedprice < orders.o_totalprice)
          |    AS n_below
          |FROM orders WHERE o_orderkey < 1000""".stripMargin)
    }),
    "q19_sqlfront_on_subq" -> ((s: SparkSession, d: String) => {
      val eng = new Engine(s); eng.registerTestTables(d)
      // scalar subquery inside JOIN ON (arbitrary-expression ON,
      // reference queryplan/mod.rs:563-572). 1.2x the average keeps the
      // gate non-vacuous: it must emit rows at every test scale (a 0-row
      // hash match would verify only the schema).
      eng.sql(
        """SELECT c_name, o_orderkey
          |FROM customer JOIN orders
          |ON c_custkey = o_custkey
          |   AND o_totalprice > 1.2 * (SELECT avg(o_totalprice) FROM orders)"""
          .stripMargin)
    }),
    "q40_window_funcs"    -> ops.RefQueries.q40WindowFuncs _,
    "q44_top_terms"       -> ((s: SparkSession, d: String) =>
                                ext.TextAnalysis.topTerms(s, d)),
    "q45_quality_filter"  -> ((s: SparkSession, d: String) =>
                                ext.TextAnalysis.qualityFilter(s, d)),
    "q47_asof_join"       -> ops.AsOf.purchasesWithLastClick _,
    // skew utilities as gate queries: results must equal the plain
    // join/aggregation (the salt is an execution detail, not semantics)
    "q48_salted_join"     -> ((s: SparkSession, d: String) => {
      val li = Tables.load(s, d, "lineitem")
        .select(org.apache.spark.sql.functions.col("l_orderkey").as("k"),
                org.apache.spark.sql.functions.col("l_quantity"))
      val big = Tables.load(s, d, "orders")
        .filter(org.apache.spark.sql.functions.col("o_totalprice") > 400000)
        .select(org.apache.spark.sql.functions.col("o_orderkey").as("k"),
                org.apache.spark.sql.functions.col("o_totalprice"))
      ops.Skew.saltedJoin(li, big, "k", salts = 8)
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.count(
               org.apache.spark.sql.functions.lit(1)).as("n"),
             org.apache.spark.sql.functions.round(
               org.apache.spark.sql.functions.sum(
                 org.apache.spark.sql.functions.col("l_quantity")), 2)
               .as("sum_qty"))
    }),
    "q49_salted_agg"      -> ((s: SparkSession, d: String) =>
      ops.Skew.saltedCountSum(
        Tables.load(s, d, "lineitem"), "l_returnflag", "l_quantity",
        salts = 8)),
    "q41_mix_sample"      -> ext.Sampling.mixtureSample _,
    "q43_mix_rates"       -> ext.Sampling.mixtureRates _,
    "q42_stream_enrich"   -> streaming.Streams.enrichedSegmentAvailableNow _,
    // LLM-data-pipeline extensions (ext/)
    "q20_text_stats"      -> ext.TextAnalysis.textStats _,
    "q21_lang_id"         -> ext.TextAnalysis.langId _,
    "q22_fingerprint"     -> ext.TextAnalysis.fingerprint _,
    "q23_token_count"     -> ext.TextAnalysis.tokenCount _,
    "q24_dedup_exact"     -> ext.Dedup.exact _,
    "q25_dedup_fingerprint" -> ext.Dedup.fingerprint _,
    "q26_dedup_minhash"   -> ((s: SparkSession, d: String) => ext.Dedup.minhashLshCached(s, d)),
    "q27_dedup_simhash"   -> ((s: SparkSession, d: String) => ext.Dedup.simhashPairs(s, d)),
    "q28_jaccard_pairs"   -> ((s: SparkSession, d: String) => ext.Dedup.jaccardPairsCached(s, d, 0.8)),
    "q29_emb_neardup"     -> ((s: SparkSession, d: String) => ext.Dedup.embeddingNearDup(s, d)),
    // clustering over the EXACT pair set (shared with q28) so the whole
    // dedup pipeline is oracle-checkable; the minhash-LSH variant of the
    // same operator stays spec-tested (DedupSpec)
    "q39_dedup_clusters"  -> ((s: SparkSession, d: String) => ext.Dedup.dedupedCorpusExact(s, d, 0.8)),
    "q30_knn_brute"       -> ((s: SparkSession, d: String) => ext.Similarity.bruteForceTopK(s, d)),
    "q31_knn_lsh"         -> ((s: SparkSession, d: String) => ext.Similarity.lshTopK(s, d)),
    "q37_knn_ivf"         -> ((s: SparkSession, d: String) => ext.Similarity.ivfTopK(s, d)),
    "q32_events_hourly"   -> ext.Events.hourlyAgg _,
    "q33_sessionize"      -> ext.Events.sessionize _,
    "q38_json_props"      -> ext.Events.propsAgg _,
    "q34_multimodal"      -> ext.Multimodal.featureSummary _,
    // Structured Streaming (graft.streaming): the static events table
    // processed as a bounded stream must equal the batch twins exactly
    "q35_stream_hourly"   -> streaming.Streams.hourlyAggAvailableNow _,
    "q36_stream_sessionize" -> streaming.Streams.sessionCountsAvailableNow _,
    "q46_stream_funnel"   -> streaming.Streams.funnelJoinAvailableNow _,
    // multi-level aggregation + keyword extraction (ops/Olap, ext/)
    "q50_rollup"          -> ops.Olap.rollupAgg _,
    "q51_cube"            -> ops.Olap.cubeAgg _,
    "q52_grouping_sets"   -> ops.Olap.groupingSets _,
    "q53_pivot"           -> ops.Olap.pivotHourlyTypes _,
    "q54_percentile"      -> ops.Olap.percentiles _,
    "q55_tfidf"           -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.tfidfTopTerms(s, d)),
    "q56_repetition"      -> ext.TextAnalysis.repetitionStats _,
    "q57_contamination"   -> ((s: SparkSession, d: String) =>
      ext.Contamination.contaminated(s, d, n = 4)),
    // training-sequence prep + PII scrub (ext/), join-pruning plans (ops/)
    "q58_chunking"        -> ((s: SparkSession, d: String) =>
      ext.Chunking.chunks(s, d)),
    "q59_pii_redact"      -> ext.Pii.piiAudit _,
    "q60_bloom_join"      -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      val li  = Tables.load(s, d, "lineitem")
      val hot = Tables.load(s, d, "orders")
        .filter(col("o_totalprice") > 450000.0).select("o_orderkey")
      ops.Bloom.prunedJoin(li, "l_orderkey", hot, "o_orderkey",
          expectedItems = 100000L, fpp = 0.03)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"),
             round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(col("l_orderkey"), col("n"), col("sum_qty"))
    }),
    "q61_range_join"      -> ops.RangeJoin.errorsNearClicks _,
    "q62_token_spectrum"  -> ext.TextAnalysis.tokenFrequencySpectrum _,
    // end-to-end: quality filter → exact near-dup survivors → chunks
    "q63_clean_corpus"    -> ((s: SparkSession, d: String) =>
      ext.Pipeline.cleanCorpus(s, d)),
    // sequence packing: hierarchical prefix sum → global token offsets
    "q64_seq_packing"     -> ((s: SparkSession, d: String) =>
      ext.Packing.packedDocs(s, d)),
    // join-type breadth beyond the reference's inner/left
    "q65_semi_join"       -> ops.RefQueries.q65SemiJoin _,
    "q66_anti_join"       -> ops.RefQueries.q66AntiJoin _,
    "q67_full_outer_join" -> ops.RefQueries.q67FullOuterJoin _,
    // streaming dedup of a redelivered stream → exactly the batch table
    "q68_stream_dedup"    -> streaming.Streams.dedupAvailableNow _,
    // BPE merge-step pair counts over the vocabulary
    "q69_bpe_pairs"       -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.bpePairCounts(s, d)),
    // real WAV decode: javax.sound round trip, analytically oracled
    "q70_audio_decode"    -> ((s: SparkSession, d: String) =>
      ext.Multimodal.audioFeatures(s, d).toDF()),
    // distinct aggregates (Expand plan) + RANGE window frames
    "q71_distinct_agg"    -> ext.Events.distinctAgg _,
    "q72_range_window"    -> ext.Events.trailingHourCounts _,
    // temperature mixture reweighting + deterministic k-per-source sample
    "q73_temp_rates"      -> ((s: SparkSession, d: String) =>
      ext.Sampling.temperatureRates(s, d)),
    "q74_reservoir"       -> ((s: SparkSession, d: String) =>
      ext.Sampling.reservoirSample(s, d)),
    // duplicate-3-gram repetition rule (Gopher-style, gram granularity)
    "q75_dup_ngrams"      -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.dupNgramStats(s, d)),
    // engine-exact second moments: decimal sums → closed-form doubles
    "q76_moment_stats"    -> ops.Olap.momentStats _,
    // BM25 top-k retrieval (rational idf, decimal-quantized term scores)
    "q77_bm25"            -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.bm25TopK(s, d)),
    // symmetric int8 (max-abs) embedding quantization audit
    "q78_int8_quant"      -> ext.Quantize.int8Stats _,
    // DML lifecycle through the llamadb dialect: CREATE + INSERT-SELECT
    // seed, expression UPDATEs, predicate DELETE, post-state SELECT. The
    // oracle runs the IDENTICAL mutation script in DuckDB (multi-statement
    // execute; the trailing SELECT is the compared result).
    "q79_dml_update" -> ((s: SparkSession, d: String) => {
      val eng = new Engine(s); eng.registerTestTables(d)
      eng.executeScript(
        """CREATE TABLE dml_acct (id i64, bal i64, seg string null);
          |INSERT INTO dml_acct
          |  SELECT n_nationkey, (n_regionkey + 1) * 100, n_name FROM nation;
          |UPDATE dml_acct SET bal = bal * 2 + 5 WHERE id > 10;
          |UPDATE dml_acct SET seg = 'low' WHERE bal < 300;
          |DELETE FROM dml_acct WHERE id = 3 OR bal > 900;""".stripMargin)
      eng.sql("SELECT id, bal, seg FROM dml_acct")
    }),
    // INSERT VALUES (expressions, NULLs, column-subset defaults) +
    // INSERT INTO ... SELECT (the statement the reference parses then
    // panics on, tempdb/mod.rs:279) — post-state hash-checked in DuckDB.
    "q80_insert_select" -> ((s: SparkSession, d: String) => {
      val eng = new Engine(s); eng.registerTestTables(d)
      eng.executeScript(
        """CREATE TABLE dml_log (k i64, tag string, amt i64 null);
          |INSERT INTO dml_log VALUES (1, 'a', 10), (2, 'b', NULL),
          |                           (3, 'c', 2 + 3 * 4);
          |INSERT INTO dml_log
          |  SELECT n_nationkey + 100, n_name, n_regionkey
          |  FROM nation WHERE n_regionkey <> 2;
          |INSERT INTO dml_log (k, tag) VALUES (4, 'd');""".stripMargin)
      eng.sql("SELECT k, tag, amt FROM dml_log")
    }),
    // deterministic salted-hash train/val/test split (pure map, no
    // shuffle; assignment independent of row order/partitioning)
    "q81_hash_split" -> ((s: SparkSession, d: String) =>
      ext.Splits.hashSplit(s, d)),
    // daily-batch incremental dedup: batch-internal canonical copy +
    // anti-join against the existing corpus's fingerprints
    "q82_incremental_dedup" -> ((s: SparkSession, d: String) =>
      ext.Splits.incrementalDedup(s, d)),
    // MOSS winnowing fingerprints (SIGMOD'03): per-window min gram hash
    "q83_winnowing" -> ((s: SparkSession, d: String) =>
      ext.Winnow.fingerprints(s, d)),
    // cross-doc n-gram novelty (boilerplate signal; exact integers)
    "q84_gram_novelty" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.gramNovelty(s, d)),
    // hourly count anomalies (z > 2 sigma; exact integer moment sums)
    "q88_hourly_anomalies" -> ((s: SparkSession, d: String) =>
      ext.Events.hourlyAnomalies(s, d)),
    // per-source corpus card (docs/tokens/dup-rate/quality, exact ints)
    "q87_corpus_card" -> ((s: SparkSession, d: String) =>
      ext.Pipeline.corpusCard(s, d)),
    // MOSS cross-doc matching: pairs sharing winnowed fingerprints
    "q86_winnow_matches" -> ((s: SparkSession, d: String) =>
      ext.Winnow.matches(s, d)),
    // product quantization (PQ m=4 k=16): deterministically trained
    // codebooks (sorted bounded sample, first-K init), map-side encode;
    // oracle-gated — the trained books embed as literals in the dumped
    // SQL and the encode replays bit-exactly (PqSpec additionally
    // asserts determinism, bounds, and reconstruction-error dominance)
    "q85_pq_codes" -> ((s: SparkSession, d: String) =>
      ext.Quantize.pqCodes(s, d)),
    // ExactSubstr-style positional duplication audit (Lee et al. ACL'22)
    "q89_substr_dup" -> ((s: SparkSession, d: String) =>
      ext.SubstrDup.substrDupStats(s, d)),
    // cross-split duplicate leakage (eval-integrity check after split)
    "q90_split_leakage" -> ((s: SparkSession, d: String) =>
      ext.Splits.splitLeakage(s, d)),
    // retention cohorts over the events stream (exact integers)
    "q91_retention" -> ((s: SparkSession, d: String) =>
      ext.Events.retentionCohorts(s, d)),
    // all-integer PageRank over the exact near-dup graph (bit-exact
    // iterative graph op; shares the q28/q39/q63 pair-set persist)
    "q92_dup_pagerank" -> ((s: SparkSession, d: String) =>
      ext.PageRank.dupPagerank(s, d)),
    // duplicate-cluster size histogram (dedup-audit summary)
    "q93_cluster_sizes" -> ((s: SparkSession, d: String) =>
      ext.Dedup.clusterSizeHistogram(s, d)),
    // one-pass column profiling via stack/unpivot (Expand, single scan)
    "q94_profile" -> ops.Profile.lineitemProfile _,
    // real image resize (decode → bilinear 8x8 → exact pixel sums)
    "q95_image_resize" -> ((s: SparkSession, d: String) =>
      ext.Multimodal.resizeSummary(s, d)),
    // CHAINED stateful streaming: dedup -> windowed agg in one query
    // (append mode; windows emit exactly once at the watermark)
    "q96_stream_dedup_hourly" -> ((s: SparkSession, d: String) =>
      streaming.Streams.dedupHourlySharedGate(s, d)),
    // CDC MERGE: whole-row upsert/delete changeset applied to a snapshot
    "q97_cdc_merge" -> ops.Cdc.customerMerge _,
    // parquet compaction certified lossless: rewrite orders through the
    // sized small-files compactor, then content-hash the REWRITTEN files
    // (count + key sum + md5-fingerprint sum) against the original table
    "q98_compaction" -> sources.Sources.compactionGate _,
    // Z-order layout: Morton bit-interleave key (the multi-dim
    // clustering behind Delta/Iceberg Z-ORDER) summed per returnflag —
    // an order-independent checksum of every interleaved bit
    "q99_zorder" -> sources.ZOrder.zorderGate _,
    // deterministic corpus shuffle + sharding: seeded md5-hash order,
    // per-shard position numbering, order-sensitive checksum
    "q100_shuffle_shards" -> ((s: SparkSession, d: String) =>
      ext.Splits.shuffleShards(s, d)),
    // quality-ranked cluster survivor: keep the fullest copy (most
    // tokens, tie to smallest id) per near-dup cluster
    "q101_best_of_cluster" -> ((s: SparkSession, d: String) =>
      ext.Dedup.bestOfClusters(s, d)),
    // dup-graph structure audit: exact triangle + wedge census (global
    // clustering coefficient = 3*tri/wedges; low values flag chained
    // false merges)
    "q102_dup_triangles" -> ((s: SparkSession, d: String) =>
      ext.PageRank.dupTriangles(s, d)),
    // asymmetric (containment) near-dup: quotes/excerpts/boilerplate
    // wrappers that symmetric Jaccard misses
    "q103_containment" -> ((s: SparkSession, d: String) =>
      ext.Dedup.containmentPairsCached(s, d)),
    // sketch-side containment estimation over the LSH candidate set
    // (all-integer numerator/denominator, one double division)
    "q104_containment_est" -> ((s: SparkSession, d: String) =>
      ext.Dedup.containmentEstimateCached(s, d)),
    // native session_window sessionization (merge-on-overlap inside the
    // aggregation operator — no per-user history sort), batch form
    "q105_session_window" -> ((s: SparkSession, d: String) =>
      ext.Events.sessionWindowStats(s, d)),
    // streaming twin: multi-batch-safe sessionization — session windows
    // merge in the state store across micro-batches; append emits each
    // session once, when the watermark closes it
    "q106_stream_session_window" -> ((s: SparkSession, d: String) =>
      streaming.Streams.sessionWindowSharedGate(s, d)),
    // IVF-PQ with asymmetric distance computation: coarse-quantizer
    // candidate pruning + code-table scoring — candidates' raw vectors
    // never touched at query time (the FAISS IVFx,PQy layout)
    "q107_ivfpq_adc" -> ((s: SparkSession, d: String) =>
      ext.Similarity.ivfPqTopK(s, d)),
    // two-stage search: ADC shortlist re-ranked with exact distances on
    // the raw vectors — full-vector reads bounded by queries x rerank
    "q108_ivfpq_rerank" -> ((s: SparkSession, d: String) =>
      ext.Similarity.ivfPqRerankTopK(s, d)),
    // HyperLogLog distinct-count sketch (256 registers, md5 domain) —
    // every register and the integer-scaled harmonic denominator are
    // oracle-replayed; estimate sits next to the exact count
    "q109_hll_distinct" -> ((s: SparkSession, d: String) =>
      ext.Sketches.hllDistinctUsers(s, d)),
    // count-min sketch heavy hitters: fixed 4x512 counter table, point
    // queries on the true top-20 tokens; est >= true by construction
    "q110_cms_heavy_hitters" -> ((s: SparkSession, d: String) =>
      ext.Sketches.cmsTopTokens(s, d)),
    // staleness-bounded as-of join (feature-store tolerance semantics):
    // a match older than 1 hour is nulled, exact integer-micros test
    "q111_asof_tolerance" -> ((s: SparkSession, d: String) =>
      ops.AsOf.purchasesWithRecentClick(s, d)),
    // stride-scheduled weighted curriculum order over sources — the
    // deterministic no-RNG mixture schedule, first 100 slots
    "q112_mix_order" -> ((s: SparkSession, d: String) =>
      ext.Sampling.mixtureOrder(s, d)),
    // alternating-star connected components (O(log n) rounds, diameter-
    // proof) over the exact dup pair set — q39's clustering contract,
    // provable-convergence algorithm
    "q113_cc_altstar" -> ((s: SparkSession, d: String) =>
      ext.ConnectedComponents.exactPairComponents(s, d)),
    // positional-postings phrase retrieval: top corpus bigram, then
    // docs containing it as a phrase via the two terms' postings only
    "q114_phrase_search" -> ((s: SparkSession, d: String) =>
      ext.Search.topPhraseSearch(s, d)),
    // Johnson–Lindenstrauss 64->16 projection with per-vector
    // norm-preservation audit (the distortion distribution IS the output)
    "q115_jl_projection" -> ((s: SparkSession, d: String) =>
      ext.Projection.jlNormAudit(s, d)),
    // stream-stream LEFT OUTER funnel: matched pairs + null-padded
    // clicks decided by the watermark (drop-off analysis)
    "q116_stream_funnel_outer" -> ((s: SparkSession, d: String) =>
      streaming.Streams.funnelLeftOuterSharedGate(s, d)),
    // ANN quality audit: per-query recall@k of the IVF index vs the
    // exact brute-force top-k (the gate before an approximate index
    // takes traffic)
    "q117_ann_recall" -> ((s: SparkSession, d: String) =>
      ext.Similarity.ivfRecall(s, d)),
    // CCNet-style LM quality filter: add-one bigram model trained on
    // the 'en' slice, per-doc negative log-likelihood under it
    "q118_bigram_lm" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.bigramLmScore(s, d)),
    // content-defined chunking (rsync/FastCDC family): rolling-hash cut
    // points, chunk-md5 dedup, per-doc duplicated-span ratio
    "q119_cdc_chunks" -> ((s: SparkSession, d: String) =>
      ext.CdcChunk.chunkDedupStats(s, d)),
    // mixture-design audit: exact 3-gram Jaccard between every source
    // pair (corpus-level overlap that never concentrates in one doc pair)
    "q120_source_overlap" -> ((s: SparkSession, d: String) =>
      ext.Dedup.sourceGramJaccard(s, d)),
    // streaming minhash-LSH near-dup: dedup-against-index at ingest
    // time; per-bucket state is ONE long (the earliest doc id)
    "q121_stream_minhash" -> ((s: SparkSession, d: String) =>
      streaming.Streams.minhashDedupAvailableNow(s, d)),
    // tokenizer-vocab coverage: per-source OOV rate under the corpus
    // top-1000 frequency-cut vocabulary (broadcast membership join)
    "q122_vocab_coverage" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.vocabCoverage(s, d)),
    // optimizer-grade join-size estimation: AMS count-sketch signed
    // inner product vs the exact lineitem x orders join count
    "q123_join_cardinality" -> ((s: SparkSession, d: String) =>
      ext.Sketches.amsJoinSizeEstimate(s, d)),
    // real multi-frame video container (animated GIF via ImageIO):
    // stride frame-sampling reads only the sampled frame indices
    "q124_video_frames" -> ((s: SparkSession, d: String) =>
      ext.Multimodal.videoFrameStats(s, d).toDF()),
    // capstone export manifest: quality filter -> dedup -> packing ->
    // per-source totals + order-sensitive layout checksum
    "q125_export_manifest" -> ((s: SparkSession, d: String) =>
      ext.Pipeline.exportManifest(s, d)),
    // length-staged curriculum deciles via a DISTRIBUTED global rank
    // (per-length bases + intra-length row_number, no single-task window)
    "q126_length_curriculum" -> ((s: SparkSession, d: String) =>
      ext.Sampling.lengthCurriculum(s, d)),
    // ANALYZE-style column stats (rows/NDV/min/max), one pass per table
    "q127_table_stats" -> ((s: SparkSession, d: String) =>
      ops.TableStats.columnStats(s, d)),
    // streaming HLL distinct-users sketch: bounded (type x 256) state,
    // arrival-order-invariant register maxima
    "q128_stream_hll" -> ((s: SparkSession, d: String) =>
      streaming.Streams.hllDistinctAvailableNow(s, d)),
    // feature-hashing vectorizer (the hashing trick): fitted-state-free
    // fixed-width text vectors in one map-side pass; integer-exact audit
    "q129_feature_hashing" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.hashedVectorProfile(s, d)),
    // typed Aggregator surface: bounded map-side top-k partials instead
    // of the full sort+window — same result, k rows shuffled per partition
    "q130_topk_aggregator" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.topTermsAggregated(s, d)),
    // format interop: JSONL/CSV/ORC write -> schema-enforced read-back,
    // certified lossless by the same md5 content summary per format
    "q131_format_roundtrip" -> ((s: SparkSession, d: String) =>
      sources.Sources.formatRoundTripGate(s, d)),
    // exact equi-width price histogram, integer cents end to end
    "q132_histogram" -> ((s: SparkSession, d: String) =>
      ops.TableStats.priceHistogram(s, d)),
    // TPC-H Q8-style market share: fact-fact join + broadcast dim +
    // conditional decimal aggregation, one pass
    "q133_market_share" -> ((s: SparkSession, d: String) =>
      ops.RefQueries.q133MarketShare(s, d)),
    // full TPC-H Q1 pricing summary: one scan, eight aggregates,
    // exact-decimal products
    "q134_pricing_summary" -> ((s: SparkSession, d: String) =>
      ops.RefQueries.q134PricingSummary(s, d)),
    // fasttext-classifier-shaped model inference: fixed-weight logistic
    // quality score over the engine's own text statistics, pure codegen
    "q135_quality_classifier" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.qualityClassifier(s, d)),
    // join-key skew diagnosis: per-key count distribution summary
    "q136_skew_profile" -> ((s: SparkSession, d: String) =>
      ops.Skew.keySkewProfile(s, d)),
    // sliding-window distinct (rolling 7-day active users): dedup to
    // (day,user) pairs, band-join the bounded day spine, never 7x|events|
    "q137_rolling_wau" -> ((s: SparkSession, d: String) =>
      ext.Events.rollingWau(s, d)),
    // dataset-version diff: fingerprint-first full-outer snapshot audit
    "q138_snapshot_diff" -> ((s: SparkSession, d: String) =>
      ext.Versioning.snapshotDiff(s, d)),
    // inverted-index build: df/tf + capped posting-list head per term
    "q139_posting_lists" -> ((s: SparkSession, d: String) =>
      ext.Search.postingLists(s, d)),
    // TPC-H Q3-style top-10 shipping priority: semi-filtered fact join,
    // exact-decimal deterministic ranking, TakeOrdered top-k
    "q140_shipping_priority" -> ((s: SparkSession, d: String) =>
      ops.RefQueries.q140ShippingPriority(s, d)),
    // semantic mixture audit: cosine matrix between per-label embedding
    // centroids, decimal-exact end to end
    "q141_centroid_similarity" -> ((s: SparkSession, d: String) =>
      ext.Similarity.labelCentroidSimilarity(s, d)),
    // two-sample KS drift statistic, exact cross-multiplied integers
    "q142_ks_drift" -> ((s: SparkSession, d: String) =>
      ext.Drift.ksDrift(s, d)),
    // behavioral path analysis: top consecutive event-type trigrams
    "q143_journey_trigrams" -> ((s: SparkSession, d: String) =>
      ext.Events.journeyTrigrams(s, d)),
    // blocked edit-distance entity resolution over the distinct name space
    "q144_fuzzy_match" -> ((s: SparkSession, d: String) =>
      ext.Fuzzy.fuzzyNameMatch(s, d)),
    // right-to-be-forgotten: broadcast anti-join deletion + reconciled audit
    "q145_forget_users" -> ((s: SparkSession, d: String) =>
      ext.Compliance.forgetUsersGate(s, d)),
    // crawl-economics curve: per-ingest-batch exact-dup fraction
    "q146_dup_curve" -> ((s: SparkSession, d: String) =>
      ext.Versioning.dupDiscoveryCurve(s, d)),
    // sessionized funnel conversion by customer segment (3-layer compose)
    "q147_segment_conversion" -> ((s: SparkSession, d: String) =>
      ext.Events.segmentConversion(s, d)),
    // incremental materialized-view maintenance: merge(old, delta) ≡ full
    "q148_incremental_view" -> ((s: SparkSession, d: String) =>
      ops.Incremental.incrementalHourlyGate(s, d)),
    // bucketed co-located join: zero-exchange fact-fact join, certified
    // lossless against the raw-parquet join
    "q149_bucketed_join" -> ((s: SparkSession, d: String) =>
      sources.Bucketing.bucketedJoinGate(s, d)),
    // time-series forward fill over the bounded hour x type spine
    "q150_gap_fill" -> ((s: SparkSession, d: String) =>
      ext.Events.gapFillHourly(s, d)),
    // cumulative distinct-user reach curve (exact growth metric)
    "q151_cumulative_reach" -> ((s: SparkSession, d: String) =>
      ext.Events.cumulativeReach(s, d)),
    // per-source token-concentration Gini, integer-exact rank formula
    "q152_source_gini" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.sourceGini(s, d)),
    // lambda handoff: streaming partial merged with batch partial == full
    "q153_lambda_handoff" -> ((s: SparkSession, d: String) =>
      streaming.Streams.lambdaHourlyAvailableNow(s, d)),
    // day-partitioned rewrite + statically pruned 7-day scan
    "q154_partition_pruning" -> ((s: SparkSession, d: String) =>
      sources.PartitionedLayout.prunedScanGate(s, d)),
    // mergeable histogram quantile sketch + exact error-bound audit
    "q155_quantile_sketch" -> ((s: SparkSession, d: String) =>
      ext.Sketches.histogramQuantiles(s, d)),
    // catalog-wide FK orphan audit: anti-joins with key checksums
    "q156_fk_integrity" -> ((s: SparkSession, d: String) =>
      ops.Profile.fkIntegrity(s, d)),
    // PMI co-occurrence over the top-k vocab (exact df integers, ln@4dp)
    "q157_pmi_cooccurrence" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.pmiCooccurrence(s, d)),
    // TPC-H Q5-style snowflake: one fact-fact shuffle, dims broadcast
    "q158_local_supplier_volume" -> ((s: SparkSession, d: String) =>
      ops.RefQueries.q158LocalSupplierVolume(s, d)),
    // streaming histogram sketch: stream-built registers == batch build
    "q159_stream_histogram" -> ((s: SparkSession, d: String) =>
      streaming.Streams.histogramSketchAvailableNow(s, d)),
    // latest-wins key compaction via max_by partials (no window sort)
    "q160_latest_per_key" -> ((s: SparkSession, d: String) =>
      ops.Cdc.latestPerKey(s, d)),
    // integer exponential time-decay trending scores (exact, no pow)
    "q161_trending" -> ((s: SparkSession, d: String) =>
      ext.Events.trendingScores(s, d)),
    // integer-exact capped-proportional data-mixing recipe
    "q162_mixture_plan" -> ((s: SparkSession, d: String) =>
      ext.Sampling.mixturePlan(s, d)),
    // similarity-decile histogram off the shared exact pair set
    "q163_sim_histogram" -> ((s: SparkSession, d: String) =>
      ext.Dedup.similarityHistogram(s, d)),
    // schema evolution: two writer vintages reconciled by a mergeSchema read
    "q164_schema_evolution" -> ((s: SparkSession, d: String) =>
      sources.PartitionedLayout.mergeSchemaGate(s, d)),
    // rolling-baseline anomaly detection (trailing-window z-scores)
    "q165_rolling_anomalies" -> ((s: SparkSession, d: String) =>
      ext.Events.rollingAnomalies(s, d)),
    // TPC-H Q10-style returned-item top-k with pushed returnflag scan
    "q166_returned_revenue" -> ((s: SparkSession, d: String) =>
      ops.RefQueries.q166ReturnedRevenue(s, d)),
    // association rules over user behavior (support/confidence/lift)
    "q167_basket_pairs" -> ((s: SparkSession, d: String) =>
      ext.Events.basketPairs(s, d)),
    // week-over-week percent-change report, decimal-exact weekly sums
    "q168_week_over_week" -> ((s: SparkSession, d: String) =>
      ext.Events.weekOverWeek(s, d)),
    // fuzzy point lookup through the injected optimizer Rule[LogicalPlan]
    // (EditDistanceBandRule adds the free length-band prefilter)
    "q169_fuzzy_lookup" -> ((s: SparkSession, d: String) =>
      ext.Fuzzy.fuzzyLookup(s, d)),
    // DAU / trailing-WAU stickiness engagement curve
    "q170_stickiness" -> ((s: SparkSession, d: String) =>
      ext.Events.stickiness(s, d)),
    // chi-square independence audit (lang x source), decimal-summed terms
    "q171_chi_square" -> ((s: SparkSession, d: String) =>
      ops.Profile.chiSquare(s, d)),
    // click->purchase time-to-convert: count/mean/p50/p90 of exact gaps
    "q172_time_to_convert" -> ((s: SparkSession, d: String) =>
      ext.Events.timeToConvert(s, d)),
    // cross-table as-of: each event tagged with the user's last order
    "q173_events_last_order" -> ((s: SparkSession, d: String) =>
      ops.AsOf.eventsWithLastOrder(s, d)),
    // TPC-H Q7-style bilateral trade-flow matrix
    "q174_nation_volume" -> ((s: SparkSession, d: String) =>
      ops.RefQueries.q174NationVolume(s, d)),
    // Benford first-digit forensics audit on order totals
    "q175_benford" -> ((s: SparkSession, d: String) =>
      ops.Profile.benfordAudit(s, d)),
    // weekly cohort-retention matrix (cohort week x offset triangle)
    "q176_cohort_retention" -> ((s: SparkSession, d: String) =>
      ext.Events.cohortRetention(s, d)),
    // corrupt-record-tolerant JSONL ingest with quarantine reconciliation
    "q177_corrupt_ingest" -> ((s: SparkSession, d: String) =>
      sources.Sources.corruptIngestGate(s, d)),
    // TPC-H Q2-style correlated-min scalar subquery (decorrelated)
    "q178_min_cost_supplier" -> ((s: SparkSession, d: String) =>
      ops.TpchPatterns.minCostSupplier(s, d)),
    // TPC-H Q4-style correlated EXISTS -> left semi join
    "q179_waiting_orders" -> ((s: SparkSession, d: String) =>
      ops.TpchPatterns.waitingOrders(s, d)),
    // TPC-H Q6-style scan-bound predicate aggregate (pushed filters)
    "q180_revenue_band" -> ((s: SparkSession, d: String) =>
      ops.TpchPatterns.revenueBand(s, d)),
    // TPC-H Q12-style CASE-conditional counting aggregate
    "q181_priority_lines" -> ((s: SparkSession, d: String) =>
      ops.TpchPatterns.priorityLines(s, d)),
    // TPC-H Q13-style outer-join count distribution (filter in ON)
    "q182_order_count_dist" -> ((s: SparkSession, d: String) =>
      ops.TpchPatterns.orderCountDist(s, d)),
    // TPC-H Q14-style conditional revenue ratio (exact-decimal sums)
    "q183_promo_share" -> ((s: SparkSession, d: String) =>
      ops.TpchPatterns.promoShare(s, d)),
    // TPC-H Q16-style NOT IN -> null-aware anti join census
    "q184_supplier_census" -> ((s: SparkSession, d: String) =>
      ops.TpchPatterns.supplierCensus(s, d)),
    // TPC-H Q18-style IN-aggregate-HAVING semi join
    "q185_large_orders" -> ((s: SparkSession, d: String) =>
      ops.TpchPatterns.largeOrders(s, d)),
    // TPC-H Q21-style correlated EXISTS + NOT EXISTS pair
    "q186_blocking_suppliers" -> ((s: SparkSession, d: String) =>
      ops.TpchPatterns.blockingSuppliers(s, d)),
    // TPC-H Q22-style scalar-subquery threshold + anti join
    "q187_dormant_customers" -> ((s: SparkSession, d: String) =>
      ops.TpchPatterns.dormantCustomers(s, d)),
    // nested image-struct layout, metadata read prunes the payload leaf
    "q188_image_metadata" -> ((s: SparkSession, d: String) =>
      ext.Multimodal.imageMetaSummary(s, d)),
    // TPC-H Q17-style correlated-avg threshold (decorrelated agg join)
    "q189_small_qty_revenue" -> ((s: SparkSession, d: String) =>
      ops.TpchPatterns.smallQtyRevenue(s, d)),
    // TPC-H Q15-style argmax supplier via scalar-max subquery
    "q190_top_supplier" -> ((s: SparkSession, d: String) =>
      ops.TpchPatterns.topSupplier(s, d)),
    // TPC-H Q19-style disjunctive predicate with per-side pushdown
    "q191_disjunctive_revenue" -> ((s: SparkSession, d: String) =>
      ops.TpchPatterns.disjunctiveRevenue(s, d)),
    // dynamic partition pruning: dim-filter-driven fact-scan pruning
    "q192_dynamic_pruning" -> ((s: SparkSession, d: String) =>
      sources.PartitionedLayout.dynamicPruningGate(s, d)),
    // LSH with exact-dup group collapse forced on: must be row-identical
    // to q26 (the mega-bucket defense is exact, not approximate)
    "q193_dedup_minhash_collapsed" -> ((s: SparkSession, d: String) =>
      ext.Dedup.minhashLsh(s, d, collapse = Some(true))),
    // the same forced-collapse exactness proof for the other three pair
    // families (each replays its direct twin's oracle verbatim)
    "q194_dedup_simhash_collapsed" -> ((s: SparkSession, d: String) =>
      ext.Dedup.simhashPairs(s, d, collapse = Some(true))),
    "q195_jaccard_collapsed" -> ((s: SparkSession, d: String) =>
      ext.Dedup.jaccardPairs(s, d, 0.8, collapse = Some(true))),
    "q196_containment_collapsed" -> ((s: SparkSession, d: String) =>
      ext.Dedup.containmentPairs(s, d, collapse = Some(true))),
    // DSIR importance-resampling data selection (hashed-bigram LM ratio)
    "q197_dsir_select" -> ((s: SparkSession, d: String) =>
      ext.Selection.dsirSelect(s, d)),
    // SemDeDup: cluster-bounded semantic dedup over the embedding space
    "q198_semdedup" -> ((s: SparkSession, d: String) =>
      ext.Similarity.semDedup(s, d)),
    // DSIR Gumbel-top-k importance RESAMPLING (seeded, oracle-replayable)
    "q199_dsir_resample" -> ((s: SparkSession, d: String) =>
      ext.Selection.dsirResample(s, d)),
    // DSIR with a held-out target corpus (the paper's primary two-corpus
    // formulation: curated source shapes the model, pool-only selection)
    "q200_dsir_heldout" -> ((s: SparkSession, d: String) =>
      ext.Selection.dsirSelectHeldout(s, d)),
    // Gopher rule-based quality bundle (Rae et al. 2021 App. A)
    "q201_gopher_rules" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.gopherRules(s, d)),
    // CCNet head/middle/tail perplexity terciles per language
    "q202_ccnet_buckets" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.ccnetBuckets(s, d)),
    // contrastive hard-negative mining (top-k similar, different label)
    "q203_hard_negatives" -> ((s: SparkSession, d: String) =>
      ext.Similarity.hardNegatives(s, d)),
    // the Gopher rule bundle composed into Structured Streaming
    // (stateless row-local rules; per-source census is the only state)
    "q204_stream_gopher" -> ((s: SparkSession, d: String) =>
      streaming.Streams.gopherKeepAvailableNow(s, d)),
    // CCNet terciles over the BOUNDED top-V+OOV LM — the production
    // model shape whose tables stay flat as the corpus grows
    "q205_ccnet_bounded" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.ccnetBucketsBounded(s, d)),
    // streaming dedup with FIXED Bloom state (flat footprint at any
    // corpus size; documented FP rate, exact at gate scale)
    "q206_stream_dedup_bloom" -> ((s: SparkSession, d: String) =>
      streaming.Streams.bloomDedupAvailableNow(s, d)),
    // streaming CONTENT dedup (fingerprint-keyed Bloom): the ingest
    // filter answering "seen this exact content?" with bounded state
    "q207_stream_doc_dedup" -> ((s: SparkSession, d: String) =>
      streaming.Streams.bloomDocDedupAvailableNow(s, d)),
    // q206 under PRODUCTION delivery: events redelivered across 6
    // micro-batches (maxFilesPerTrigger=1) — certifies cross-batch
    // Bloom state continuity against the same order-insensitive oracle
    "q208_stream_dedup_multibatch" -> ((s: SparkSession, d: String) =>
      streaming.Streams.bloomDedupMultiBatch(s, d)),
    // q207 under production delivery: survivor fingerprint SET is
    // delivery-order-invariant — one survivor per distinct content,
    // duplicates dropped across batch boundaries
    "q209_stream_doc_dedup_multibatch" -> ((s: SparkSession, d: String) =>
      streaming.Streams.bloomDocDedupMultiBatch(s, d)),
    // TIME-horizon-bounded dedup: two rotating Bloom generations per
    // shard ("seen in the last N hours?") — state bounded by allocation
    // AND by time; the production answer to a fixed filter filling up
    "q210_stream_dedup_windowed" -> ((s: SparkSession, d: String) =>
      streaming.Streams.bloomDedupWindowedAvailableNow(s, d)),
    // CCNet-style cross-corpus PARAGRAPH dedup: segment → hash →
    // global first occurrence → reassemble surviving paragraphs
    "q211_paragraph_dedup" -> ((s: SparkSession, d: String) =>
      ext.Dedup.paragraphDedup(s, d)),
    // per-source token-budget cap (mixture-plan enactment) via the
    // q64 hierarchical prefix sum — exact, replayable selection
    "q212_source_token_cap" -> ((s: SparkSession, d: String) =>
      ext.Sampling.sourceTokenCap(s, d)),
    // iterative BPE merge training over the vocabulary frame — the
    // tokenizer-trainer loop (q69 is its first iteration's statistic)
    "q213_bpe_merges" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.bpeMerges(s, d)),
    // streaming paragraph dedup (q211's unit × q206's bounded Bloom),
    // certified across redelivered micro-batches
    "q215_stream_para_dedup_multibatch" -> ((s: SparkSession, d: String) =>
      streaming.Streams.paragraphDedupMultiBatch(s, d)),
    // apply side of the BPE trainer: per-source token counts under the
    // learned merges (fertility = n_tokens / n_words)
    "q214_bpe_encode" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.bpeEncode(s, d)),
    // ExactSubstr REMOVAL — the rewrite enactment of q89's audit
    "q216_substr_remove" -> ((s: SparkSession, d: String) =>
      ext.SubstrDup.substrRemove(s, d)),
    // mixture-epoch expansion — the (doc, epoch) materialization of a
    // capped-proportional plan (q162 allocation × q212 prefix rule)
    "q217_epoch_expand" -> ((s: SparkSession, d: String) =>
      ext.Sampling.epochExpand(s, d)),
    // streaming count-min heavy hitters — completes the streaming
    // sketch trio (q128 HLL distincts, q159 histogram quantiles);
    // counter adds commute, so the stream-built table IS the batch
    // table and the q110 oracle certifies it verbatim
    "q218_stream_cms" -> ((s: SparkSession, d: String) =>
      streaming.Streams.cmsTopTokensAvailableNow(s, d)),
    // consecutive-duplicate-token collapse — map-side cleaning rewrite
    "q219_collapse_repeats" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.collapseRepeats(s, d)),
    // per-source first-fail attribution across the Gopher rule cascade
    "q220_gopher_funnel" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.gopherFunnel(s, d)),
    // dedup-weighted diversity sampling: keep-prob ~ 1/cluster_size
    "q221_diversity_sample" -> ((s: SparkSession, d: String) =>
      ext.Dedup.diversitySample(s, d)),
    // closed-vocabulary <unk> rewrite — enacts q122's frozen vocab
    "q222_vocab_prune" -> ((s: SparkSession, d: String) =>
      ext.TextAnalysis.vocabPrune(s, d)),
    // streaming ingest pipeline: quality -> sample -> Bloom dedup in
    // ONE query (only the dedup holds state)
    "q223_stream_ingest" -> ((s: SparkSession, d: String) =>
      streaming.Streams.ingestPipelineAvailableNow(s, d)),
    // perceptual-hash (dHash) image near-dup census over real decodes
    "q224_image_dhash" -> ((s: SparkSession, d: String) =>
      ext.Multimodal.imageDhashCensus(s, d)),
    // the composed ingest pipeline certified across redelivered
    // micro-batches (fingerprint set is delivery-order-invariant)
    "q225_stream_ingest_multibatch" -> ((s: SparkSession, d: String) =>
      streaming.Streams.ingestPipelineMultiBatch(s, d)),
    // incremental NEAR-dup admission: new batch probed against the
    // standing corpus LSH index (delta-sized daily work)
    "q226_incr_near_dedup" -> ((s: SparkSession, d: String) =>
      ext.Dedup.incrementalNearDedup(s, d)),
    // epoch-aware training order: per-epoch reshuffle from hashing
    // (doc, epoch) jointly; first-100-slots gate (TakeOrdered)
    "q227_epoch_order" -> ((s: SparkSession, d: String) =>
      ext.Sampling.epochOrder(s, d)),
    // exact per-source stratified split (hierarchical md5 rank)
    "q228_stratified_split" -> ((s: SparkSession, d: String) =>
      ext.Splits.stratifiedSplit(s, d)),
    // q88's anomaly rule at ingest: stream-built hourly rollup through
    // the shared batch stats + z-filter tail
    "q229_stream_anomalies" -> ((s: SparkSession, d: String) =>
      streaming.Streams.hourlyAnomaliesAvailableNow(s, d)),
    // cross-modal agreement audit: text near-dup pairs joined to their
    // embedding cosine (catches stale/mis-keyed embedding tables)
    "q230_crossmodal_audit" -> ((s: SparkSession, d: String) =>
      ext.Similarity.crossModalAudit(s, d)),
    // the audit's AGREEING direction: text-DERIVED embeddings (hashed
    // bag-of-words, computed in-query in both engines) make text dups
    // cluster at cosine 1 — q230's disagreement outcome is not the
    // only one the operator can certify
    "q231_crossmodal_agree" -> ((s: SparkSession, d: String) =>
      ext.Similarity.crossModalAgree(s, d)),
    // q226 with the exact-dup collapse FORCED on: the standing-index
    // probe plan (one row per distinct fingerprint on BOTH sides) must
    // replay the direct oracle row-for-row (the q193 pattern)
    "q232_incr_near_dedup_collapsed" -> ((s: SparkSession, d: String) =>
      ext.Dedup.incrementalNearDedup(s, d, collapse = Some(true))),
    // two-batch standing-index maintenance: batch 1 probed + novel
    // docs ADMITTED, batch 2 probed against the UPDATED index
    "q233_neardup_index_2batch" -> ((s: SparkSession, d: String) =>
      ext.Dedup.nearDupIndexTwoBatch(s, d)),
    // the same composition as a DURABLE on-disk table: index written to
    // parquet, batch 1 admitted by appending to the table, table
    // compacted, batch 2 probed against the compacted table — every
    // step reads only state the previous step wrote to disk. Same
    // oracle as q233: the durable lifecycle must replay the in-plan
    // composition row for row.
    "q234_neardup_index_durable" -> ((s: SparkSession, d: String) =>
      ext.Dedup.nearDupIndexDurableGate(s, d)),
    // within-cluster spectrum probe (the ANN probes-vs-codes decision
    // input): exact per-cell covariance numerators over quantized
    // elements — every aggregate is an order-free integer-decimal sum,
    // so the gate is hash-exact across engines
    "q235_cluster_spectrum" -> ((s: SparkSession, d: String) =>
      ext.Similarity.clusterSpectrumGate(s, d)),
  )

  /** Brute-force same-source jaccard oracle (shared by q28 and its
    * forced-collapse twin q195). */
  private val jaccardBruteOracleSql: String =
    """WITH d AS (SELECT doc_id, source,
      |  list_distinct(string_split(trim(regexp_replace(regexp_replace(
      |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
      |    AS ws
      | FROM documents)
      |SELECT a_id, b_id, jac FROM (
      | SELECT l.doc_id AS a_id, r.doc_id AS b_id,
      |  CAST(len(list_intersect(l.ws, r.ws)) AS DOUBLE) /
      |   (len(l.ws) + len(r.ws) - len(list_intersect(l.ws, r.ws))) AS jac
      | FROM d l, d r
      | WHERE l.source = r.source AND l.doc_id < r.doc_id) p
      |WHERE jac >= 0.8""".stripMargin

  /** DuckDB-runnable ANSI SQL oracle per query (same parquet tables). */
  def oracleSql: Map[String, String] = Map(
    "q01_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |      AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-06-01' AND l_quantity < 10"""
        .stripMargin,
    "q02_cross_join" ->
      """SELECT o_orderkey, c_name, round(o_totalprice, 2) AS total
        |FROM orders, customer
        |WHERE o_custkey = c_custkey AND o_totalprice > 400000"""
        .stripMargin,
    "q03_inner_join" ->
      """SELECT c_name, o_orderkey, round(o_totalprice, 2) AS total
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |WHERE o_orderstatus = 'F'""".stripMargin,
    "q04_left_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,
    "q05_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | count(*) AS n_rows, count(l_quantity) AS n_qty,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(avg(l_extendedprice), 2) AS avg_price,
        | min(l_discount) AS min_disc, max(l_tax) AS max_tax
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q06_having" ->
      """SELECT o_orderpriority, count(*) AS n,
        | round(avg(o_totalprice), 2) AS avg_total
        |FROM orders GROUP BY o_orderpriority HAVING count(*) > 100"""
        .stripMargin,
    "q07_global_agg" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS sum_total,
        | round(avg(o_totalprice), 2) AS avg_total,
        | round(min(o_totalprice), 2) AS min_total,
        | round(max(o_totalprice), 2) AS max_total
        |FROM orders""".stripMargin,
    "q08_corr_subquery" ->
      """SELECT (SELECT n_name FROM nation WHERE n_nationkey = g.c_nationkey)
        |         AS nation_name,
        |       num_customers, avg_bal
        |FROM (SELECT c_nationkey, count(*) AS num_customers,
        |             round(avg(c_acctbal), 2) AS avg_bal
        |      FROM customer GROUP BY c_nationkey) g""".stripMargin,
    "q09_scalar_subquery" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS total
        |FROM orders
        |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)"""
        .stripMargin,
    "q10_expr_semantics" ->
      """SELECT l_orderkey, l_linenumber,
        | CASE WHEN l_tax = 0 THEN NULL
        |      ELSE round(l_quantity / l_tax, 2) END AS qty_per_tax,
        | l_returnflag || l_linestatus AS flag_status,
        | CAST(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        |           AS DECIMAL(18,6)) AS DOUBLE) AS charge
        |FROM lineitem WHERE l_orderkey < 200""".stripMargin,
    "q11_topk" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS total
        |FROM orders ORDER BY total DESC, o_orderkey LIMIT 10""".stripMargin,
    "q12_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer",
    "q13_setops" ->
      """(SELECT c_nationkey AS nk FROM customer
        | UNION
        | SELECT s_nationkey AS nk FROM supplier)
        |INTERSECT
        |SELECT s_nationkey AS nk FROM supplier
        |EXCEPT
        |SELECT n_nationkey AS nk FROM nation WHERE n_regionkey = 0"""
        .stripMargin,
    "q14_window" ->
      """SELECT o_custkey, o_orderkey, total, rnk FROM (
        | SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total,
        |  row_number() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        | FROM orders) t WHERE rnk <= 3""".stripMargin,
    "q15_star_join" ->
      """SELECT n_name, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q16_sqlfront_join_group" ->
      """SELECT n_name, count(*) AS n, min(c_acctbal) AS min_bal,
        |       max(c_acctbal) AS max_bal
        |FROM customer, nation
        |WHERE c_nationkey = n_nationkey
        |GROUP BY n_name HAVING count(*) > 10""".stripMargin,
    "q17_sqlfront_corr_subq" ->
      """SELECT n_name,
        |  (SELECT count(*) FROM customer
        |   WHERE customer.c_nationkey = nation.n_nationkey) AS n_cust
        |FROM nation""".stripMargin,
    "q18_sqlfront_theta_subq" ->
      """SELECT o_orderkey,
        |  (SELECT count(*) FROM lineitem
        |   WHERE lineitem.l_orderkey = orders.o_orderkey
        |     AND lineitem.l_extendedprice < orders.o_totalprice)
        |    AS n_below
        |FROM orders WHERE o_orderkey < 1000""".stripMargin,
    "q19_sqlfront_on_subq" ->
      """SELECT c_name, o_orderkey
        |FROM customer JOIN orders
        |ON c_custkey = o_custkey
        |   AND o_totalprice > 1.2 * (SELECT avg(o_totalprice) FROM orders)"""
        .stripMargin,
    "q40_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        | rank() OVER (PARTITION BY o_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
        | lag(o_orderkey) OVER (PARTITION BY o_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey) AS prev_ok,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 2)
        |   AS cust_total
        |FROM orders WHERE o_custkey < 300""".stripMargin,
    "q41_mix_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
        |      CASE WHEN length(source) <= 4 THEN 'c' ELSE '4' END"""
        .stripMargin,
    "q43_mix_rates" ->
      """SELECT source, count(*) AS n_total,
        | CAST(sum(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
        |      CASE WHEN length(source) <= 4 THEN 'c' ELSE '4' END
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents GROUP BY source""".stripMargin,
    "q42_stream_enrich" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(value), 2)
        |   AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q46_stream_funnel" ->
      """SELECT e1.user_id AS user_id, e1.event_id AS click_id,
        |       e2.event_id AS purchase_id
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id
        | AND e1.event_type = 'click' AND e2.event_type = 'purchase'
        | AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR"""
        .stripMargin,
    "q47_asof_join" ->
      """SELECT purchase_id, user_id, last_click_id FROM (
        |  SELECT event_id AS purchase_id, user_id, side,
        |    last_value(click_id IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, side, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS last_click_id
        |  FROM (SELECT user_id, ts, event_id, 1 AS side,
        |               NULL AS click_id
        |        FROM events WHERE event_type = 'purchase'
        |        UNION ALL
        |        SELECT user_id, ts, event_id, 0, event_id
        |        FROM events WHERE event_type = 'click') u
        |) WHERE side = 1""".stripMargin,
    "q48_salted_join" ->
      """SELECT l_orderkey AS k, count(*) AS n,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000
        |GROUP BY l_orderkey""".stripMargin,
    "q49_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n,
        |       sum(l_quantity) AS sum_l_quantity
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q44_top_terms" ->
      """SELECT source, token, n, rnk FROM (
        |  SELECT source, token, count(*) AS n,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY count(*) DESC, token) AS rnk
        |  FROM (SELECT source, unnest(string_split(
        |          trim(regexp_replace(regexp_replace(lower(text),
        |            '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
        |          AS token
        |        FROM documents)
        |  WHERE token <> ''
        |  GROUP BY source, token)
        |WHERE rnk <= 5""".stripMargin,
    // ---- extensions ----
    // q26/q27: md5-based hashing makes the minhash/simhash pipelines
    // exactly SQL-reproducible (the winnowing trick on integer domains)
    "q26_dedup_minhash" -> ext.Dedup.minhashLshOracleSql(),
    "q27_dedup_simhash" -> ext.Dedup.simhashPairsOracleSql(),
    // q31: the LSH hyperplanes are fixed-seed constants — embedded as
    // literals; bucket signs replayed bit-exactly via list_reduce
    "q31_knn_lsh" -> ext.Similarity.lshTopKOracleSql(),
    // q37/q85: trained model constants (IVF centroids / PQ codebooks)
    // are DETERMINISTIC functions of the table (decimal-accumulated or
    // driver-side sorted-sample training), captured from the run that
    // Verify just executed and embedded as literals; every discrete
    // decision (cell assignment, probe choice, argmin code) replays
    // bit-exactly in DuckDB
    "q37_knn_ivf" -> ext.Similarity.ivfTopKOracleSql(),
    "q85_pq_codes" -> ext.Quantize.pqCodesOracleSql,
    // q34: the media payloads are real PNG/GIF/BMP bytes generated
    // deterministically from doc_id (solid gray doc_id % 256, size
    // derived from doc_id), and the gate sums the DECODED values — so
    // the oracle recomputes the same integer sums analytically from
    // doc_id, verifying the javax.imageio encode→decode round trip.
    "q34_multimodal" ->
      """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
        |            WHEN 1 THEN 'gif' ELSE 'bmp' END AS format,
        |  count(*) AS n,
        |  CAST(sum(doc_id % 13 + 4) AS BIGINT) AS sum_width,
        |  CAST(sum(doc_id % 7 + 4) AS BIGINT) AS sum_height,
        |  CAST(sum(doc_id % 256) AS BIGINT) AS sum_gray,
        |  CAST(sum(CASE WHEN doc_id % 256 < 32 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_f0
        |FROM documents GROUP BY 1""".stripMargin,
    "q20_text_stats" ->
      """SELECT doc_id, n_tokens, n_alnum, n_stop, n_chars_raw,
        | CAST(n_stop AS DOUBLE) / NULLIF(n_tokens, 0) AS stop_ratio,
        | CAST(n_alnum AS DOUBLE) / NULLIF(n_tokens, 0) AS avg_token_len
        |FROM (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |    AS n_tokens,
        |  CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
        |    AS BIGINT) AS n_alnum,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '\b(the|a|an|and|of|to|in|is|it|for)\b')) AS BIGINT) AS n_stop,
        |  CAST(length(text) AS BIGINT) AS n_chars_raw
        | FROM documents) t""".stripMargin,
    "q45_quality_filter" ->
      """SELECT doc_id, n_tokens, n_stop
        |FROM (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |    AS n_tokens,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '\b(the|a|an|and|of|to|in|is|it|for)\b')) AS BIGINT) AS n_stop
        | FROM documents) t
        |WHERE n_tokens >= 20 AND n_tokens <= 1000
        |  AND n_stop * 10 <= n_tokens * 6""".stripMargin,
    "q21_lang_id" -> ext.TextAnalysis.langIdOracleSql,
    "q22_fingerprint" ->
      """SELECT doc_id,
        | md5(trim(regexp_replace(regexp_replace(lower(text),
        |   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    "q23_token_count" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text,
        |   '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |   AS n_word_tokens
        |FROM documents""".stripMargin,
    "q24_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id,
        | count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q25_dedup_fingerprint" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp,
        | min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q28_jaccard_pairs" -> jaccardBruteOracleSql,
    "q39_dedup_clusters" ->
      """WITH RECURSIVE d AS (SELECT doc_id, source,
        |  list_distinct(string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
        |    AS ws
        | FROM documents),
        |p AS (SELECT a_id, b_id FROM (
        | SELECT l.doc_id AS a_id, r.doc_id AS b_id,
        |  CAST(len(list_intersect(l.ws, r.ws)) AS DOUBLE) /
        |   (len(l.ws) + len(r.ws) - len(list_intersect(l.ws, r.ws))) AS jac
        | FROM d l, d r
        | WHERE l.source = r.source AND l.doc_id < r.doc_id) q
        | WHERE jac >= 0.8),
        |e AS (SELECT a_id AS src, b_id AS dst FROM p
        |      UNION SELECT b_id, a_id FROM p),
        |reach(id, label) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.src, r.label FROM e JOIN reach r ON e.dst = r.id),
        |lab AS (SELECT id, min(label) AS label FROM reach GROUP BY id)
        |SELECT doc_id, coalesce(lab.label, doc_id) AS cluster
        |FROM documents LEFT JOIN lab ON doc_id = lab.id
        |WHERE doc_id = coalesce(lab.label, doc_id)""".stripMargin,
    "q29_emb_neardup" ->
      """SELECT a_id, b_id, round(CAST(cos AS DOUBLE), 4) AS cos_r FROM (
        | SELECT l.vec_id AS a_id, r.vec_id AS b_id,
        |  list_cosine_similarity(l.embedding, r.embedding) AS cos
        | FROM embeddings l, embeddings r
        | WHERE l.label = r.label AND l.vec_id < r.vec_id) p
        |WHERE cos >= 0.35""".stripMargin,
    "q30_knn_brute" ->
      """SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk FROM (
        | SELECT q.vec_id AS qid, e.vec_id AS nid,
        |  row_number() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
        |            e.vec_id) AS rnk
        | FROM embeddings q, embeddings e
        | WHERE q.vec_id < 5 AND e.vec_id != q.vec_id) t
        |WHERE rnk <= 10""".stripMargin,
    "q32_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS h, event_type,
        | count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q33_sessionize" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(new_session) AS BIGINT) AS n_sessions
        |FROM (SELECT user_id,
        |  CASE WHEN prev_ts IS NULL THEN 1
        |       WHEN epoch(ts) - epoch(prev_ts) > 1800.0 THEN 1
        |       ELSE 0 END AS new_session
        | FROM (SELECT user_id, ts, event_id,
        |   lag(ts) OVER (PARTITION BY user_id
        |                 ORDER BY ts, event_id) AS prev_ts
        |  FROM events) t) s
        |GROUP BY user_id""".stripMargin,
    "q38_json_props" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |      AS BIGINT) AS sum_k,
        | round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
        |   AS avg_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q35_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS h, event_type,
        | count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q36_stream_sessionize" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(new_session) AS BIGINT) AS n_sessions
        |FROM (SELECT user_id,
        |  CASE WHEN prev_ts IS NULL THEN 1
        |       WHEN epoch(ts) - epoch(prev_ts) > 1800.0 THEN 1
        |       ELSE 0 END AS new_session
        | FROM (SELECT user_id, ts, event_id,
        |   lag(ts) OVER (PARTITION BY user_id
        |                 ORDER BY ts, event_id) AS prev_ts
        |  FROM events) t) s
        |GROUP BY user_id""".stripMargin,
    "q50_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       sum(l_quantity) AS sum_l_quantity
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q51_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       sum(l_quantity) AS sum_l_quantity
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q52_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       sum(l_quantity) AS sum_l_quantity
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
        .stripMargin,
    "q53_pivot" ->
      """SELECT date_trunc('hour', ts) AS h,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_click,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_error,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_purchase,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_signup,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_view
        |FROM events GROUP BY 1""".stripMargin,
    "q54_percentile" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.5) AS p50,
        |       quantile_cont(l_quantity, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q55_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS n_tf FROM toks
        |  WHERE token <> '' GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
        |SELECT doc_id, token, n_tf, df, score, CAST(rnk AS BIGINT) AS rnk
        |FROM (
        |  SELECT tf.doc_id, tf.token, tf.n_tf, dfreq.df,
        |         tf.n_tf * 1000000 // dfreq.df AS score,
        |         row_number() OVER (
        |           PARTITION BY tf.doc_id
        |           ORDER BY (tf.n_tf * 1000000 // dfreq.df) DESC, tf.token)
        |           AS rnk
        |  FROM tf JOIN dfreq USING (token)) t
        |WHERE rnk <= 3""".stripMargin,
    "q56_repetition" ->
      """WITH tf AS (
        |  SELECT doc_id, token, count(*) AS n FROM (
        |    SELECT doc_id, unnest(string_split(
        |      trim(regexp_replace(regexp_replace(lower(text),
        |        '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS token
        |    FROM documents)
        |  WHERE token <> '' GROUP BY doc_id, token)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        |       count(*) AS n_distinct, CAST(max(n) AS BIGINT) AS max_tf,
        |       CAST(max(n) AS DOUBLE) / CAST(sum(n) AS BIGINT)
        |         AS top_share,
        |       CAST(count(*) AS DOUBLE) / CAST(sum(n) AS BIGINT)
        |         AS distinct_ratio
        |FROM tf GROUP BY doc_id""".stripMargin,
    "q57_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS ts
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(ts[i:i+3], ' ') AS gram
        |  FROM (SELECT doc_id, ts,
        |          unnest(generate_series(1, len(ts) - 3)) AS i
        |        FROM toks WHERE len(ts) >= 4)),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0),
        |train AS (SELECT doc_id, gram FROM grams WHERE doc_id % 20 <> 0)
        |SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT)
        |         AS n_shared_grams
        |FROM train JOIN bench USING (gram)
        |GROUP BY doc_id""".stripMargin,
    "q58_chunking" -> ext.Chunking.chunksOracleSql(),
    "q59_pii_redact" -> ext.Pii.piiAuditOracleSql,
    "q60_bloom_join" ->
      """SELECT l_orderkey, count(*) AS n,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 450000
        |GROUP BY l_orderkey""".stripMargin,
    "q61_range_join" -> ops.RangeJoin.errorsNearClicksOracleSql,
    "q62_token_spectrum" ->
      ext.TextAnalysis.tokenFrequencySpectrumOracleSql,
    "q63_clean_corpus" -> ext.Pipeline.cleanCorpusOracleSql(),
    "q64_seq_packing" -> ext.Packing.packedDocsOracleSql(),
    "q65_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_totalprice > 300000)""".stripMargin,
    "q66_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_totalprice > 300000)""".stripMargin,
    "q67_full_outer_join" ->
      """SELECT coalesce(ck, sk) AS nationkey, n_cust, n_supp
        |FROM (SELECT c_nationkey AS ck, count(*) AS n_cust
        |      FROM customer WHERE c_nationkey < 15 GROUP BY 1) l
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS sk, count(*) AS n_supp
        |      FROM supplier WHERE s_nationkey >= 10 GROUP BY 1) r
        |ON ck = sk""".stripMargin,
    "q68_stream_dedup" ->
      "SELECT event_id, event_type, value FROM events",
    "q69_bpe_pairs" -> ext.TextAnalysis.bpePairCountsOracleSql(),
    "q70_audio_decode" -> ext.Multimodal.audioFeaturesOracleSql,
    "q71_distinct_agg" ->
      """SELECT event_type,
        | count(DISTINCT user_id) AS n_users,
        | count(DISTINCT date_trunc('day', ts)) AS n_days,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q72_range_window" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        | CAST(count(*) OVER (
        |   PARTITION BY user_id ORDER BY epoch_us(ts)
        |   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |   AS BIGINT) AS n_prev_hour
        |FROM events""".stripMargin,
    "q73_temp_rates" -> ext.Sampling.temperatureRatesOracleSql,
    "q74_reservoir" -> ext.Sampling.reservoirSampleOracleSql(),
    "q75_dup_ngrams" -> ext.TextAnalysis.dupNgramStatsOracleSql(),
    "q76_moment_stats" -> ops.Olap.momentStatsOracleSql,
    "q77_bm25" -> ext.TextAnalysis.bm25TopKOracleSql(),
    "q78_int8_quant" -> ext.Quantize.int8StatsOracleSql,
    // Multi-statement mutation scripts: DuckDB executes every statement
    // and returns the trailing SELECT. Statement-for-statement identical
    // to the dialect scripts the Spark side runs through graft.Engine.
    "q79_dml_update" ->
      """CREATE TEMP TABLE dml_acct (id BIGINT, bal BIGINT, seg VARCHAR);
        |INSERT INTO dml_acct
        |  SELECT n_nationkey, (n_regionkey + 1) * 100, n_name FROM nation;
        |UPDATE dml_acct SET bal = bal * 2 + 5 WHERE id > 10;
        |UPDATE dml_acct SET seg = 'low' WHERE bal < 300;
        |DELETE FROM dml_acct WHERE id = 3 OR bal > 900;
        |SELECT id, bal, seg FROM dml_acct""".stripMargin,
    "q80_insert_select" ->
      """CREATE TEMP TABLE dml_log (k BIGINT, tag VARCHAR, amt BIGINT);
        |INSERT INTO dml_log VALUES (1, 'a', 10), (2, 'b', NULL),
        |                           (3, 'c', 2 + 3 * 4);
        |INSERT INTO dml_log
        |  SELECT n_nationkey + 100, n_name, n_regionkey
        |  FROM nation WHERE n_regionkey <> 2;
        |INSERT INTO dml_log (k, tag) VALUES (4, 'd');
        |SELECT k, tag, amt FROM dml_log""".stripMargin,
    "q81_hash_split" -> ext.Splits.hashSplitOracleSql(),
    "q82_incremental_dedup" -> ext.Splits.incrementalDedupOracleSql,
    "q83_winnowing" -> ext.Winnow.fingerprintsOracleSql(),
    "q84_gram_novelty" -> ext.TextAnalysis.gramNoveltyOracleSql(),
    "q86_winnow_matches" -> ext.Winnow.matchesOracleSql(),
    "q87_corpus_card" -> ext.Pipeline.corpusCardOracleSql,
    "q88_hourly_anomalies" -> ext.Events.hourlyAnomaliesOracleSql(),
    "q89_substr_dup" -> ext.SubstrDup.substrDupStatsOracleSql(),
    "q90_split_leakage" -> ext.Splits.splitLeakageOracleSql(),
    "q91_retention" -> ext.Events.retentionCohortsOracleSql,
    "q92_dup_pagerank" -> ext.PageRank.dupPagerankOracleSql(),
    "q93_cluster_sizes" -> ext.Dedup.clusterSizeHistogramOracleSql(),
    "q94_profile" -> ops.Profile.lineitemProfileOracleSql,
    "q95_image_resize" -> ext.Multimodal.resizeSummaryOracleSql(),
    "q96_stream_dedup_hourly" ->
      streaming.Streams.dedupHourlySharedOracleSql(),
    "q97_cdc_merge" -> ops.Cdc.customerMergeOracleSql,
    "q98_compaction" -> sources.Sources.compactionGateOracleSql,
    "q99_zorder" -> sources.ZOrder.zorderGateOracleSql,
    "q100_shuffle_shards" -> ext.Splits.shuffleShardsOracleSql(),
    "q101_best_of_cluster" -> ext.Dedup.bestOfClustersOracleSql(),
    "q102_dup_triangles" -> ext.PageRank.dupTrianglesOracleSql(),
    "q103_containment" -> ext.Dedup.containmentPairsOracleSql(),
    "q104_containment_est" -> ext.Dedup.containmentEstimateOracleSql(),
    "q105_session_window" -> ext.Events.sessionWindowOracleSql,
    "q106_stream_session_window" ->
      streaming.Streams.sessionWindowSharedOracleSql(),
    "q107_ivfpq_adc" -> ext.Similarity.ivfPqOracleSql(),
    "q108_ivfpq_rerank" -> ext.Similarity.ivfPqRerankOracleSql(),
    "q109_hll_distinct" -> ext.Sketches.hllOracleSql,
    "q110_cms_heavy_hitters" -> ext.Sketches.cmsOracleSql(),
    "q111_asof_tolerance" ->
      """SELECT purchase_id, user_id,
        |  CASE WHEN last_click_ts IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(last_click_ts) <= 3600000000
        |       THEN last_click_id END AS recent_click_id
        |FROM (
        |  SELECT event_id AS purchase_id, user_id, side, ts,
        |    last_value(click_id IGNORE NULLS) OVER w AS last_click_id,
        |    last_value(click_ts IGNORE NULLS) OVER w AS last_click_ts
        |  FROM (SELECT user_id, ts, event_id, 1 AS side,
        |               CAST(NULL AS BIGINT) AS click_id,
        |               CAST(NULL AS TIMESTAMP) AS click_ts
        |        FROM events WHERE event_type = 'purchase'
        |        UNION ALL
        |        SELECT user_id, ts, event_id, 0, event_id, ts
        |        FROM events WHERE event_type = 'click') u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |) WHERE side = 1""".stripMargin,
    "q112_mix_order" -> ext.Sampling.mixtureOrderOracleSql(),
    "q113_cc_altstar" ->
      ext.ConnectedComponents.exactPairComponentsOracleSql(),
    "q114_phrase_search" -> ext.Search.topPhraseSearchOracleSql,
    "q115_jl_projection" -> ext.Projection.jlNormAuditOracleSql,
    "q116_stream_funnel_outer" ->
      streaming.Streams.funnelLeftOuterOracleSql(),
    "q117_ann_recall" -> ext.Similarity.ivfRecallOracleSql(),
    "q118_bigram_lm" -> ext.TextAnalysis.bigramLmScoreOracleSql(),
    "q119_cdc_chunks" -> ext.CdcChunk.chunkDedupStatsOracleSql(),
    "q120_source_overlap" -> ext.Dedup.sourceGramJaccardOracleSql(),
    "q121_stream_minhash" -> ext.Dedup.streamingLshDedupOracleSql(),
    "q122_vocab_coverage" -> ext.TextAnalysis.vocabCoverageOracleSql(),
    "q123_join_cardinality" -> ext.Sketches.amsJoinSizeOracleSql(),
    "q124_video_frames" -> ext.Multimodal.videoFrameStatsOracleSql(),
    "q125_export_manifest" -> ext.Pipeline.exportManifestOracleSql(),
    "q126_length_curriculum" -> ext.Sampling.lengthCurriculumOracleSql(),
    "q127_table_stats" -> ops.TableStats.columnStatsOracleSql(),
    "q128_stream_hll" -> ext.Sketches.hllStreamOracleSql,
    "q129_feature_hashing" -> ext.TextAnalysis.hashedVectorProfileOracleSql(),
    "q130_topk_aggregator" ->
      """SELECT source, token, n, rnk FROM (
        |  SELECT source, token, count(*) AS n,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY count(*) DESC, token) AS rnk
        |  FROM (SELECT source, unnest(string_split(
        |          trim(regexp_replace(regexp_replace(lower(text),
        |            '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
        |          AS token
        |        FROM documents)
        |  WHERE token <> ''
        |  GROUP BY source, token)
        |WHERE rnk <= 5""".stripMargin,
    "q131_format_roundtrip" -> sources.Sources.formatRoundTripOracleSql(),
    "q132_histogram" -> ops.TableStats.priceHistogramOracleSql(),
    "q133_market_share" -> ops.RefQueries.q133MarketShareOracleSql(),
    "q134_pricing_summary" -> ops.RefQueries.q134PricingSummaryOracleSql(),
    "q135_quality_classifier" ->
      ext.TextAnalysis.qualityClassifierOracleSql(),
    "q136_skew_profile" -> ops.Skew.keySkewProfileOracleSql(),
    "q137_rolling_wau" -> ext.Events.rollingWauOracleSql(),
    "q138_snapshot_diff" -> ext.Versioning.snapshotDiffOracleSql(),
    "q139_posting_lists" -> ext.Search.postingListsOracleSql(),
    "q140_shipping_priority" ->
      ops.RefQueries.q140ShippingPriorityOracleSql(),
    "q141_centroid_similarity" ->
      ext.Similarity.labelCentroidSimilarityOracleSql(),
    "q142_ks_drift" -> ext.Drift.ksDriftOracleSql(),
    "q143_journey_trigrams" -> ext.Events.journeyTrigramsOracleSql(),
    "q144_fuzzy_match" -> ext.Fuzzy.fuzzyNameMatchOracleSql(),
    "q145_forget_users" -> ext.Compliance.forgetUsersGateOracleSql(),
    "q146_dup_curve" -> ext.Versioning.dupDiscoveryCurveOracleSql(),
    "q147_segment_conversion" -> ext.Events.segmentConversionOracleSql(),
    "q148_incremental_view" ->
      ops.Incremental.incrementalHourlyGateOracleSql(),
    "q149_bucketed_join" -> sources.Bucketing.bucketedJoinGateOracleSql(),
    "q150_gap_fill" -> ext.Events.gapFillHourlyOracleSql(),
    "q151_cumulative_reach" -> ext.Events.cumulativeReachOracleSql(),
    "q152_source_gini" -> ext.TextAnalysis.sourceGiniOracleSql(),
    "q153_lambda_handoff" ->
      ops.Incremental.incrementalHourlyGateOracleSql(),
    "q154_partition_pruning" ->
      sources.PartitionedLayout.prunedScanGateOracleSql(),
    "q155_quantile_sketch" -> ext.Sketches.histogramQuantilesOracleSql(),
    "q156_fk_integrity" -> ops.Profile.fkIntegrityOracleSql(),
    "q157_pmi_cooccurrence" -> ext.TextAnalysis.pmiCooccurrenceOracleSql(),
    "q158_local_supplier_volume" ->
      ops.RefQueries.q158LocalSupplierVolumeOracleSql(),
    "q159_stream_histogram" -> ext.Sketches.histogramRegistersOracleSql(),
    "q160_latest_per_key" -> ops.Cdc.latestPerKeyOracleSql(),
    "q161_trending" -> ext.Events.trendingScoresOracleSql(),
    "q162_mixture_plan" -> ext.Sampling.mixturePlanOracleSql(),
    "q163_sim_histogram" -> ext.Dedup.similarityHistogramOracleSql(),
    "q164_schema_evolution" ->
      sources.PartitionedLayout.mergeSchemaGateOracleSql(),
    "q165_rolling_anomalies" -> ext.Events.rollingAnomaliesOracleSql(),
    "q166_returned_revenue" ->
      ops.RefQueries.q166ReturnedRevenueOracleSql(),
    "q167_basket_pairs" -> ext.Events.basketPairsOracleSql(),
    "q168_week_over_week" -> ext.Events.weekOverWeekOracleSql(),
    "q169_fuzzy_lookup" -> ext.Fuzzy.fuzzyLookupOracleSql(),
    "q170_stickiness" -> ext.Events.stickinessOracleSql(),
    "q171_chi_square" -> ops.Profile.chiSquareOracleSql(),
    "q172_time_to_convert" -> ext.Events.timeToConvertOracleSql(),
    "q173_events_last_order" -> ops.AsOf.eventsWithLastOrderOracleSql(),
    "q174_nation_volume" -> ops.RefQueries.q174NationVolumeOracleSql(),
    "q175_benford" -> ops.Profile.benfordAuditOracleSql(),
    "q176_cohort_retention" -> ext.Events.cohortRetentionOracleSql(),
    "q177_corrupt_ingest" -> sources.Sources.corruptIngestGateOracleSql,
    "q178_min_cost_supplier" -> ops.TpchPatterns.minCostSupplierOracleSql(),
    "q179_waiting_orders" -> ops.TpchPatterns.waitingOrdersOracleSql(),
    "q180_revenue_band" -> ops.TpchPatterns.revenueBandOracleSql(),
    "q181_priority_lines" -> ops.TpchPatterns.priorityLinesOracleSql(),
    "q182_order_count_dist" -> ops.TpchPatterns.orderCountDistOracleSql(),
    "q183_promo_share" -> ops.TpchPatterns.promoShareOracleSql(),
    "q184_supplier_census" -> ops.TpchPatterns.supplierCensusOracleSql(),
    "q185_large_orders" -> ops.TpchPatterns.largeOrdersOracleSql(),
    "q186_blocking_suppliers" ->
      ops.TpchPatterns.blockingSuppliersOracleSql(),
    "q187_dormant_customers" ->
      ops.TpchPatterns.dormantCustomersOracleSql(),
    "q188_image_metadata" -> ext.Multimodal.imageMetaSummaryOracleSql(),
    "q189_small_qty_revenue" -> ops.TpchPatterns.smallQtyRevenueOracleSql(),
    "q190_top_supplier" -> ops.TpchPatterns.topSupplierOracleSql(),
    "q191_disjunctive_revenue" ->
      ops.TpchPatterns.disjunctiveRevenueOracleSql(),
    "q192_dynamic_pruning" ->
      sources.PartitionedLayout.dynamicPruningGateOracleSql(),
    // same oracles as q26/q27/q28/q103: collapsed plans are identical
    "q193_dedup_minhash_collapsed" -> ext.Dedup.minhashLshOracleSql(),
    "q194_dedup_simhash_collapsed" -> ext.Dedup.simhashPairsOracleSql(),
    "q195_jaccard_collapsed" -> jaccardBruteOracleSql,
    "q196_containment_collapsed" ->
      ext.Dedup.containmentPairsOracleSql(),
    "q197_dsir_select" -> ext.Selection.dsirSelectOracleSql(),
    "q198_semdedup" -> ext.Similarity.semDedupOracleSql(),
    "q199_dsir_resample" -> ext.Selection.dsirResampleOracleSql(),
    "q200_dsir_heldout" -> ext.Selection.dsirSelectHeldoutOracleSql(),
    "q201_gopher_rules" -> ext.TextAnalysis.gopherRulesOracleSql(),
    "q202_ccnet_buckets" -> ext.TextAnalysis.ccnetBucketsOracleSql(),
    "q203_hard_negatives" -> ext.Similarity.hardNegativesOracleSql(),
    "q204_stream_gopher" -> ext.TextAnalysis.gopherKeepBySourceOracleSql(),
    "q205_ccnet_bounded" -> ext.TextAnalysis.ccnetBucketsBoundedOracleSql(),
    "q206_stream_dedup_bloom" ->
      "SELECT event_id, event_type, value FROM events",
    "q207_stream_doc_dedup" ->
      """SELECT doc_id, fp FROM (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp,
        |    row_number() OVER (
        |      PARTITION BY md5(trim(regexp_replace(regexp_replace(
        |        lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
        |      ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1""".stripMargin,
    "q208_stream_dedup_multibatch" ->
      "SELECT event_id, event_type, value FROM events",
    "q209_stream_doc_dedup_multibatch" ->
      """SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(
        |  lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
    "q210_stream_dedup_windowed" ->
      "SELECT event_id, event_type, value FROM events",
    "q211_paragraph_dedup" -> ext.Dedup.paragraphDedupOracleSql(),
    "q212_source_token_cap" -> ext.Sampling.sourceTokenCapOracleSql(),
    "q213_bpe_merges" -> ext.TextAnalysis.bpeMergesOracleSql(),
    "q214_bpe_encode" -> ext.TextAnalysis.bpeEncodeOracleSql(),
    "q215_stream_para_dedup_multibatch" ->
      ext.Dedup.paragraphFingerprintsOracleSql(),
    "q216_substr_remove" -> ext.SubstrDup.substrRemoveOracleSql(),
    "q217_epoch_expand" -> ext.Sampling.epochExpandOracleSql(),
    "q218_stream_cms" -> ext.Sketches.cmsOracleSql(),
    "q219_collapse_repeats" -> ext.TextAnalysis.collapseRepeatsOracleSql(),
    "q220_gopher_funnel" -> ext.TextAnalysis.gopherFunnelOracleSql(),
    "q221_diversity_sample" -> ext.Dedup.diversitySampleOracleSql(),
    "q222_vocab_prune" -> ext.TextAnalysis.vocabPruneOracleSql(),
    "q223_stream_ingest" -> streaming.Streams.ingestPipelineOracleSql(),
    "q224_image_dhash" -> ext.Multimodal.imageDhashCensusOracleSql(),
    "q225_stream_ingest_multibatch" ->
      streaming.Streams.ingestPipelineMultiBatchOracleSql(),
    "q226_incr_near_dedup" -> ext.Dedup.incrementalNearDedupOracleSql(),
    "q227_epoch_order" -> ext.Sampling.epochOrderOracleSql(),
    "q228_stratified_split" -> ext.Splits.stratifiedSplitOracleSql(),
    "q229_stream_anomalies" -> ext.Events.hourlyAnomaliesOracleSql(),
    "q230_crossmodal_audit" ->
      ext.Similarity.crossModalAuditOracleSql(),
    "q231_crossmodal_agree" ->
      ext.Similarity.crossModalAgreeOracleSql(),
    "q232_incr_near_dedup_collapsed" ->
      ext.Dedup.incrementalNearDedupOracleSql(),
    "q233_neardup_index_2batch" ->
      ext.Dedup.nearDupIndexTwoBatchOracleSql(),
    "q234_neardup_index_durable" ->
      ext.Dedup.nearDupIndexTwoBatchOracleSql(),
    "q235_cluster_spectrum" ->
      ext.Similarity.clusterSpectrumOracleSql(),
  )
}
