package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for LLM-training-data pipelines, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Everything here is per-row expression work — embarrassingly parallel,
  * no shuffle at any scale, and all built from codegen'd
  * `org.apache.spark.sql.functions` (no UDFs). Ratios are emitted as raw
  * doubles: integer-input division is bit-deterministic across engines,
  * so the DuckDB oracle matches without rounding tricks.
  */
object TextAnalysis {

  /** ASCII word tokens. Spark's regexp_extract_all needs an explicit
    * group index; group(1) == DuckDB's whole-match default. */
  private val tokenExpr = "regexp_extract_all(text, '([A-Za-z0-9]+)', 1)"

  // private[graft]: the 10× replica generator (ScaleSmoke) must keep
  // exactly these words un-suffixed so the stop-word quality rules see
  // replicated documents the way they see real ones
  private[graft] val stopwords =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

  private def stopCount(c: String = "text") =
    s"size(regexp_extract_all(lower($c), '\\\\b(${stopwords.mkString("|")})\\\\b', 1))"

  /** Per-document stats: token count, alnum char count, stopword count,
    * and quality ratios (length/stopword/alnum mix). */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        expr(s"size($tokenExpr)").cast("long").as("n_tokens"),
        expr("length(regexp_replace(text, '[^A-Za-z0-9]', ''))")
          .cast("long").as("n_alnum"),
        expr(stopCount()).cast("long").as("n_stop"),
        length(col("text")).cast("long").as("n_chars_raw"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("avg_token_len",
        col("n_alnum").cast("double") / col("n_tokens"))

  /** Quality filtering: turn the quality scores into the pipeline's
    * actual keep/drop decision — token-count band plus a stopword-ratio
    * cap. The ratio threshold is evaluated as integer cross-
    * multiplication (n_stop * 10 <= n_tokens * 6 ⇔ ratio <= 0.6) so the
    * keep set is engine-exact, never a float-boundary coin flip.
    * Pure map-side filter: composes with any downstream pipeline. */
  def qualityFilter(spark: SparkSession, dir: String,
                    minTokens: Int = 20, maxTokens: Int = 1000): DataFrame =
    textStats(spark, dir)
      .filter(col("n_tokens") >= minTokens &&
              col("n_tokens") <= maxTokens &&
              col("n_stop") * 10 <= col("n_tokens") * 6)
      .select(col("doc_id"), col("n_tokens"), col("n_stop"))

  /** Language ID via stopword-profile scoring (n-gram-free heuristic):
    * count hits from small per-language function-word sets, argmax with a
    * fixed priority order on ties. Deterministic and oracle-expressible.
    * (The table's `lang` column is synthetic/random — this operator is
    * judged on determinism and plumbing, not accuracy on fake text.) */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "for", "on", "with"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr" -> Seq("le", "les", "des", "et", "est", "une", "dans", "pour", "que", "qui"),
  )

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val counts = langProfiles.map { case (lang, words) =>
      expr(s"size(regexp_extract_all(lower(text), '\\\\b(${words.mkString("|")})\\\\b', 1))")
        .cast("long").as(s"c_$lang")
    }
    val df = Tables.load(spark, dir, "documents")
      .select(col("doc_id") +: counts: _*)
    // argmax with first-wins tie-break in profile order (en,de,es,fr)
    val langs = langProfiles.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((lang, i), elseCol) =>
        val ge = langs.drop(i + 1)
          .map(o => col(s"c_$lang") >= col(s"c_$o"))
          .reduce(_ && _)
        when(ge, lit(lang)).otherwise(elseCol)
    }
    df.withColumn("pred_lang", pred)
  }

  /** SQL text of the same argmax, for the DuckDB oracle. */
  def langIdOracleSql: String = {
    val countCols = langProfiles.map { case (lang, words) =>
      s"CAST(len(regexp_extract_all(lower(text), '\\b(${words.mkString("|")})\\b')) AS BIGINT) AS c_$lang"
    }.mkString(",\n  ")
    val langs = langProfiles.map(_._1)
    val caseBranches = langs.init.zipWithIndex.map { case (lang, i) =>
      val conds = langs.drop(i + 1).map(o => s"c_$lang >= c_$o").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString(" ")
    s"""SELECT doc_id, c_en, c_de, c_es, c_fr,
       | CASE $caseBranches ELSE '${langs.last}' END AS pred_lang
       |FROM (SELECT doc_id,
       |  $countCols
       | FROM documents) t""".stripMargin
  }

  /** Normalized-text column: lowercase, non-alnum → space, collapse
    * whitespace, trim. The basis for fingerprinting and shingling. */
  def normalized(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // single-pass codegen'd kernel; value-identical to
    // trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "),
    // " +", " ")) — equivalence property-tested in NormalizeTextSpec,
    // and the DuckDB oracles still run the regex formulation
    graft.functions.NormalizeText.normalize(c)

  /** Document fingerprint: md5 of the normalized text — a
    * punctuation/casing/whitespace-insensitive content hash. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), md5(normalized(col("text"))).as("fp"))

  /** Per-source top-k corpus terms by occurrence count (ties broken on
    * the term) — the vocabulary audit a data pipeline logs per mixture
    * source. One explode + one (source, token) shuffle + a top-k window
    * over the (bounded: sources x vocab) count table; integer counts and
    * string tie-breaks keep the result engine-exact. */
  def topTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("token"))
    Tables.load(spark, dir, "documents")
      .select(col("source"),
              explode(split(normalized(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("source"), col("token"), col("n"), col("rnk"))
  }

  /** Per-document repetition signals — the quality filter that catches
    * boilerplate/spam (a document repeating one token dominates its
    * token distribution): total/distinct token counts, the max single-
    * token count, and the derived ratios. Ratios divide the exact
    * integer counts, so both engines produce bit-identical doubles.
    *
    * Scale: one (doc_id, token) shuffle with map-side combine, then a
    * doc_id-keyed aggregate of the (bounded: per-doc vocab) count
    * table. Docs that normalize to zero tokens drop out on both sides. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
              explode(split(normalized(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
           count(lit(1)).as("n_distinct"),
           max(col("n")).as("max_tf"))
      .withColumn("top_share",
        col("max_tf").cast("double") / col("n_tokens"))
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / col("n_tokens"))

  /** Per-document top-k terms by a TF-IDF-style relevance score — the
    * keyword-extraction step of a corpus-analysis pipeline. The score is
    * kept in exact integer arithmetic (`n_tf * 1_000_000 div df` — tf
    * scaled against document frequency; floor division) instead of the
    * float `tf·ln(N/df)` so the ranking is bit-deterministic across
    * engines: float scores tie-break differently when two terms land
    * within an ulp, which breaks oracle comparison without changing the
    * semantics being tested. Ties break on the token.
    *
    * Scale: one explode + two token-keyed shuffles (term counts, then
    * document frequencies over the already-aggregated tf table — vocab-
    * sized, not corpus-sized) + a per-doc top-k window partitioned on
    * doc_id. No driver-side state; df is a candidate for broadcast when
    * the vocabulary is bounded. */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
              explode(split(normalized(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("n_tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(dfreq, "token")
      .withColumn("score", expr("n_tf * 1000000 div df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("token"), col("n_tf"), col("df"),
              col("score"), col("rnk"))
  }

  /** Per-source token-frequency spectrum: how many vocabulary types fall
    * in each power-of-2 occurrence band, and how many token occurrences
    * they account for — the Zipf-health audit a pipeline logs to catch a
    * source whose frequency curve collapsed (boilerplate) or exploded
    * (OCR noise). The band is `length(bin(n)) − 1` = ⌊log₂ n⌋ computed on
    * the binary-string length, which is exact integer arithmetic in both
    * engines — float `log2` ties at exact powers of two and may round
    * either way.
    *
    * Scale: one (source, token) shuffle with map-side combine, then a
    * band aggregate over the vocab-sized count table. */
  def tokenFrequencySpectrum(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"),
              explode(split(normalized(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn("band", (length(bin(col("n"))) - 1).cast("long"))
      .groupBy(col("source"), col("band"))
      .agg(count(lit(1)).as("n_types"), sum(col("n")).as("n_occurrences"))

  val tokenFrequencySpectrumOracleSql: String =
    """WITH tf AS (
      |  SELECT source, token, count(*) AS n FROM (
      |    SELECT source, unnest(string_split(
      |      trim(regexp_replace(regexp_replace(lower(text),
      |        '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS token
      |    FROM documents)
      |  WHERE token <> '' GROUP BY source, token)
      |SELECT source, CAST(length(bin(n)) - 1 AS BIGINT) AS band,
      |       count(*) AS n_types, CAST(sum(n) AS BIGINT) AS n_occurrences
      |FROM tf GROUP BY source, band""".stripMargin

  /** BPE-ish token counting: letter runs, single digits, single
    * punctuation marks — the pre-tokenizer split most BPE vocabularies
    * assume. Pure regex count, identical in Java regex and RE2. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        expr("size(regexp_extract_all(text, '([A-Za-z]+|[0-9]|[^A-Za-z0-9\\\\s])', 1))")
          .cast("long").as("n_bpe_tokens"),
        expr(s"size($tokenExpr)").cast("long").as("n_word_tokens"))

  /** The BPE merge step's first iteration: adjacent character-pair
    * frequencies over the corpus, ranked — the statistic a tokenizer
    * trainer computes to pick its next merge.
    *
    * Computed the way BPE trainers actually scale: collapse the corpus
    * to its VOCABULARY first (distinct word → occurrence count, one
    * map-side-combined shuffle), then explode each distinct word's
    * adjacent pairs once and weight by the word count. Pair work is
    * proportional to vocab size, not corpus size — at 100 TB the vocab
    * table is the only thing the pair stage ever touches. The final
    * ranking window runs over the aggregated pair table, whose
    * cardinality is bounded by the alphabet squared (≤ ~1.3k rows for
    * normalized alnum text) — a bounded single-task window, not a
    * corpus-sized one. */
  def bpePairCounts(spark: SparkSession, dir: String,
                    k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wordCounts = Tables.load(spark, dir, "documents")
      .select(explode(split(normalized(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("n_occ").desc, col("pair"))
    wordCounts
      .filter(length(col("w")) >= 2)
      .select(col("n"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("n")).as("n_occ"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("pair"), col("n_occ"), col("rnk"))
  }

  /** Iterative BPE merge TRAINING (Sennrich et al. 2016) — the actual
    * tokenizer-trainer loop, of which [[bpePairCounts]] is the first
    * iteration's statistic: repeat `nMerges` times { count adjacent
    * symbol pairs weighted by word frequency; merge the most frequent
    * pair corpus-wide }. Returns the learned merge table
    * (step, lhs, rhs, n_occ) — deterministic via the
    * (count desc, pair asc) tie-break both engines share.
    *
    * Scale shape: the trainer never touches the corpus after the first
    * collapse — all iterations run over the VOCABULARY frame (distinct
    * word → count, persisted once), the same reduction real BPE
    * trainers use. Per iteration: one vocab-keyed pair aggregation
    * (bounded by vocab size, not corpus size) + a top-1 reduce to the
    * driver (one row) + a map-side fold applying the merge. The fold
    * chain is depth-capped (see [[bpeTrainLoop]]): the symbol frame is
    * re-materialized every few merges, so total work is O(k·vocab) —
    * linear in the merge budget — while the symbol table stays
    * distributed (a 100 TB corpus still has a ~10M-row vocabulary;
    * collecting it would be the real scale bug).
    *
    * The merge application is a left-to-right greedy fold seeded with
    * the word's first symbol — `aggregate` in Spark, `list_reduce` in
    * DuckDB (which seeds from the first element natively), so both
    * engines replay the identical merge semantics including the
    * overlapping-run case ("aaa" + (a,a) → "aa","a"). */
  def bpeMerges(spark: SparkSession, dir: String, nMerges: Int = 6,
                foldChainCap: Int = 4, batchSize: Int = 64): DataFrame =
    spark.createDataFrame(
        learnedMerges(spark, dir, nMerges, foldChainCap, batchSize))
      .toDF("step", "lhs", "rhs", "n_occ")

  /** Per-(session, dir, nMerges) memo of the learned merge table — the
    * trainer artifact both q213 (the table itself) and q214 (the
    * encode) consume; like every model-artifact memo in this file
    * (lmScoreCache, the IVF-PQ index) the training runs once per
    * corpus and each policy reads the result. The fold-chain cap and
    * batch size are deliberately NOT part of the key: they change
    * training COST only — BpeMergesSpec trains the same corpus at
    * multiple (cap, batch) combinations and asserts the learned table
    * identical (the batched selection's guards make the equality
    * structural, not empirical; see [[bpeTrainLoop]]) — so two callers
    * with different knobs share one artifact. The value is driver-side
    * and tiny (k rows), but it is still a [[Memo]] table so a cold
    * sweep measures a full retrain. */
  private[ext] val bpeMergeCache =
    Memo.table[(String, Int), Seq[(Long, String, String, Long)]](
      "text.bpeMerges")

  private def learnedMerges(spark: SparkSession, dir: String, nMerges: Int,
                            foldChainCap: Int = 4, batchSize: Int = 64)
      : Seq[(Long, String, String, Long)] = {
    require(nMerges >= 1, "nMerges must be positive")
    bpeMergeCache.getOrElseUpdate(spark, (dir, nMerges)) {
      val wordCounts = Tables.load(spark, dir, "documents")
        .select(explode(split(normalized(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .persist()
      try bpeTrainLoop(wordCounts, nMerges, foldChainCap, batchSize)
      finally { wordCounts.unpersist(); () }
    }
  }

  /** Train on an EXPLICIT (w, n) vocabulary frame — the measurement
    * surface for production-budget merge counts (`ScaleSmoke bpekprod`,
    * k ≥ 1024): the corpus-derived gate vocabulary is tail-bound by
    * sequentially-dependent spelling chains, so the batched-selection
    * throughput claim (rounds ≪ k) needs a wide-count-band vocabulary
    * to be measurable at all. Same loop, same guards, no memo — the
    * caller owns determinism of the input frame.
    *
    * INTENDED REGIME (measured, `ScaleSmoke bpecross` k=64 Zipf
    * ladder): the distributed trainer wins from ~10⁵ distinct words
    * up — 5.3 s vs the in-memory sequential model's 24.0 s at 10⁵,
    * 25.9 s vs a 300 s-time-box DNF at 10⁶, and at 10⁷ it finishes in
    * 334 s (8 batched rounds) where the model's per-merge full-vocab
    * rescan OOMs an 8 GB driver outright. Below ~10⁴ distinct words a
    * single-machine trainer is the right tool (1.4 s vs 8.0 s — the
    * per-round fixed cost of distributed selection dominates); the
    * crossover sits between 10⁴ and 10⁵, pulled downward as the merge
    * budget k grows because batched selection amortizes rounds
    * (rounds ≪ k) while the sequential model always pays k rescans. */
  private[graft] def bpeTrainOnWordCounts(wordCounts: DataFrame,
                                          nMerges: Int,
                                          foldChainCap: Int = 4,
                                          batchSize: Int = 64)
      : Seq[(Long, String, String, Long)] = {
    val wc = wordCounts.persist()
    try bpeTrainLoop(wc, nMerges, foldChainCap, batchSize)
    finally { wc.unpersist(); () }
  }

  /** The trainer loop behind [[learnedMerges]]: runs `nMerges`
    * iterations over a persisted `(w, n)` vocabulary frame, returning
    * the learned merge rows.
    *
    * Chain-depth bound: without it, iteration t re-evaluates all t
    * accumulated fold expressions from the raw character split —
    * O(k²) fold work (and O(k²) Catalyst re-analysis of an ever-deeper
    * expression) over the vocab for k merges. Every `foldChainCap`
    * merges the symbol frame is rebased onto a persisted `RDD[Row]`
    * wrapped back through `createDataFrame`, which TRUNCATES the
    * lineage — the new plan is a flat `LogicalRDD` scan of
    * materialized partitions. Both obvious alternatives measured
    * PATHOLOGICAL: a DataFrame-persist rebase stacks
    * InMemoryRelations (every later query pays CacheManager plan
    * canonicalization over the whole nested history — 150 s vs 30 s
    * uncapped at k=64), and `localCheckpoint` cost ~10× the training
    * time in a small-executor session. The RDD round-trip pays one
    * Row conversion per rebase window — O(vocab) per window, linear
    * overall — and involves neither the CacheManager nor the
    * checkpoint machinery. The previous window's RDD is unpersisted
    * as soon as its successor is materialized. */
  /** Round counter of the last [[bpeTrainLoop]] run (diagnostic for
    * `ScaleSmoke bpek` — the batched-selection claim is FEWER ROUNDS,
    * i.e. fewer full vocab-table aggregations, at equal learned
    * merges). */
  @volatile private[graft] var lastTrainRounds: Int = 0

  /** BATCHED merge selection: one ranked pair-count slice per round
    * accepts a PREFIX of up to `batchSize` merges whose sequential
    * equivalence is GUARANTEED, not assumed. Candidates are walked in
    * the round's (count desc, lhs, rhs) order; the round stops at the
    * first candidate failing either guard:
    *
    *  1. instance-overlap compatibility — the EXACT condition under
    *     which two merges interact. Merging p=(l,r) changes candidate
    *     q's count or pattern only when their instances can overlap or
    *     a merged-output symbol is involved: q.rhs == p.lhs (the
    *     "x l | r" destruction), q.lhs == p.rhs ("l r | y"), or any of
    *     q.lhs / q.rhs / q's output colliding with p's output (or q's
    *     output with p's symbols — a created symbol must not form new
    *     instances of an earlier accepted pattern). Same-lhs and
    *     same-rhs pairs — (e,r) vs (o,r), the overwhelmingly common
    *     adjacency in natural text — are provably independent: their
    *     instances cannot share a position, so counts transfer
    *     unchanged and the combined fold replays sequential
    *     application exactly. (Plain symbol-disjointness was measured
    *     at ~1.5 merges/round on sf0.1; this test reaches the batch
    *     cap.)
    *  2. count-gap floor — each accepted count strictly exceeds every
    *     upper bound on pairs the batch's earlier merges can CREATE:
    *     a new pair (x, lr) inherits count ≤ count(x, l) and (lr, y)
    *     ≤ count(r, y), read off the same slice (off-slice pairs are
    *     bounded by the slice minimum); if that free floor truncates
    *     the compatibility prefix, ONE trigram aggregation measures
    *     the exact ceilings ([[trigramBounds]] — uniformly tighter) to
    *     extend the batch. Either way a freshly created symbol can
    *     never jump the queue.
    *  3. output-alias stop — a candidate whose output string equals a
    *     symbol a PREVIOUS round created via a different split is
    *     accepted (sequential would pick it at this position too) but
    *     CLOSES the batch: its created instances accrete onto existing
    *     pairs of the aliased symbol, whose standing counts the
    *     created-delta floor of guard 2 does not bound.
    *
    * The PREFIX rule (stop at the first rejected candidate, never
    * skip-and-continue) covers the remaining hazard: a skipped
    * conflicting pair may keep its full count (merging (e,r) does not
    * decay (o,e) occurrences not followed by r) and would be overtaken
    * out of order — the exact divergence a skip-based variant produced
    * on this corpus at step 2. Under 1+2+prefix, sequential BPE
    * provably picks exactly the accepted pairs in accepted order, so
    * the learned table is IDENTICAL at any batch size (BpeMergesSpec
    * pins it against sequential and an independent in-memory trainer;
    * `ScaleSmoke bpek` re-asserts equality at k=64 on sf0.1 with every
    * cost measurement). Worst case degrades to one merge per round —
    * plain sequential BPE.
    *
    * The batch applies as ONE combined fold ([[mergeBatchFoldExpr]]):
    * compatibility makes left-to-right application of the merge SET
    * equal to sequential per-merge folds, and the fold chain grows by
    * one per ROUND, so the rebase cap now bounds rounds, not merges. */
  private[ext] def bpeTrainLoop(wordCounts: DataFrame, nMerges: Int,
                                foldChainCap: Int = 4, batchSize: Int = 64)
      : Seq[(Long, String, String, Long)] = {
    require(foldChainCap >= 1, "foldChainCap must be positive")
    require(batchSize >= 1, "batchSize must be positive")
    var syms = wordCounts.select(col("w"), col("n"),
      expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("s"))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    // output strings of every merge learned so far (across rounds) —
    // the alias guard below consults it. Kept incrementally: phase A
    // is O(1) per candidate either way.
    val priorOuts = scala.collection.mutable.Set.empty[String]
    var chainDepth = 0
    var rounds = 0
    var rebases = 0
    var owned: Option[org.apache.spark.rdd.RDD[Row]] = None
    // Every RDD rebase truncates the LOGICAL plan but the RDD object
    // graph still chains to its predecessor (persisted blocks don't
    // sever dependencies), so a production merge budget (hundreds of
    // rounds) accretes an ever-deeper task object graph until task
    // (de)serialization overflows the stack — found at k=1024, where
    // ~150 rebase generations crashed the executor-side reader. Every
    // ParquetRebaseEvery-th rebase therefore round-trips the (small:
    // one row per vocabulary word) symbol frame through parquet — a
    // file scan has NO lineage, bounding the object-graph depth at
    // ParquetRebaseEvery chains regardless of k. Spill files live
    // under one run-private directory, removed when training returns:
    // the session's checkpoint dir when configured (a SHARED
    // filesystem on a real cluster — executors commit the task files
    // there and the driver re-reads them), java.io.tmpdir otherwise,
    // which is correct exactly where driver and executors share a
    // filesystem (local mode — the gate/bench harness).
    val ParquetRebaseEvery = 8
    var spillRoot: Option[String] = None
    def hpath(s: String) = new org.apache.hadoop.fs.Path(s)
    def spillFs(s: String) = hpath(s).getFileSystem(
      wordCounts.sparkSession.sparkContext.hadoopConfiguration)
    try {
      var done = false
      var t = 1
      while (t <= nMerges && !done) {
        val want = math.min(batchSize, nMerges - t + 1)
        val sliceN = math.max(8 * want, 32)
        val top = syms
          .filter(size(col("s")) >= 2)
          .select(col("n"), explode(expr(
            "transform(sequence(1, size(s) - 1), i -> " +
            "struct(element_at(s, i) AS lhs, element_at(s, i + 1) AS rhs))"))
            .as("p"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum(col("n")).as("n_occ"))
          .orderBy(col("n_occ").desc, col("lhs"), col("rhs"))
          .limit(sliceN).collect() // bounded: ≤ 8·batchSize rows
        rounds += 1
        if (top.isEmpty) done = true
        else {
          val rows = top.map(r =>
            (r.getString(0), r.getString(1), r.getLong(2)))
          // phase A: the longest COMPATIBILITY prefix (instance-overlap
          // test only; the count-gap guard follows in phase B with
          // measured trigram ceilings)
          val lhs = scala.collection.mutable.Set.empty[String]
          val rhs = scala.collection.mutable.Set.empty[String]
          val outs = scala.collection.mutable.Set.empty[String]
          val tentative = scala.collection.mutable.ArrayBuffer
            .empty[(String, String, Long)]
          var stopA = false
          var i = 0
          while (!stopA && i < rows.length && tentative.size < want) {
            val (l, r, c) = rows(i)
            val out = l + r
            val compatible = tentative.isEmpty ||
              (!rhs(l) && !outs(l) &&       // "x l | r" destruction / new sym
               !lhs(r) && !outs(r) &&       // "l r | y" destruction / new sym
               !lhs(out) && !rhs(out) && !outs(out)) // created-instance clash
            if (compatible) {
              tentative += ((l, r, c))
              lhs += l; rhs += r; outs += out
              // ALIAS guard: if this output string equals a symbol a
              // PREVIOUS round's merge created (necessarily via a
              // different split — a learned pair's own count is 0
              // forever after its merge pass), the created instances
              // accrete onto EXISTING pairs involving that symbol,
              // whose standing counts phase B's created-delta floor
              // does not bound — a later batch member could be
              // overtaken out of order. Accepting the aliasing merge
              // LAST (sequential would pick it here too; guards 1+2
              // already hold for it) and closing the batch keeps the
              // equivalence proof airtight. Unreachable on leftmost-
              // greedy corpora we could construct, but the guard costs
              // one set probe and removes the proof's only caveat.
              if (priorOuts(out)) stopA = true
            } else stopA = true // prefix rule — never skip-and-continue
            i += 1
          }
          // phase B: the count-gap floor — each accepted count must
          // strictly exceed every ceiling on pairs the batch's earlier
          // merges can CREATE. Two ceilings, cheapest first:
          //   free: a created (x, l·r) inherits count ≤ count(x, l)
          //   and (l·r, y) ≤ count(r, y) — read off the slice, with
          //   off-slice pairs bounded by the slice minimum;
          //   measured: only if the free floor truncates the compat
          //   prefix, one trigram aggregation measures the exact
          //   ceilings T(x, l, r)/T(l, r, y) (uniformly ≤ the free
          //   bound, so re-truncating can only extend the batch).
          val cMin = if (rows.length == sliceN) rows.last._3 else 0L
          def truncate(bound: (String, String, Long) => Long)
              : Seq[(String, String, Long)] = {
            val acc = scala.collection.mutable.ArrayBuffer
              .empty[(String, String, Long)]
            var floor = 0L
            var stopB = false
            for (p @ (l, r, c) <- tentative if !stopB) {
              if (acc.isEmpty || c > floor) {
                acc += p
                floor = math.max(floor, bound(l, r, c))
              } else stopB = true
            }
            acc.toSeq
          }
          val cheap = truncate((l, r, _) =>
            rows.iterator.collect {
              case (ql, qr, qc) if qr == l || ql == r => qc
            }.foldLeft(cMin)(math.max))
          val accepted =
            if (cheap.size == tentative.size) cheap
            else {
              val tb = trigramBounds(syms,
                tentative.map(a => (a._1, a._2)).toSeq)
              truncate((l, r, _) => tb.getOrElse((l, r), 0L))
            }
          for (((l, r, c), j) <- accepted.zipWithIndex) {
            merges += (((t + j).toLong, l, r, c))
            priorOuts += l + r
          }
          syms = syms.withColumn("s",
            mergeBatchFoldExpr(accepted.toSeq.map(a => (a._1, a._2))))
          t += accepted.size
          chainDepth += 1
          if (chainDepth >= foldChainCap && t <= nMerges) {
            rebases += 1
            if (rebases % ParquetRebaseEvery == 0) {
              val root = spillRoot.getOrElse {
                val sc = wordCounts.sparkSession.sparkContext
                // java.io.tmpdir is only a shared filesystem in local
                // mode; on a cluster, executors would write part files
                // to their own disks and the driver's re-read would
                // fail LATE (or read partial state). Fail fast here
                // with the knob to set, rather than deferring a
                // confusing mid-train read error.
                val base = sc.getCheckpointDir.getOrElse {
                  require(sc.isLocal,
                    "BPE training's lineage-cut parquet spill needs a " +
                    "cluster-visible directory on a non-local master: " +
                    "set spark.sparkContext.setCheckpointDir to a " +
                    "shared path (HDFS/object store) before training")
                  sys.props("java.io.tmpdir")
                }
                val d =
                  s"$base/graft_bpe_spill_${java.util.UUID.randomUUID}"
                spillRoot = Some(d); d
              }
              val dir = s"$root/spill_$rebases"
              syms.write.mode("overwrite").parquet(dir)
              owned.foreach(_.unpersist(blocking = false)); owned = None
              syms = wordCounts.sparkSession.read.parquet(dir)
            } else {
              val (flat, rdd) = rebaseFlat(syms, owned)
              syms = flat; owned = Some(rdd)
            }
            chainDepth = 0
          }
        }
      }
      lastTrainRounds = rounds
      merges.toSeq
    } finally {
      owned.foreach(_.unpersist(blocking = false))
      spillRoot.foreach(r => spillFs(r).delete(hpath(r), true))
    }
  }

  /** The measured created-pair ceilings for a round's candidate merge
    * patterns: for each (l, r), the max over x of T(x, l, r) and over
    * y of T(l, r, y) — frequency-weighted trigram counts over the
    * vocabulary frame. Any pair instance a merge (l, r) creates maps
    * 1:1 onto such a trigram occurrence (including self-runs: an
    * (lr, lr) instance needs "l r l r", counted under max_x T(x, l, r)
    * with x = r), so the returned maxima are sound upper bounds on any
    * created pair's count. One vocab pass: both keyings union before
    * the aggregate; output is ≤ |patterns| rows. */
  private def trigramBounds(syms: DataFrame,
                            patterns: Seq[(String, String)])
      : Map[(String, String), Long] = {
    val patSet = patterns.map { case (l, r) => s"$l|$r" }
    val tri = syms
      .filter(size(col("s")) >= 3)
      .select(col("n"), explode(expr(
        "transform(sequence(1, size(s) - 2), i -> struct(" +
        "element_at(s, i) AS x, element_at(s, i + 1) AS y, " +
        "element_at(s, i + 2) AS z))")).as("g"))
      .select(col("n"), col("g.x").as("x"), col("g.y").as("y"),
              col("g.z").as("z"))
    val keyed = tri
      .select(concat_ws("|", col("y"), col("z")).as("k"),
              col("x").as("other"), col("n"))
      .unionByName(tri
        .select(concat_ws("|", col("x"), col("y")).as("k"),
                col("z").as("other"), col("n")))
      .filter(col("k").isin(patSet: _*))
    keyed
      .groupBy(col("k"), col("other"))
      .agg(sum(col("n")).as("tt"))
      .groupBy(col("k")).agg(max(col("tt")).as("b"))
      .collect()
      .map { r =>
        val parts = r.getString(0).split("\\|")
        ((parts(0), parts(1)), r.getLong(1))
      }
      .toMap
  }

  /** Greedy left-to-right application of ONE merge as an empty-seeded
    * fold (the first element always lands in the ELSE arm, so this
    * equals DuckDB's first-element-seeded list_reduce; symbols are
    * [a-z0-9] — safe to inline as SQL literals). The lambda references
    * `s` exactly ONCE: CollapseProject inlines the previous step's
    * expression at every reference, so an n-reference fold grows the
    * chained tree n^k — the single-reference form keeps it linear
    * in k. */
  private def mergeFoldExpr(l: String, r: String)
      : org.apache.spark.sql.Column = expr(
    s"""aggregate(s, cast(array() as array<string>),
       |  (acc, x) -> CASE WHEN size(acc) > 0
       |                    AND element_at(acc, -1) = '$l'
       |                    AND x = '$r'
       |    THEN concat(slice(acc, 1, size(acc) - 1), array('$l$r'))
       |    ELSE concat(acc, array(x)) END)""".stripMargin)

  /** One combined fold applying a whole symbol-disjoint merge BATCH
    * (see [[bpeTrainLoop]]): the '(last,next)' lookup key goes through
    * a literal map (symbols are [a-z0-9] concatenations, so '|' is a
    * safe delimiter). Disjointness — including merged outputs — makes
    * this single left-to-right pass equal to applying the batch's
    * merges as sequential per-merge folds: no merge can create or
    * consume another batch member's pattern. `s` is still referenced
    * exactly once (the CollapseProject linearity constraint). */
  private def mergeBatchFoldExpr(ms: Seq[(String, String)])
      : org.apache.spark.sql.Column =
    if (ms.size == 1) mergeFoldExpr(ms.head._1, ms.head._2)
    else {
      val entries = ms
        .map { case (l, r) => s"'$l|$r', '$l$r'" }.mkString(", ")
      expr(
        s"""aggregate(s, cast(array() as array<string>),
           |  (acc, x) -> CASE WHEN size(acc) > 0 AND map_contains_key(
           |      map($entries), concat(element_at(acc, -1), '|', x))
           |    THEN concat(slice(acc, 1, size(acc) - 1),
           |      array(element_at(map($entries),
           |        concat(element_at(acc, -1), '|', x))))
           |    ELSE concat(acc, array(x)) END)""".stripMargin)
    }

  /** BPE ENCODING with the merges [[bpeMerges]] learns — the apply
    * side of the trainer, producing the statistic a tokenizer owner
    * actually reads off a corpus: per-source token counts and hence
    * fertility (BPE tokens per word). Output: one row per source with
    * `(n_docs, n_words, n_tokens)`, all exact integers.
    *
    * Scale shape mirrors training: the fold chain is applied to the
    * VOCABULARY frame only (each distinct word segmented once), then a
    * word-keyed shuffle join carries `tokens(w)` back onto the
    * corpus-sized word stream — the standard replace-quadratic-with-
    * vocab-lookup reduction. The final `collect` is bounded by the
    * source dimension (corpus metadata, a handful of rows), the same
    * bounded-output shape as the other audited collect sites. */
  def bpeEncode(spark: SparkSession, dir: String, nMerges: Int = 6,
                foldChainCap: Int = 4): DataFrame = {
    require(foldChainCap >= 1, "foldChainCap must be positive")
    val merges = learnedMerges(spark, dir, nMerges, foldChainCap)
    val docWords = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(normalized(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    // segment each DISTINCT word once (the learned merges applied in
    // order, map-side), then carry tokens(w) back onto the corpus via
    // a word-keyed join — the replace-quadratic-with-vocab-lookup
    // reduction every real tokenizer applier uses. The fold chain gets
    // the same depth cap as training: one evaluation is O(k·vocab)
    // compute either way, but Catalyst's ANALYSIS of a k-deep nested
    // tree is not — a production merge budget needs the rebase here too.
    var owned: Option[org.apache.spark.rdd.RDD[Row]] = None
    try {
      var syms = docWords.select(col("w")).distinct().withColumn("s",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
      var chainDepth = 0
      for (((_, l, r, _), i) <- merges.zipWithIndex) {
        syms = syms.withColumn("s", mergeFoldExpr(l, r))
        chainDepth += 1
        if (chainDepth >= foldChainCap && i < merges.size - 1) {
          val (flat, rdd) = rebaseFlat(syms, owned)
          syms = flat; owned = Some(rdd); chainDepth = 0
        }
      }
      val wordTok = syms.select(col("w"),
        size(col("s")).cast("long").as("toks"))
      val rows = docWords.join(wordTok, Seq("w"))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
             count(lit(1)).as("n_words"),
             sum(col("toks")).as("n_tokens"))
        .orderBy(col("source"))
        .collect() // bounded by the source dimension
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      spark.createDataFrame(rows)
        .toDF("source", "n_docs", "n_words", "n_tokens")
    } finally { owned.foreach(_.unpersist(blocking = false)); () }
  }

  /** Lineage truncation for an iterative frame: persist the RDD[Row],
    * release the predecessor window's RDD, and rebuild the DataFrame
    * as a flat `LogicalRDD` — no CacheManager entry, no checkpoint
    * machinery (see [[bpeTrainLoop]] for why the alternatives measure
    * pathological). */
  private def rebaseFlat(df: DataFrame,
                         prev: Option[org.apache.spark.rdd.RDD[Row]])
      : (DataFrame, org.apache.spark.rdd.RDD[Row]) = {
    val schema = df.schema
    val rows = df.rdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rows.count() // materialize before releasing the predecessor
    prev.foreach(_.unpersist(blocking = false))
    (df.sparkSession.createDataFrame(rows, schema), rows)
  }

  /** DuckDB oracle for [[bpeMerges]]: the same loop UNROLLED — each
    * step is a pair-count CTE + a top-1 CTE + a `list_reduce` merge
    * application cross-joined against the top-1 row (so the lambda
    * references plain columns, not subqueries). */
  def bpeMergesOracleSql(nMerges: Int = 6): String = {
    val wc =
      """wc AS (
        |  SELECT w, count(*) AS n FROM (
        |    SELECT unnest(string_split(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
        |      AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY w)""".stripMargin
    val union = (1 to nMerges).map { t =>
      s"SELECT CAST($t AS BIGINT) AS step, lhs, rhs, n_occ FROM b$t"
    }.mkString("\nUNION ALL ")
    s"WITH $wc,\n${bpeStepCtes(nMerges, carryW = false)}\n$union"
  }

  /** The unrolled trainer CTE chain shared by the q213/q214 oracles:
    * assumes `wc(w, n)` is already defined; emits `s0` (char split)
    * then `p_t`/`b_t`/`s_t` per step. `carryW` threads the word
    * through every `s_t` so the encode oracle can join segmentations
    * back onto the corpus word stream. */
  private def bpeStepCtes(nMerges: Int, carryW: Boolean): String = {
    val wCol = if (carryW) "w, " else ""
    val s0 =
      s"""s0 AS (
         |  SELECT ${wCol}n, list_transform(range(1, length(w) + 1),
         |    i -> substr(w, CAST(i AS INT), 1)) AS s
         |  FROM wc)""".stripMargin
    val steps = (1 to nMerges).map { t =>
      val prev = s"s${t - 1}"
      s"""p$t AS (
         |  SELECT s[i] AS lhs, s[i + 1] AS rhs, n
         |  FROM (SELECT n, s, unnest(range(1, len(s))) AS i
         |        FROM $prev WHERE len(s) >= 2)),
         |b$t AS (
         |  SELECT lhs, rhs, CAST(sum(n) AS BIGINT) AS n_occ
         |  FROM p$t GROUP BY lhs, rhs
         |  ORDER BY n_occ DESC, lhs, rhs LIMIT 1),
         |s$t AS (
         |  SELECT ${wCol}n, list_reduce(list_transform(s, x -> [x]),
         |    (acc, x) -> CASE WHEN acc[-1] = b.lhs AND x[1] = b.rhs
         |      THEN acc[1:len(acc) - 1] || [b.lhs || b.rhs]
         |      ELSE acc || x END) AS s
         |  FROM $prev, b$t b)""".stripMargin
    }
    s"$s0,\n${steps.mkString(",\n")}"
  }

  /** DuckDB oracle for [[bpeEncode]]: retrain the merges with the
    * shared CTE chain (carrying the word), then join each word's final
    * segmentation back onto the per-document word stream and aggregate
    * by source. */
  def bpeEncodeOracleSql(nMerges: Int = 6): String = {
    val dw =
      """dw AS (
        |  SELECT doc_id, source, w FROM (
        |    SELECT doc_id, source,
        |      unnest(string_split(trim(regexp_replace(regexp_replace(
        |        lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
        |      AS w
        |    FROM documents)
        |  WHERE w <> ''),
        |wc AS (SELECT w, count(*) AS n FROM dw GROUP BY w)""".stripMargin
    s"""WITH $dw,
       |${bpeStepCtes(nMerges, carryW = true)}
       |SELECT source,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(s)) AS BIGINT) AS n_tokens
       |FROM dw JOIN s$nMerges USING (w)
       |GROUP BY source""".stripMargin
  }

  /** Per-document duplicate word-n-gram stats — the Gopher/RefinedWeb
    * repetition rule at n-gram granularity: a document whose 3-grams are
    * mostly repeats of each other is boilerplate even when its unigram
    * distribution looks healthy (q56 catches only the latter). Emits the
    * exact integer counts (total/distinct/dup grams, max single-gram
    * count) plus the dup fraction from those integers, so both engines
    * produce bit-identical doubles.
    *
    * Scale: n-grams are emitted map-side by the codegen'd
    * [[graft.functions.StringNGrams]] kernel, then one (doc_id, gram)
    * shuffle with map-side combine and a doc_id-keyed fold of the
    * per-doc gram table — the same shape as q56, never all-pairs.
    * Documents with fewer than n tokens have no n-grams and drop out on
    * both sides. */
  def dupNgramStats(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    dupNgramStatsDf(Tables.load(spark, dir, "documents"), n)

  /** Same operator over any (doc_id, text) frame. */
  def dupNgramStatsDf(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .select(col("doc_id"),
              explode(graft.functions.StringNGrams.ngrams(
                split(normalized(col("text")), " "), n)).as("g"))
      .filter(col("g") =!= "")
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
           count(lit(1)).as("n_distinct_grams"),
           max(col("c")).as("max_gram_tf"))
      .withColumn("dup_grams", col("n_grams") - col("n_distinct_grams"))
      .withColumn("dup_fraction",
        col("dup_grams").cast("double") / col("n_grams").cast("double"))

  def dupNgramStatsOracleSql(n: Int = 3): String = {
    val gram = (1 to n).map(i => s"ws[i + ${i - 1}]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
       |    AS ws
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, $gram AS g
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, len(ws) - ${n - 1})) AS i
       |        FROM toks WHERE len(ws) >= $n)
       |  WHERE $gram <> ''),
       |gc AS (SELECT doc_id, g, count(*) AS c FROM grams
       |       GROUP BY doc_id, g)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
       |  count(*) AS n_distinct_grams, CAST(max(c) AS BIGINT) AS max_gram_tf,
       |  CAST(sum(c) - count(*) AS BIGINT) AS dup_grams,
       |  CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
       |    AS dup_fraction
       |FROM gc GROUP BY doc_id""".stripMargin
  }

  /** Cross-document n-gram novelty — the RefinedWeb/Gopher-family
    * signal `dupNgramStats` does NOT measure: what fraction of a doc's
    * distinct n-grams also appear in OTHER documents. Low novelty marks
    * boilerplate/templated docs even when each doc is internally
    * repetition-free. Exact integer arithmetic end to end (int counts,
    * one int/int division at the edge).
    *
    * Scale (round-13 rebase): grams are md5-top-60-bit FINGERPRINTS,
    * not strings — the q25/q207 rebasing pattern, mirrored in the
    * oracle so both engines share the (negligible, ~V²/2^61) collision
    * structure and the gate stays hash-exact. Two wins over the string
    * formulation: (1) `HashShingles` dedupes per doc INSIDE the
    * codegen'd expression, deleting the (doc, gram) distinct shuffle
    * outright; (2) the vocabulary aggregate and the join back shuffle
    * fixed 8-byte longs instead of unbounded gram strings. What
    * remains is one vocabulary-keyed agg (map-side combined) and one
    * long-keyed join — the TF-IDF shape on the cheapest possible key;
    * nothing is ever corpus × corpus. */
  def gramNovelty(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    gramNoveltyDf(Tables.load(spark, dir, "documents"), n)

  /** Same operator over any (doc_id, text) frame. */
  def gramNoveltyDf(docs: DataFrame, n: Int = 3): DataFrame = {
    // sorted-distinct per-doc gram hashes straight off the scan —
    // (doc_id, h) pairs are distinct by construction, no shuffle
    val grams = docs
      .select(col("doc_id"),
              explode(graft.functions.HashShingles.md5Shingles(
                split(normalized(col("text")), " "), n)).as("h"))
    val dfreq = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("gdf"))
    grams.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_grams"),
           sum(when(col("gdf") >= 2, 1L).otherwise(0L)).as("shared_grams"))
      .select(col("doc_id"), col("n_distinct_grams"), col("shared_grams"),
        ((col("n_distinct_grams") - col("shared_grams")).cast("double") /
          col("n_distinct_grams").cast("double")).as("novelty"))
  }

  def gramNoveltyOracleSql(n: Int = 3): String = {
    // md5-top-60-bit fold of the space-joined n-gram — byte-identical
    // to HashShingles' AlgoMd5Top60 value (15 hex nibbles, big-endian)
    val fold = "list_reduce([CAST(strpos('0123456789abcdef', " +
      "substr(hx, p, 1)) - 1 AS BIGINT) for p in range(1, 16)], " +
      "(a, b) -> a * 16 + b)"
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
       |    AS ws
       |  FROM documents),
       |grams AS (
       |  SELECT DISTINCT doc_id, $fold AS h
       |  FROM (SELECT doc_id,
       |          md5(array_to_string(ws[i:i + ${n - 1}], ' ')) AS hx
       |        FROM (SELECT doc_id, ws,
       |                unnest(generate_series(1, len(ws) - ${n - 1})) AS i
       |              FROM toks WHERE len(ws) >= $n))),
       |dfreq AS (SELECT h, count(*) AS gdf FROM grams GROUP BY h)
       |SELECT doc_id, count(*) AS n_distinct_grams,
       |  CAST(sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS shared_grams,
       |  CAST(count(*) - sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END)
       |       AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
       |FROM grams JOIN dfreq USING (h)
       |GROUP BY doc_id""".stripMargin
  }

  /** BM25-style top-k retrieval for a fixed query-term set — the
    * relevance ranking a corpus-search / eval-retrieval step runs. Uses
    * the rational idf `(N − df + ½)/(df + ½)` instead of its log because
    * `ln` is not guaranteed correctly-rounded across engines while
    * `+ − × ÷ sqrt` are: every per-term score here is one
    * IEEE-deterministic double expression, mirrored verbatim in the
    * oracle, and per-term scores are quantized to DECIMAL before the
    * per-doc sum so addition order cannot perturb the total. The
    * monotone idf substitution keeps each PER-TERM score rank-equivalent
    * to log-idf BM25; the per-doc SUM over multiple terms is a
    * deterministic BM25 variant, not guaranteed identical in order to
    * the log-idf total (a sum of per-term monotone transforms need not
    * preserve the ordering of the sums).
    *
    * Scale: tf is one (doc_id, token) shuffle; df and the corpus
    * constants (N, Σdl) are aggregates of the already-aggregated tf/dl
    * tables; df and the one-row constants broadcast into the scorer.
    * Top-k is a global sort-limit → TakeOrderedAndProject, never a full
    * sort. k1 = 1.2, b = 0.75 (the standard Robertson defaults). */
  def bm25TopK(spark: SparkSession, dir: String,
               queryTerms: Seq[String] = Seq("spark", "join", "window"),
               k: Int = 20): DataFrame = {
    val tf = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
              explode(split(normalized(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val consts = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qtf = tf.filter(col("token").isin(queryTerms: _*))
    val dfreq = qtf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val tfd = col("tf").cast("double")
    val dfd = col("df").cast("double")
    val nD = col("n_docs").cast("double")
    val dld = col("dl").cast("double")
    val avgdl = col("sum_dl").cast("double") / nD
    val idf = (nD - dfd + lit(0.5)) / (dfd + lit(0.5))
    val score = (idf * (tfd * lit(2.2))) /
      (tfd + lit(1.2) * (lit(0.25) + (lit(0.75) * dld) / avgdl))
    qtf.join(broadcast(dfreq), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(consts))
      .withColumn("s_q", score.cast("decimal(28,10)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("s_q")).cast("double").as("score"),
           count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  def bm25TopKOracleSql(queryTerms: Seq[String] = Seq("spark", "join", "window"),
                        k: Int = 20): String = {
    // Escape embedded quotes: terms are normalized [a-z0-9]+ in practice,
    // but the SQL must stay well-formed for any caller-supplied term.
    val qlist =
      queryTerms.map(t => "'" + t.replace("'", "''") + "'").mkString(", ")
    s"""WITH tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(trim(regexp_replace(
       |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       |      ' +', ' ', 'g')), ' ')) AS token
       |    FROM documents)
       |  WHERE token <> '' GROUP BY doc_id, token),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
       |       GROUP BY doc_id),
       |consts AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT)
       |             AS sum_dl FROM dl),
       |dfreq AS (SELECT token, count(*) AS df FROM tf
       |          WHERE token IN ($qlist) GROUP BY token),
       |scored AS (
       |  SELECT t.doc_id,
       |    CAST(
       |      (((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |        / (CAST(df AS DOUBLE) + 0.5))
       |       * (CAST(tf AS DOUBLE) * 2.2))
       |      / (CAST(tf AS DOUBLE)
       |         + 1.2 * (0.25 + (0.75 * CAST(dl AS DOUBLE))
       |                         / (CAST(sum_dl AS DOUBLE)
       |                            / CAST(n_docs AS DOUBLE))))
       |      AS DECIMAL(28,10)) AS s_q
       |  FROM tf t
       |  JOIN dfreq USING (token)
       |  JOIN dl USING (doc_id)
       |  CROSS JOIN consts
       |  WHERE t.token IN ($qlist))
       |SELECT doc_id, CAST(sum(s_q) AS DOUBLE) AS score,
       |       count(*) AS n_terms
       |FROM scored GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  def bpePairCountsOracleSql(k: Int = 50): String =
    s"""WITH wc AS (
       |  SELECT w, count(*) AS n FROM (
       |    SELECT unnest(string_split(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
       |      AS w
       |    FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |pairs AS (
       |  SELECT substr(w, i, 2) AS pair, n
       |  FROM (SELECT w, n, unnest(generate_series(1, length(w) - 1)) AS i
       |        FROM wc WHERE length(w) >= 2)),
       |agg AS (
       |  SELECT pair, CAST(sum(n) AS BIGINT) AS n_occ FROM pairs
       |  GROUP BY pair)
       |SELECT pair, n_occ,
       |  CAST(row_number() OVER (ORDER BY n_occ DESC, pair) AS BIGINT)
       |    AS rnk
       |FROM agg
       |ORDER BY n_occ DESC, pair LIMIT $k""".stripMargin

  // ---- Bigram language-model quality scoring ------------------------

  /** Reference-corpus LM perplexity filter — the CCNet quality signal
    * (Wenzek et al., "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data", LREC 2020): train a language model
    * on a trusted slice of the corpus, score every document by its
    * negative log-likelihood under that model, and keep the fluent
    * (low-NLL) tail. Here the model is an add-one-smoothed bigram LM
    * trained on the `trainLang` documents; NLL is the per-bigram
    * average of −ln P(w2 | w1) with
    * P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), where c(w1·) is the
    * bigram-history count and V the training vocabulary size.
    *
    * Scale shape (100 TB read): the token/bigram explodes are linear
    * map-side work; the two model tables are VOCABULARY-bounded
    * aggregations (not data-bounded — they stop growing once the
    * vocabulary saturates); scoring is a pair of shuffle joins keyed on
    * the bigram / history token, exactly how a distributed KenLM-style
    * scorer shards its model; V travels as a broadcast 1-row frame. No
    * driver-side state at any size.
    *
    * Output: (doc_id, n_bigrams, nll) for every document with ≥1
    * bigram; nll rounded to 4 decimals (ln kernels across engines agree
    * to ~1 ULP; averages over ≥1 bigram keep 4-decimal stability — same
    * rounding contract as the cosine gates). */
  def bigramLmScore(spark: SparkSession, dir: String,
                    trainLang: String = "en"): DataFrame =
    lmScoredCached(spark, dir, trainLang, None)

  /** Per-(session, dir, trainLang, vocab-bound) memo of the scored
    * (doc_id, n_bigrams, nll) frame — the q197 docwCache pattern: an
    * LM score is a per-corpus model artifact computed once and then
    * consumed by every policy (the raw q118 score, the q202 terciles,
    * any future hard filter), not recomputed per consumer. The frame
    * is corpus-row-count-sized but THREE columns wide; it rides
    * [[Memo.persist]], and the cold drain that unpersists it also
    * clears this table, so no entry outlives its blocks. */
  private[ext] val lmScoreCache =
    Memo.table[(String, String, Int), DataFrame]("text.lmScores")

  private def lmScoredCached(spark: SparkSession, dir: String,
                             trainLang: String,
                             topV: Option[Int]): DataFrame =
    lmScoreCache.getOrElseUpdate(
        spark, (dir, trainLang, topV.getOrElse(-1))) {
        val (bi, bc, hc, v) = bigramLmParts(spark, dir, trainLang, topV)
        val p = lmScoreTail(bi, bc, hc, v)
          .transform(Memo.persist)
        // materialize eagerly so the corpus-sized bigram explode can be
        // garbage-collected; only the skinny score table stays cached
        p.count()
        p
      }

  /** Sentinel the bounded-vocab LM maps out-of-vocabulary tokens to —
    * cannot collide with a real token ([[normalized]] strips everything
    * outside [a-z0-9 ]). */
  private[graft] val OovToken = "<oov>"

  /** Bounded-vocabulary bigram LM — the PRODUCTION shape of the q118
    * CCNet scorer: Wenzek et al. 2020 train their LM over a FIXED
    * SentencePiece vocabulary, so the model's size is a deployment
    * constant, not a function of the crawl. Here the vocabulary is the
    * top-V training tokens by frequency (count desc, token asc — a
    * total order, so the cut is deterministic cross-engine) plus ONE
    * OOV bucket every other token maps to. Both model tables are then
    * STRUCTURALLY bounded — bigram counts by (V+1)², history counts by
    * V+1 — at ANY corpus size, where the open-vocab q118 tables grow
    * with the observed vocabulary. Smoothing uses the model vocabulary
    * size |vocab|+1 (the OOV bucket is a first-class vocab member), so
    * P(·|w1) still sums to 1 over the model's own event space.
    *
    * Scale shape: the vocab is a V-row TakeOrdered broadcast; OOV
    * mapping is two broadcast hash joins riding the existing bigram
    * stream (no new corpus shuffle); everything downstream is the q118
    * plan against tables that no longer grow with the data. */
  def bigramLmScoreBounded(spark: SparkSession, dir: String,
                           trainLang: String = "en",
                           topV: Int = 512): DataFrame =
    lmScoredCached(spark, dir, trainLang, Some(topV))

  /** The LM's building blocks — (scored bigram stream, bigram-count
    * model, history-count model, 1-row smoothing-V frame) — shared by
    * both scoring variants and by the scale probe that certifies the
    * bounded tables stay FLAT across decades. `topV = None` is the
    * open-vocab q118 formulation (V = observed training vocabulary);
    * `Some(v)` is the bounded one (top-v + OOV). */
  private[graft] def bigramLmParts(spark: SparkSession, dir: String,
                                   trainLang: String, topV: Option[Int])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
              filter(split(normalized(col("text")), " "),
                     t => t =!= "").as("ts"))
    // map-side bigram list; guard small docs (sequence(0,-1) would
    // count DOWN in Spark, not return empty)
    val bigrams = expr(
      """CASE WHEN size(ts) >= 2 THEN
        |  transform(sequence(0, size(ts) - 2),
        |    i -> struct(ts[i] AS w1, ts[i + 1] AS w2))
        |ELSE array() END""".stripMargin)
    val biRaw = toks
      .select(col("doc_id"), col("lang"), explode(bigrams).as("b"))
      .select(col("doc_id"), col("lang"),
              col("b.w1").as("w1"), col("b.w2").as("w2"))
    val (bi, vocab) = topV match {
      case None =>
        (biRaw, toks.filter(col("lang") === trainLang)
          .select(explode(col("ts")).as("tk"))
          .agg(countDistinct(col("tk")).as("v")))
      case Some(vMax) =>
        val voc = toks.filter(col("lang") === trainLang)
          .select(explode(col("ts")).as("tk"))
          .groupBy(col("tk")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tk")).limit(vMax)
          .select(col("tk"))
        val v1 = broadcast(voc.select(col("tk").as("w1"),
                                      lit(1).as("in1")))
        val v2 = broadcast(voc.select(col("tk").as("w2"),
                                      lit(1).as("in2")))
        val mapped = biRaw
          .join(v1, Seq("w1"), "left_outer")
          .join(v2, Seq("w2"), "left_outer")
          .select(col("doc_id"), col("lang"),
            when(col("in1").isNotNull, col("w1"))
              .otherwise(lit(OovToken)).as("w1"),
            when(col("in2").isNotNull, col("w2"))
              .otherwise(lit(OovToken)).as("w2"))
        // |vocab| + 1: the OOV bucket is a vocab member
        (mapped, voc.agg((count(lit(1)) + lit(1L)).as("v")))
    }
    val train = bi.filter(col("lang") === trainLang)
    val bigramCounts = train.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val historyCounts = train.groupBy(col("w1").as("hw"))
      .agg(count(lit(1)).as("c1"))
    (bi, bigramCounts, historyCounts, vocab)
  }

  private def lmScoreTail(bi: DataFrame, bigramCounts: DataFrame,
                          historyCounts: DataFrame,
                          vocab: DataFrame): DataFrame =
    bi
      .join(bigramCounts, Seq("w1", "w2"), "left_outer")
      .join(historyCounts, col("w1") === col("hw"), "left_outer")
      .crossJoin(broadcast(vocab))
      .withColumn("lp", log((coalesce(col("c2"), lit(0L)) + lit(1.0)) /
                            (coalesce(col("c1"), lit(0L)) + col("v"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), round(-avg(col("lp")), 4).as("nll"))
      .select(col("doc_id"), col("n_bigrams"), col("nll"))

  /** CCNet head/middle/tail perplexity bucketing — the OPERATIONAL
    * step of Wenzek et al. 2020 on top of the q118 LM score: CCNet
    * does not hard-filter on perplexity; it splits each language's
    * documents into equal head/middle/tail terciles by LM score and
    * ships the buckets separately (training recipes then mix them).
    * bucket 0 = head (most fluent third), 1 = middle, 2 = tail.
    *
    * Per-language ranking uses the q64 HIERARCHICAL discipline, not a
    * single per-language window (a language is not a bounded partition
    * — at 100 TB one language is most of the corpus): per-(lang, nll)
    * tie-group counts aggregate first (running sum over the REDUCED
    * stream gives each nll value's base rank), and the only row-level
    * window partitions by the fine-grained (lang, nll) key. Tie-break
    * inside a 4dp-equal-nll group is doc_id, so tercile membership is
    * deterministic cross-engine; the oracle uses the plain
    * window formulation of the same rank. */
  def ccnetBuckets(spark: SparkSession, dir: String,
                   trainLang: String = "en"): DataFrame =
    ccnetTerciles(spark, dir, bigramLmScore(spark, dir, trainLang))

  /** CCNet terciles over the BOUNDED-vocab LM ([[bigramLmScoreBounded]])
    * — the full production pipeline shape: fixed top-V+OOV model,
    * per-language head/middle/tail split. Same tercile machinery as
    * [[ccnetBuckets]]; only the scorer differs. */
  def ccnetBucketsBounded(spark: SparkSession, dir: String,
                          trainLang: String = "en",
                          topV: Int = 512): DataFrame =
    ccnetTerciles(spark, dir,
      bigramLmScoreBounded(spark, dir, trainLang, topV))

  private def ccnetTerciles(spark: SparkSession, dir: String,
                            scored: DataFrame): DataFrame = {
    val langs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    // three consumers (tie-group bases, per-lang totals, the ranked
    // rows) read the scored frame — persist the skinny (doc, lang,
    // n_bigrams, nll) result once instead of running the LM scoring
    // joins three times; drained by any family's cold sweep
    val d = scored.join(langs, "doc_id")
      .transform(Memo.persist)
    val byLang = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("nll"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val bases = d.groupBy(col("lang"), col("nll"))
      .agg(count(lit(1)).as("c"))
      .withColumn("base", coalesce(sum(col("c")).over(byLang), lit(0L)))
      .select(col("lang").as("b_lang"), col("nll").as("b_nll"),
              col("base"))
    val nLang = d.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val intraW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("nll")).orderBy(col("doc_id"))
    d.withColumn("intra", row_number().over(intraW).cast("long"))
      .join(bases, col("lang") === col("b_lang") &&
                   col("nll") === col("b_nll"))
      .join(nLang, Seq("lang"))
      .withColumn("rnk", col("base") + col("intra"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("nll"),
        col("rnk"),
        expr("(3 * (rnk - 1)) div n_lang").as("bucket"))
  }

  def ccnetBucketsOracleSql(trainLang: String = "en"): String =
    ccnetTercilesOracleSql(bigramLmScoreOracleSql(trainLang))

  def ccnetBucketsBoundedOracleSql(trainLang: String = "en",
                                   topV: Int = 512): String =
    ccnetTercilesOracleSql(bigramLmScoreBoundedOracleSql(trainLang, topV))

  private def ccnetTercilesOracleSql(lm: String): String = {
    s"""WITH dw AS ($lm),
       |j AS (
       |  SELECT dw.doc_id, d.lang, dw.n_bigrams, dw.nll
       |  FROM dw JOIN documents d ON d.doc_id = dw.doc_id),
       |r AS (
       |  SELECT doc_id, lang, n_bigrams, nll,
       |    row_number() OVER (PARTITION BY lang
       |                       ORDER BY nll, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM j)
       |SELECT doc_id, lang, n_bigrams, nll, CAST(rn AS BIGINT) AS rnk,
       |  CAST((3 * (rn - 1)) // n AS BIGINT) AS bucket
       |FROM r""".stripMargin
  }

  /** Per-source top-k terms via the typed bounded-top-k AGGREGATOR
    * ([[graft.functions.TopKByCount]]) — the execution-strategy twin of
    * [[topTerms]]: same result set, but computed as one aggregation
    * whose map-side partials are k-bounded buffers, instead of the
    * window formulation that shuffles and sorts every (source, token)
    * count row before discarding all but k. Same deterministic
    * (count desc, token asc) order, so the q44 oracle SQL verifies both
    * strategies. */
  def topTermsAggregated(spark: SparkSession, dir: String,
                         k: Int = 5): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("source"),
              explode(split(normalized(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
      .select(col("source"), col("token"), col("n"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKByCount(k).toColumn.name("top"))
      .toDF("source", "top")
      .select(col("source"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("source"), col("t._1").as("token"), col("t._2").as("n"),
              (col("i") + 1).cast("long").as("rnk"))
  }

  /** Fixed-weight logistic quality classifier — model INFERENCE at
    * corpus scale, the fasttext-classifier-shaped step of a data
    * pipeline (score every document with a trained model; training
    * happens offline — here the weights are fixed literals, which is
    * exactly how a broadcast model looks to the scoring pass). Features
    * are the engine's own q20 statistics (token count, stopword ratio,
    * mean word length), standardized with fixed constants;
    * score = σ(w·x + b), computed entirely in codegen'd built-ins — no
    * UDF, so the scoring pass fuses into the scan's codegen stage.
    *
    * Determinism: one exp() per row (libm last-ulp differences sit at
    * ~1e-16 relative; scores are 4dp-rounded — the cosine-gate rounding
    * contract). Output: (doc_id, score, keep). */
  def qualityClassifier(spark: SparkSession, dir: String,
                        threshold: Double = 0.5): DataFrame = {
    val toks = filter(split(normalized(col("text")), " "), t => t =!= "")
    val nTok = size(toks).cast("double")
    val nStop = expr(s"size(regexp_extract_all(lower(text), " +
      "'\\\\b(the|a|an|and|of|to|in|is|it|for)\\\\b', 1))").cast("double")
    val meanWordLen =
      when(nTok > 0, expr("length(regexp_replace(text, '[^A-Za-z0-9]', ''))")
        .cast("double") / nTok).otherwise(lit(0.0))
    // fixed "trained" weights over standardized features
    val z = lit(-0.25) +
      lit(0.8) * ((nTok - lit(120.0)) / lit(80.0)) +
      lit(1.5) * ((when(nTok > 0, nStop / nTok).otherwise(lit(0.0)) -
                   lit(0.12)) / lit(0.08)) * lit(0.3) +
      lit(-0.6) * ((meanWordLen - lit(5.0)) / lit(2.0))
    val score = lit(1.0) / (lit(1.0) + exp(-z))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), round(score, 4).as("score"),
              (score >= threshold).cast("int").as("keep"))
  }

  def qualityClassifierOracleSql(threshold: Double = 0.5): String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(trim(regexp_replace(
       |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       |      ' +', ' ', 'g')), ' '), t -> t <> '')) AS DOUBLE) AS n_tok,
       |    CAST(len(regexp_extract_all(lower(text),
       |      '\\b(the|a|an|and|of|to|in|is|it|for)\\b')) AS DOUBLE)
       |      AS n_stop,
       |    CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
       |      AS DOUBLE) AS n_alnum
       |  FROM documents),
       |z AS (
       |  SELECT doc_id,
       |    -0.25
       |    + 0.8 * ((n_tok - 120.0) / 80.0)
       |    + 1.5 * ((CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END
       |              - 0.12) / 0.08) * 0.3
       |    + -0.6 * (((CASE WHEN n_tok > 0 THEN n_alnum / n_tok
       |                ELSE 0.0 END) - 5.0) / 2.0) AS z
       |  FROM f)
       |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS score,
       |  CAST(CASE WHEN 1.0 / (1.0 + exp(-z)) >= $threshold
       |       THEN 1 ELSE 0 END AS INT) AS keep
       |FROM z""".stripMargin

  /** Gopher rule-based quality filter — Rae et al., "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher" (2021),
    * Appendix A (the rule bundle MassiveWeb was filtered with, and the
    * baseline every later pipeline — RefinedWeb, Dolma, FineWeb —
    * starts from). Per document, over RAW whitespace words (the rules
    * predate any normalization):
    *
    *   1. word count in [minWords, maxWords]        (paper: 50..100k)
    *   2. mean word length in [3, 10]
    *   3. symbol-to-word ratio ≤ 0.1 ('#' or '…'/'...')
    *   4. ≥ 80% of words contain an alphabetic char
    *   5. ≥ 2 distinct stop words from the paper's 8-word list
    *      (the "stop word" fluency heuristic)
    *
    * (The two line-shape rules — bullet/ellipsis line fractions — need
    * line structure the single-line synthetic docs don't have; the
    * ratios are emitted as rule 3's symbol ratio instead, matching the
    * paper's symbol screen.)
    *
    * Pure map-side expression work — at 100 TB this is a scan-speed
    * filter like q45/q135, and it fuses into whole-stage codegen (no
    * UDF). Ratios are exact int/int double divisions rounded @4dp, so
    * the oracle replays them bit-for-bit. Output: per-doc feature
    * columns, each rule flag, and the conjunction `keep`. */
  def gopherRules(spark: SparkSession, dir: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    withGopherFlags(Tables.load(spark, dir, "documents"),
        minWords, maxWords)
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("alpha_word_frac"), col("symbol_word_frac"),
        col("n_stop_distinct"), col("r_word_count"), col("r_mean_len"),
        col("r_symbol"), col("r_alpha"), col("r_stop"), col("keep"))

  /** The Gopher rule columns APPENDED to any frame with a `text`
    * column — pure row-local expression work, so it composes unchanged
    * into Structured Streaming (see
    * [[graft.streaming.Streams.gopherKeepAvailableNow]]). */
  def withGopherFlags(docs: DataFrame, minWords: Int = 50,
                      maxWords: Int = 100000,
                      stopMin: Int = 2): DataFrame = {
    // explicit whitespace class, NOT \s+: Java's \s and RE2's \s
    // disagree on e.g. vertical tab U+000B, so the oracle uses the
    // same literal class — the tokenizers agree by construction
    val words = filter(split(col("text"), "[ \\t\\n\\r\\f]+"),
                       w => w =!= "")
    val stopList = Seq("the", "be", "to", "of", "and", "that", "have",
                       "with")
    docs
      .withColumn("__ws", words)
      .withColumn("n_words", size(col("__ws")).cast("long"))
      .withColumn("__n_chars",
        aggregate(col("__ws"), lit(0L), (a, w) => a + length(w)))
      .withColumn("__n_alpha",
        size(filter(col("__ws"), w => w.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("__n_symbol",
        size(filter(col("__ws"),
          w => w.contains("#") || w.contains("...") || w.contains("…")))
          .cast("long"))
      .withColumn("n_stop_distinct",
        size(array_intersect(transform(col("__ws"), w => lower(w)),
          typedlit(stopList))).cast("long"))
      .withColumn("mean_word_len",
        round(when(col("n_words") > 0,
          col("__n_chars").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(0.0)), 4))
      .withColumn("alpha_word_frac",
        round(when(col("n_words") > 0,
          col("__n_alpha").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(0.0)), 4))
      .withColumn("symbol_word_frac",
        round(when(col("n_words") > 0,
          col("__n_symbol").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(0.0)), 4))
      .withColumn("r_word_count",
        (col("n_words") >= minWords && col("n_words") <= maxWords)
          .cast("int"))
      // exact-integer comparisons (3 ≤ chars/words ≤ 10 cross-
      // multiplied) — no double threshold can flip on a ULP
      .withColumn("r_mean_len",
        (col("n_words") > 0 && col("__n_chars") >= col("n_words") * 3 &&
         col("__n_chars") <= col("n_words") * 10).cast("int"))
      .withColumn("r_symbol",
        (col("__n_symbol") * 10 <= col("n_words")).cast("int"))
      .withColumn("r_alpha",
        (col("__n_alpha") * 10 >= col("n_words") * 8).cast("int"))
      .withColumn("r_stop",
        (col("n_stop_distinct") >= stopMin).cast("int"))
      .withColumn("keep",
        (col("r_word_count") * col("r_mean_len") * col("r_symbol") *
         col("r_alpha") * col("r_stop")).cast("int"))
      .drop("__ws", "__n_chars", "__n_alpha", "__n_symbol")
  }

  def gopherRulesOracleSql(minWords: Int = 50,
                           maxWords: Int = 100000,
                           stopMin: Int = 2): String =
    s"""WITH w AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '[ \\t\\n\\r\\f]+'),
       |                x -> x <> '')
       |      AS ws
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0)
       |         AS BIGINT) AS n_chars,
       |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
       |         AS BIGINT) AS n_alpha_words,
       |    CAST(len(list_filter(ws, x -> contains(x, '#')
       |          OR contains(x, '...') OR contains(x, '…')))
       |         AS BIGINT) AS n_symbol_words,
       |    CAST(len(list_intersect(list_transform(ws, x -> lower(x)),
       |          ['the','be','to','of','and','that','have','with']))
       |         AS BIGINT) AS n_stop_distinct
       |  FROM w)
       |SELECT doc_id, n_words,
       |  round(CASE WHEN n_words > 0
       |        THEN CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE)
       |        ELSE 0.0 END, 4) AS mean_word_len,
       |  round(CASE WHEN n_words > 0
       |        THEN CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE)
       |        ELSE 0.0 END, 4) AS alpha_word_frac,
       |  round(CASE WHEN n_words > 0
       |        THEN CAST(n_symbol_words AS DOUBLE) / CAST(n_words AS DOUBLE)
       |        ELSE 0.0 END, 4) AS symbol_word_frac,
       |  n_stop_distinct,
       |  CAST(n_words >= $minWords AND n_words <= $maxWords AS INT)
       |    AS r_word_count,
       |  CAST(n_words > 0 AND n_chars >= 3 * n_words
       |       AND n_chars <= 10 * n_words AS INT) AS r_mean_len,
       |  CAST(n_symbol_words * 10 <= n_words AS INT) AS r_symbol,
       |  CAST(n_alpha_words * 10 >= n_words * 8 AS INT) AS r_alpha,
       |  CAST(n_stop_distinct >= $stopMin AS INT) AS r_stop,
       |  CAST((n_words >= $minWords AND n_words <= $maxWords)
       |    AND (n_words > 0 AND n_chars >= 3 * n_words
       |         AND n_chars <= 10 * n_words)
       |    AND n_symbol_words * 10 <= n_words
       |    AND n_alpha_words * 10 >= n_words * 8
       |    AND n_stop_distinct >= $stopMin AS INT) AS keep
       |FROM f""".stripMargin

  /** Oracle for the STREAMING Gopher census
    * ([[graft.streaming.Streams.gopherKeepAvailableNow]]): the batch
    * per-source keep totals over the same rules. */
  def gopherKeepBySourceOracleSql(minWords: Int = 50,
                                  maxWords: Int = 100000): String =
    s"""WITH g AS (${gopherRulesOracleSql(minWords, maxWords)})
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(g.keep) AS BIGINT) AS n_keep
       |FROM g JOIN documents d ON d.doc_id = g.doc_id
       |GROUP BY d.source""".stripMargin

  /** Consecutive-duplicate-token collapse — the stutter/boilerplate
    * repeat cleaner ("batch batch batch" → "batch"): runs of the same
    * normalized token collapse to one copy, with per-doc audit counts.
    * This is the REWRITE companion of the q56/q75 repetition audits
    * (Gopher's duplicated-unigram signal), and the corpus exercises it
    * naturally (repeated adjacent tokens occur in the synthetic text).
    *
    * Scale: a PURE map — the keep decision is an indexed array filter
    * inside one projection, no shuffle, no window, no join
    * (plan-asserted); at 100 TB this runs at scan speed and fuses into
    * whole-stage codegen alongside any other per-doc cleaning step. */
  def collapseRepeats(spark: SparkSession, dir: String): DataFrame =
    collapseRepeatsDf(Tables.load(spark, dir, "documents"))

  def collapseRepeatsDf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
              split(normalized(col("text")), " ").as("ws"))
      .withColumn("ws",
        when(size(col("ws")) === 1 && col("ws").getItem(0) === "",
             array().cast("array<string>"))
          .otherwise(col("ws")))
      .withColumn("kept",
        // when(), not ||: element_at(ws, 0) would raise under ANSI —
        // the branch must not evaluate for the first element
        filter(col("ws"), (w, i) =>
          when(i === 0, lit(true))
            .otherwise(w =!= element_at(col("ws"), i))))
      .select(col("doc_id"),
              size(col("ws")).cast("long").as("n_tokens"),
              (size(col("ws")) - size(col("kept"))).cast("long")
                .as("n_collapsed"),
              array_join(col("kept"), " ").as("clean_text"))

  /** DuckDB oracle for [[collapseRepeats]]: the same indexed filter as
    * a list comprehension (1-based; element i survives iff i = 1 or it
    * differs from element i−1). */
  def collapseRepeatsOracleSql(): String =
    """WITH ws AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
      |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
      |    AS w0 FROM documents),
      |w2 AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w0) = 1 AND w0[1] = '' THEN []
      |         ELSE w0 END AS w
      |  FROM ws),
      |k AS (
      |  SELECT doc_id, w,
      |    [w[i] for i in range(1, len(w) + 1)
      |     if i = 1 OR w[i] <> w[i - 1]] AS kept
      |  FROM w2)
      |SELECT doc_id,
      |  CAST(len(w) AS BIGINT) AS n_tokens,
      |  CAST(len(w) - len(kept) AS BIGINT) AS n_collapsed,
      |  array_to_string(kept, ' ') AS clean_text
      |FROM k""".stripMargin

  /** Quality-filter FUNNEL attribution — the report a cleaning
    * pipeline's operator actually tunes against: each rejected doc is
    * attributed to the FIRST rule it fails in the paper's order
    * (word count → mean length → symbol → alpha → stop words), so the
    * per-source counts answer "which rule costs me which fraction of
    * which source" (sum of the five fail columns + kept = n_docs,
    * spec-asserted). The rules are [[withGopherFlags]]'s verbatim —
    * the funnel cannot drift from the q201/q204 gates.
    *
    * `stopMin` defaults to 1 here (not the paper's 2): the synthetic
    * corpus vocabulary contains one stop word, so at 2 every document
    * fails the stop rule and the funnel degenerates to a single
    * column; at 1 the corpus exercises kept + two distinct rejection
    * rules at every scale. Production corpora use the paper threshold.
    *
    * Scale: map-side flags + one bounded groupBy — the q204 shape. */
  def gopherFunnel(spark: SparkSession, dir: String,
                   minWords: Int = 50, maxWords: Int = 100000,
                   stopMin: Int = 1): DataFrame = {
    val f = withGopherFlags(Tables.load(spark, dir, "documents"),
                            minWords, maxWords, stopMin)
    val pass = (c: String) => col(c) === 1
    f.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("keep").cast("long")).as("n_kept"),
      sum((!pass("r_word_count")).cast("long")).as("n_fail_word_count"),
      sum((pass("r_word_count") && !pass("r_mean_len")).cast("long"))
        .as("n_fail_mean_len"),
      sum((pass("r_word_count") && pass("r_mean_len") &&
           !pass("r_symbol")).cast("long")).as("n_fail_symbol"),
      sum((pass("r_word_count") && pass("r_mean_len") &&
           pass("r_symbol") && !pass("r_alpha")).cast("long"))
        .as("n_fail_alpha"),
      sum((pass("r_word_count") && pass("r_mean_len") &&
           pass("r_symbol") && pass("r_alpha") && !pass("r_stop"))
        .cast("long")).as("n_fail_stop"))
  }

  /** DuckDB oracle for [[gopherFunnel]]: the shared rule CTE plus the
    * same first-fail CASE cascade. */
  def gopherFunnelOracleSql(minWords: Int = 50, maxWords: Int = 100000,
                            stopMin: Int = 1): String =
    s"""WITH g AS (${gopherRulesOracleSql(minWords, maxWords, stopMin)})
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(g.keep) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN g.r_word_count = 0 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_fail_word_count,
       |  CAST(sum(CASE WHEN g.r_word_count = 1 AND g.r_mean_len = 0
       |       THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_mean_len,
       |  CAST(sum(CASE WHEN g.r_word_count = 1 AND g.r_mean_len = 1
       |       AND g.r_symbol = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_fail_symbol,
       |  CAST(sum(CASE WHEN g.r_word_count = 1 AND g.r_mean_len = 1
       |       AND g.r_symbol = 1 AND g.r_alpha = 0 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_fail_alpha,
       |  CAST(sum(CASE WHEN g.r_word_count = 1 AND g.r_mean_len = 1
       |       AND g.r_symbol = 1 AND g.r_alpha = 1 AND g.r_stop = 0
       |       THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop
       |FROM g JOIN documents d ON d.doc_id = g.doc_id
       |GROUP BY d.source""".stripMargin

  /** Feature-hashing ("hashing trick") vectorizer — Weinberger et al.,
    * "Feature Hashing for Large Scale Multitask Learning", ICML 2009:
    * each word token lands in dimension `md5(w) mod dim` with sign
    * `±1` from the next hash bit; the doc's vector is the signed count
    * sum. No vocabulary pass, no fitted state, fixed dimensionality —
    * the map-side-only vectorizer that turns 100 TB of text into
    * fixed-width numeric columns in a single scan (sign cancellation
    * keeps inner products unbiased estimates of token-count inner
    * products — the AMS/q123 argument applied per document).
    *
    * The vector is INTEGER-valued, so the gate emits exact integers:
    * (doc_id, n_tokens, nnz, l2sq, chk) with
    * l2sq = Σ v_d², chk = Σ d·v_d (position-sensitive — a permuted
    * vector fails). Oracle replays the md5 bucket/sign arithmetic
    * verbatim. */
  def hashedVectorProfile(spark: SparkSession, dir: String,
                          dim: Int = 64): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
              explode(filter(split(normalized(col("text")), " "),
                             t => t =!= "")).as("tk"))
      .withColumn("h",
        conv(substring(md5(col("tk")), 1, 15), 16, 10).cast("long"))
      .withColumn("d", pmod(col("h"), lit(dim.toLong)))
      .withColumn("sgn", when(expr(s"(h div $dim) % 2") === 0, lit(1L))
        .otherwise(lit(-1L)))
      .groupBy(col("doc_id"), col("d"))
      .agg(sum(col("sgn")).as("v"), count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
           sum(when(col("v") =!= 0, 1L).otherwise(0L)).as("nnz"),
           sum(col("v") * col("v")).as("l2sq"),
           sum(col("d") * col("v")).as("chk"))

  def hashedVectorProfileOracleSql(dim: Int = 64): String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split(trim(regexp_replace(
       |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       |      ' +', ' ', 'g')), ' '), t -> t <> '')) AS tk
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    list_reduce([CAST(strpos('0123456789abcdef',
       |        substr(md5(tk), p, 1)) - 1 AS BIGINT)
       |      for p in range(1, 16)], (a, b) -> a * 16 + b) AS hv
       |  FROM tok),
       |dims AS (
       |  SELECT doc_id, hv % $dim AS d,
       |    CASE WHEN (hv // $dim) % 2 = 0 THEN 1 ELSE -1 END AS sgn
       |  FROM h),
       |v AS (
       |  SELECT doc_id, d, CAST(sum(sgn) AS BIGINT) AS v,
       |    count(*) AS cnt
       |  FROM dims GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz,
       |  CAST(sum(v * v) AS BIGINT) AS l2sq,
       |  CAST(sum(d * v) AS BIGINT) AS chk
       |FROM v GROUP BY doc_id""".stripMargin

  /** Tokenizer-vocabulary coverage audit: fix the vocabulary to the
    * corpus's top-`vocabSize` word tokens (count desc, token asc — the
    * deterministic frequency-cut every subword tokenizer starts from)
    * and report each source's out-of-vocabulary token rate. High OOV
    * for a source means the tokenizer will fragment its text into long
    * byte-fallback sequences — the audit run before freezing a
    * tokenizer on a new mixture.
    *
    * Scale shape: one token explode (linear, map-side); the count table
    * is vocabulary-bounded; the top-N cut is a TakeOrdered over that
    * bounded table; the membership join BROADCASTS the N-row vocab
    * against the token stream (never shuffles the corpus); final rollup
    * is a #sources-bounded aggregation. */
  def vocabCoverage(spark: SparkSession, dir: String,
                    vocabSize: Int = 1000): DataFrame = {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("source"),
              explode(filter(split(normalized(col("text")), " "),
                             t => t =!= "")).as("tk"))
    val vocab = toks.groupBy(col("tk")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tk")).limit(vocabSize)
      .select(col("tk"), lit(1).as("iv"))
    toks.join(broadcast(vocab), Seq("tk"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
           sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
              round(col("n_oov") / col("n_tokens"), 4).as("oov_rate"))
  }

  /** Vocabulary-prune REWRITE — the enactment of q122's frozen
    * frequency-cut vocabulary: every out-of-vocabulary token becomes
    * the `<unk>` placeholder and the text is rebuilt, with per-doc unk
    * counts (the step that actually materializes a closed-vocab corpus
    * for a fixed tokenizer). The vocabulary is the top-`vocabSize`
    * tokens by (count desc, token asc) — the same deterministic cut as
    * q122, so both engines freeze the identical set.
    *
    * `vocabSize` defaults to 24 here (not q122's 1000): the synthetic
    * corpus has a 31-token vocabulary, so any cut ≥ 31 makes the
    * rewrite the identity; at 24 the gate exercises real replacement
    * at every scale. Production uses the tokenizer's true size.
    *
    * Scale: one bounded vocabulary aggregate (vocabulary-sized, built
    * with the q122 TakeOrdered cut), BROADCAST membership join on the
    * exploded token stream, doc-local ordered rebuild — corpus passes
    * are linear, nothing keys on the corpus but the doc_id rebuild. */
  def vocabPrune(spark: SparkSession, dir: String,
                 vocabSize: Int = 24): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
    val toks = base
      .select(col("doc_id"),
              split(normalized(col("text")), " ").as("ws"))
      .filter(size(col("ws")) > 0 && col("ws").getItem(0) =!= "")
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "tk")))
    val vocab = toks.groupBy(col("tk")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tk")).limit(vocabSize)
      .select(col("tk"), lit(1).as("iv"))
    val mapped = toks.join(broadcast(vocab), Seq("tk"), "left_outer")
      .select(col("doc_id"), col("pos"),
              when(col("iv").isNull, lit("<unk>")).otherwise(col("tk"))
                .as("mt"),
              col("iv").isNull.as("oov"))
    val stats = mapped.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
           sum(when(col("oov"), 1L).otherwise(0L)).as("n_unk"))
    val clean = mapped.groupBy(col("doc_id"))
      .agg(array_join(expr("transform(array_sort(" +
        "collect_list(struct(pos, mt))), x -> x.mt)"), " ")
        .as("pruned_text"))
    base.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
              coalesce(col("n_unk"), lit(0L)).as("n_unk"),
              coalesce(col("pruned_text"), lit("")).as("pruned_text"))
  }

  /** DuckDB oracle for [[vocabPrune]]: the q122 vocabulary CTE, the
    * same CASE mapping per position, and an ordered string_agg. */
  def vocabPruneOracleSql(vocabSize: Int = 24): String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
       |    AS w FROM documents),
       |toks0 AS (
       |  SELECT doc_id, unnest([{'pos': i - 1, 'tk': w[i]}
       |    for i in range(1, len(w) + 1)]) AS u
       |  FROM ws WHERE len(w) > 0 AND w[1] <> ''),
       |toks AS (SELECT doc_id, u.pos AS pos, u.tk AS tk FROM toks0),
       |c AS (SELECT tk, count(*) AS n FROM toks GROUP BY tk),
       |v AS (SELECT tk AS vtk FROM c ORDER BY n DESC, tk LIMIT $vocabSize),
       |m AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN vtk IS NULL THEN '<unk>' ELSE tk END AS mt,
       |    vtk IS NULL AS oov
       |  FROM toks LEFT JOIN v ON vtk = tk),
       |stats AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
       |  FROM m GROUP BY doc_id),
       |clean AS (
       |  SELECT doc_id, string_agg(mt, ' ' ORDER BY pos) AS pruned_text
       |  FROM m GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(s.n_unk, 0) AS BIGINT) AS n_unk,
       |  coalesce(c2.pruned_text, '') AS pruned_text
       |FROM documents d
       |LEFT JOIN stats s ON d.doc_id = s.doc_id
       |LEFT JOIN clean c2 ON d.doc_id = c2.doc_id""".stripMargin

  def vocabCoverageOracleSql(vocabSize: Int = 1000): String =
    s"""WITH tok AS (
       |  SELECT source,
       |    unnest(list_filter(string_split(trim(regexp_replace(
       |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       |      ' +', ' ', 'g')), ' '), t -> t <> '')) AS tk
       |  FROM documents),
       |c AS (SELECT tk, count(*) AS n FROM tok GROUP BY tk),
       |v AS (SELECT tk AS vtk FROM c ORDER BY n DESC, tk LIMIT $vocabSize)
       |SELECT source, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN vtk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_oov,
       |  round(CAST(sum(CASE WHEN vtk IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |        / count(*), 4) AS oov_rate
       |FROM tok LEFT JOIN v ON vtk = tk
       |GROUP BY source""".stripMargin

  def bigramLmScoreOracleSql(trainLang: String = "en"): String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '),
       |      t -> t <> '') AS ts
       |  FROM documents),
       |bi0 AS (
       |  SELECT doc_id, lang, ts, unnest(range(1, len(ts))) AS i FROM tok),
       |bi AS (
       |  SELECT doc_id, lang, ts[i] AS w1, ts[i + 1] AS w2 FROM bi0),
       |train AS (SELECT w1, w2 FROM bi WHERE lang = '$trainLang'),
       |bc AS (SELECT w1, w2, count(*) AS c2 FROM train GROUP BY 1, 2),
       |hc AS (SELECT w1, count(*) AS c1 FROM train GROUP BY 1),
       |v AS (SELECT count(DISTINCT tk) AS vs FROM
       |  (SELECT unnest(ts) AS tk FROM tok WHERE lang = '$trainLang') t),
       |sc AS (
       |  SELECT b.doc_id,
       |    ln((coalesce(bc.c2, 0) + 1.0) / (coalesce(hc.c1, 0) + v.vs))
       |      AS lp
       |  FROM bi b
       |  LEFT JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
       |  LEFT JOIN hc ON hc.w1 = b.w1
       |  CROSS JOIN v)
       |SELECT doc_id, count(*) AS n_bigrams, round(-avg(lp), 4) AS nll
       |FROM sc GROUP BY doc_id""".stripMargin

  /** Oracle for [[bigramLmScoreBounded]]: identical shape to the q118
    * SQL, with the bigram stream remapped through the top-V vocabulary
    * (deterministic ORDER BY count DESC, token LIMIT V) and the
    * smoothing constant |voc|+1. */
  def bigramLmScoreBoundedOracleSql(trainLang: String = "en",
                                    topV: Int = 512): String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '),
       |      t -> t <> '') AS ts
       |  FROM documents),
       |bi0 AS (
       |  SELECT doc_id, lang, ts, unnest(range(1, len(ts))) AS i FROM tok),
       |bir AS (
       |  SELECT doc_id, lang, ts[i] AS w1, ts[i + 1] AS w2 FROM bi0),
       |tf AS (
       |  SELECT tk, count(*) AS c FROM
       |    (SELECT unnest(ts) AS tk FROM tok WHERE lang = '$trainLang') t
       |  GROUP BY tk),
       |voc AS (SELECT tk FROM tf ORDER BY c DESC, tk LIMIT $topV),
       |bi AS (
       |  SELECT b.doc_id, b.lang,
       |    CASE WHEN v1.tk IS NOT NULL THEN b.w1 ELSE '$OovToken' END AS w1,
       |    CASE WHEN v2.tk IS NOT NULL THEN b.w2 ELSE '$OovToken' END AS w2
       |  FROM bir b
       |  LEFT JOIN voc v1 ON v1.tk = b.w1
       |  LEFT JOIN voc v2 ON v2.tk = b.w2),
       |train AS (SELECT w1, w2 FROM bi WHERE lang = '$trainLang'),
       |bc AS (SELECT w1, w2, count(*) AS c2 FROM train GROUP BY 1, 2),
       |hc AS (SELECT w1, count(*) AS c1 FROM train GROUP BY 1),
       |v AS (SELECT count(*) + 1 AS vs FROM voc),
       |sc AS (
       |  SELECT b.doc_id,
       |    ln((coalesce(bc.c2, 0) + 1.0) / (coalesce(hc.c1, 0) + v.vs))
       |      AS lp
       |  FROM bi b
       |  LEFT JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
       |  LEFT JOIN hc ON hc.w1 = b.w1
       |  CROSS JOIN v)
       |SELECT doc_id, count(*) AS n_bigrams, round(-avg(lp), 4) AS nll
       |FROM sc GROUP BY doc_id""".stripMargin

  /** Per-source token-concentration (Gini) audit — "is this source a
    * few huge documents or many uniform ones?", the corpus-diversity
    * signal mixture planning reads next to the counts. Computed EXACTLY
    * in integers from the rank formulation
    * `G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)` (xᵢ ascending, i = 1-based
    * rank; rank ties don't perturb Σ i·xᵢ between equal values), one
    * double division at the end.
    *
    * Scale: ranks come from a window partitioned BY SOURCE (each
    * source's docs sort within its partition — the q74/q126 bounded-
    * window discipline); everything after is one rollup. */
  def sourceGini(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_tokens"), col("doc_id"))
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
              expr(s"size($tokenExpr)").cast("long").as("n_tokens"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("total_tokens"),
           sum(col("i") * col("n_tokens")).as("six"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        round((lit(2) * col("six") - (col("n_docs") + 1) *
                 col("total_tokens")).cast("double") /
              (col("n_docs") * col("total_tokens")).cast("double"), 6)
          .as("gini"))
  }

  def sourceGiniOracleSql(): String =
    """WITH n AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),
      |r AS (
      |  SELECT source, n_tokens,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY n_tokens, doc_id) AS i
      |  FROM n)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  round(CAST(2 * sum(i * n_tokens)
      |             - (count(*) + 1) * sum(n_tokens) AS DOUBLE)
      |        / CAST(count(*) * sum(n_tokens) AS DOUBLE), 6) AS gini
      |FROM r GROUP BY source""".stripMargin

  /** Document-level PMI co-occurrence matrix over the top-`k` vocab —
    * the word2vec-era association statistic: for token pair (a, b),
    * `pmi = ln(N · df_ab / (df_a · df_b))` from document frequencies
    * (all exact integers; one `ln` rounded to 4 — the q118 parity
    * discipline). Positive PMI = the tokens co-occur more than their
    * popularity predicts (phrases, topical pairs); strongly negative =
    * complementary distribution (e.g. different languages).
    *
    * Scale: presence pairs join through the BOUNDED top-k vocab (the
    * (token, doc) presence table is semi-joined to k tokens FIRST, so
    * the pair join fans out at most k per doc, never vocab²·docs);
    * output is ≤ k(k−1)/2 rows. */
  def pmiCooccurrence(spark: SparkSession, dir: String,
                      k: Int = 20): DataFrame = {
    val presence = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
              explode(array_distinct(
                split(normalized(col("text")), " "))).as("token"))
      .filter(col("token") =!= "")
    val top = presence.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token")).limit(k)
    val p = presence.join(broadcast(top), Seq("token"))
    val nDocs = Tables.load(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    val a = p.select(col("doc_id"), col("token").as("ta"),
                     col("df").as("dfa"))
    val b = p.select(col("doc_id").as("d2"), col("token").as("tb"),
                     col("df").as("dfb"))
    a.join(b, col("doc_id") === col("d2") && col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"), col("dfa"), col("dfb"))
      .agg(count(lit(1)).as("df_ab"))
      .crossJoin(broadcast(nDocs))
      .select(col("ta"), col("tb"), col("dfa"), col("dfb"), col("df_ab"),
        round(log(col("n_docs").cast("double") * col("df_ab") /
                  (col("dfa") * col("dfb")).cast("double")), 4).as("pmi"))
  }

  def pmiCooccurrenceOracleSql(k: Int = 20): String =
    s"""WITH presence AS (
       |  SELECT DISTINCT doc_id, token FROM (
       |    SELECT doc_id, unnest(string_split(trim(regexp_replace(
       |      regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       |      ' +', ' ', 'g')), ' ')) AS token
       |    FROM documents) t
       |  WHERE token <> ''),
       |top AS (
       |  SELECT token, count(*) AS df FROM presence GROUP BY token
       |  ORDER BY df DESC, token LIMIT $k),
       |p AS (SELECT pr.doc_id, pr.token, t.df
       |      FROM presence pr JOIN top t ON t.token = pr.token),
       |n AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT a.token AS ta, b.token AS tb,
       |  a.df AS dfa, b.df AS dfb, count(*) AS df_ab,
       |  round(ln(CAST((SELECT n_docs FROM n) AS DOUBLE) * count(*)
       |           / CAST(a.df * b.df AS DOUBLE)), 4) AS pmi
       |FROM p a JOIN p b
       |  ON a.doc_id = b.doc_id AND a.token < b.token
       |GROUP BY a.token, b.token, a.df, b.df""".stripMargin
}
