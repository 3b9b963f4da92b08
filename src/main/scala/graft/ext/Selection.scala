package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-selection operators: choosing WHICH documents to train on, as
  * opposed to deduplicating or filtering them.
  *
  * DSIR (Xie et al., "Data Selection for Language Models via Importance
  * Resampling", NeurIPS 2023) is the canonical scalable recipe: fit two
  * bag-of-hashed-n-gram models — one on a small TARGET corpus (the
  * distribution you want more of) and one on the RAW pool — and score
  * every raw document by its importance log-weight
  * Σ_b c_b(x)·(ln θ_target[b] − ln θ_raw[b]); the top-weighted (or
  * gumbel-resampled) documents become the training mixture. All the
  * corpus-sized work is feature hashing — one map-side pass — which is
  * why the method runs at web scale where perplexity-filter LMs don't.
  */
object Selection {

  /** DSIR importance weighting + top-k selection over `documents`.
    *
    * Target distribution = documents with `lang = targetLang`; raw pool
    * = the whole corpus (the paper's formulation with the pool as the
    * proposal). Features are hashed BIGRAMS (the paper's choice) into
    * `dim` buckets via the md5-rebase hash the q129 hashing-trick gate
    * already oracle-replays; bucket models use add-one smoothing.
    *
    * Determinism discipline: the per-bucket log-ratio
    * delta_b = ln( ((ct_b+1)·(Nr+dim)) / ((cr_b+1)·(Nt+dim)) )
    * is ONE ln call per bucket, its argument built from exact-integer
    * double factors (each count < 2^53 at any corpus size) by
    * IEEE-deterministic multiply/divide — so both engines feed
    * libm-class ln the IDENTICAL double and per-term drift is ≤1 ULP.
    * Computed on the dim-row bounded bucket table. Per-doc weights are rounded
    * at 4 decimals (the q118 bigram-LM discipline: validated dual-scale
    * there), and the top-k cut ranks on the ROUNDED weight with doc_id
    * tie-break, so the selected set is deterministic cross-engine.
    *
    * Scale shape: tokenize+hash is map-side; one (doc, bucket) shuffle
    * with map-side combine builds doc features; the bucket model is a
    * dim-row table BROADCAST back onto the features (the corpus is
    * never shuffled for the scoring join); the top-k cut is a
    * TakeOrdered over doc weights, never a global sort. At 100 TB the
    * only corpus-sized state is the (doc, bucket) feature table —
    * bounded by dim buckets per doc. */
  def dsirSelect(spark: SparkSession, dir: String, dim: Int = 256,
                 k: Int = 100, targetLang: String = "en"): DataFrame =
    selectTopK(docWeightsCached(spark, dir, dim, targetLang), k)

  /** DSIR with a SEPARATE held-out target corpus — the paper's primary
    * formulation (Xie et al. 2023 §2: curated target D_target vs raw
    * pool D_raw): the target distribution is estimated from a corpus
    * that is NOT part of the pool, the raw model is fit on the pool
    * only, and only pool documents compete for selection. Here the
    * held-out corpus is the `targetSource` slice of `documents` (a
    * curated source), which keeps the gate dir-relative and
    * oracle-replayable while exercising genuinely two-corpus
    * semantics: target docs shape the model but never appear in the
    * output. Shares [[docWeights]]'s scoring stage (one tokenize+hash
    * pass, one (doc, bucket) shuffle, dim-row model broadcast back)
    * and the per-corpus memo. */
  def dsirSelectHeldout(spark: SparkSession, dir: String, dim: Int = 256,
                        k: Int = 100,
                        targetSource: String = "src0"): DataFrame =
    selectTopK(docWeightsCachedGen(spark, dir, dim,
      s"heldout-src:$targetSource", col("source") === targetSource,
      heldOut = true), k)

  /** The shared selection tail: rank on the rounded weight with doc_id
    * tie-break, flag the top k. TakeOrdered + broadcast — never a
    * global sort, never a corpus shuffle. */
  private def selectTopK(docw: DataFrame, k: Int): DataFrame = {
    val topk = docw.orderBy(col("logw").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), lit(1L).as("sel"))
    docw.join(broadcast(topk), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_feats"), col("logw"),
              coalesce(col("sel"), lit(0L)).as("selected"))
  }

  /** Per-(session, dir, dim, targetLang) memo of the scored corpus —
    * the index-build-once pattern (q37 centroids): importance weights
    * are a per-corpus model artifact scored once and then consumed by
    * every selection policy (argmax q197, Gumbel resample q199, any
    * future stratified cut), not recomputed per query. Entries are
    * persisted via [[Memo.persist]] (drained with every family
    * cold sweep) and ALSO sit under the broadcast top-k branch and the
    * probe side of each selection join — the memo makes that shared
    * subtree compute once per corpus. */
  /** Key: (session, dir, dim, model id) where the model id encodes the
    * target definition — "lang:<l>" for the in-pool formulation,
    * "heldout-src:<s>" for the two-corpus one. */
  private[ext] val docwCache =
    Memo.table[(String, Int, String), DataFrame]("selection.docWeights")

  /** Drop memoized weight tables AND their tracked blocks (benchmark
    * cold-start hook; the drain is [[Memo.clearAll]]). */
  def clearMemos(): Unit = Memo.clearAll()

  private def docWeightsCached(spark: SparkSession, dir: String, dim: Int,
                               targetLang: String): DataFrame =
    docWeightsCachedGen(spark, dir, dim, s"lang:$targetLang",
      col("lang") === targetLang, heldOut = false)

  /** Memoized [[docWeights]] per (session, dir, dim, modelId); the same
    * `isTarget` contract holds: only `lang` and `source` may appear. */
  private def docWeightsCachedGen(spark: SparkSession, dir: String,
                                  dim: Int, modelId: String,
                                  isTarget: Column,
                                  heldOut: Boolean): DataFrame =
    docwCache.getOrElseUpdate(spark, (dir, dim, modelId))(
      // lazy persist (the r16 q63 lesson: an eager count charges the
      // first consumer an extra job); the first gate's own action fills
      // the cache, and the shared featCounts memo below — not a
      // transient exploded frame — is what the scoring reads, so there
      // is nothing to release eagerly any more
      docWeights(spark, dir, dim, isTarget, heldOut)
        .transform(Memo.persist))

  /** Per-(session, dir, dim) memo of the MODEL-INDEPENDENT feature-count
    * table (doc_id, lang, source, b, c) — r17, guide §2.4 "remove
    * shuffles outright": every DSIR model (q197/q199's in-pool lang
    * model, q200's held-out source model) re-ran the identical
    * corpus-sized tokenize+bigram+hash scan and (doc, bucket) shuffle,
    * differing only in which rows count as target. The target predicate
    * is a pure function of per-doc attributes (lang, source), so those
    * ride the groupBy keys (functionally dependent on doc_id) and each
    * model evaluates its own `tgt` over this one persisted table —
    * per-model work drops from corpus-scale to featCounts-scale.
    * Cleared with the family memos by [[Memo.clearAll]]. */
  private val featCountsCache =
    Memo.table[(String, Int), DataFrame]("selection.featCounts")

  private def featCountsCached(spark: SparkSession, dir: String,
                               dim: Int): DataFrame =
    featCountsCache.getOrElseUpdate(spark, (dir, dim)) {
      val toks = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
                filter(split(TextAnalysis.normalized(col("text")), " "),
                       t => t =!= "").as("ts"))
      // map-side bigram list (q118's guard: sequence(0,-1) counts DOWN)
      val bigrams = expr(
        """CASE WHEN size(ts) >= 2 THEN
          |  transform(sequence(0, size(ts) - 2),
          |    i -> concat(ts[i], ' ', ts[i + 1]))
          |ELSE array() END""".stripMargin)
      toks
        .select(col("doc_id"), col("lang"), col("source"),
                explode(bigrams).as("bg"))
        .withColumn("b",
          pmod(Sketches.hHex(col("bg"), 15), lit(dim.toLong)))
        .groupBy(col("doc_id"), col("lang"), col("source"), col("b"))
        .agg(count(lit(1)).as("c"))
        .transform(Memo.persist)
    }

  /** The shared DSIR scoring stage: (doc_id, n_feats, logw @4dp),
    * plus the inner persisted feature frame for lifecycle control.
    *
    * `isTarget` marks the target-corpus rows. It is evaluated over the
    * memoized (doc_id, lang, source, b, c) feature-count table, not the
    * documents table, so it may reference only `lang` and `source`; any
    * other document column fails at analysis time. `heldOut` selects the
    * formulation: false = the paper's pool-as-proposal variant (raw
    * model over ALL docs, every doc scored — q197/q199); true = the
    * paper's primary two-corpus setup (raw model over the NON-target
    * pool only, only pool docs scored — the target corpus shapes the
    * model but never competes for selection). */
  private def docWeights(spark: SparkSession, dir: String, dim: Int,
                         isTarget: Column,
                         heldOut: Boolean): DataFrame = {
    // NULL target predicates (e.g. a NULL `source`) mean "not in the
    // target corpus": coalesce to false so such docs are pool members
    // in BOTH the raw model and the scoring filter — 3VL would silently
    // drop them from scoring while still counting them in the model
    val fc = featCountsCached(spark, dir, dim)
      .withColumn("tgt", coalesce(isTarget.cast("boolean"), lit(false)))
    // bucket model over the shared per-(doc, bucket) counts: cr/ct are
    // the same exact integers the exploded-row aggregation produced
    // (Σ c over the group = the row count). The raw model counts the
    // whole corpus (pool-as-proposal) or the non-target pool only
    // (held-out target corpus).
    val rawCount =
      if (heldOut) sum(when(col("tgt"), 0L).otherwise(col("c")))
      else sum(col("c"))
    val buckets = fc.groupBy(col("b"))
      .agg(rawCount.as("cr"),
           sum(when(col("tgt"), col("c")).otherwise(0L)).as("ct"))
    val totals = buckets.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    // each factor is an exact integer in double (< 2^53 even at 100 TB:
    // bucket counts and corpus totals are ~1e13 at most); the products
    // and quotient are IEEE-rounded IDENTICALLY in both engines, so
    // casting factors FIRST is equally deterministic and — unlike a
    // long multiply — cannot overflow at any corpus size
    val delta = buckets.crossJoin(broadcast(totals))
      .select(col("b"),
        log(((col("ct") + lit(1L)).cast("double") *
             (col("nr") + lit(dim.toLong)).cast("double")) /
            ((col("cr") + lit(1L)).cast("double") *
             (col("nt") + lit(dim.toLong)).cast("double")))
          .as("delta"))
    val scored = if (heldOut) fc.filter(!col("tgt")) else fc
    scored
      .join(broadcast(delta), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_feats"),
           round(sum(col("c") * col("delta")), 4).as("logw"))
  }

  /** DSIR's actual selection step — Gumbel-top-k importance RESAMPLING
    * (the paper samples k documents with probability ∝ exp(logw)
    * WITHOUT replacement, which is exactly ranking by logw + Gumbel
    * noise): argmax-top-k (q197) over-concentrates on one mode; the
    * resample preserves diversity. The noise is deterministic and
    * oracle-replayable: u = (md5-rebase-48bit(seed‖doc_id) + 0.5) / 2^48
    * uses only 48 hash bits so EVERY step is exact double arithmetic
    * (h < 2^53 is an exact double; u is strictly inside (0,1), so
    * neither ln can hit 0/negative — a 60-bit h could round to 2^60
    * and make u = 1.0, where Spark's log yields NULL but DuckDB -inf);
    * g = −ln(−ln(u)) then drifts ≤ a few ULP (two libm-class ln
    * calls), and the ranking key logw + g is rounded @4dp with doc_id
    * tie-break — the q118 discipline. Map-side per row; the cut stays
    * a TakeOrdered. */
  def dsirResample(spark: SparkSession, dir: String, dim: Int = 256,
                   k: Int = 100, targetLang: String = "en",
                   seed: String = "gumbel1"): DataFrame = {
    val docw = docWeightsCached(spark, dir, dim, targetLang)
    val u = (Sketches.hHex(concat(lit(seed), col("doc_id").cast("string")),
               12).cast("double") + lit(0.5)) /
            lit(281474976710656.0) // 2^48
    val keyed = docw.withColumn("gkey",
      round(col("logw") + -log(-log(u)), 4))
    val topk = keyed.orderBy(col("gkey").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), lit(1L).as("sel"))
    keyed.join(broadcast(topk), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("logw"), col("gkey"),
              coalesce(col("sel"), lit(0L)).as("selected"))
  }

  def dsirSelectHeldoutOracleSql(dim: Int = 256, k: Int = 100,
                                 targetSource: String = "src0"): String =
    s"""WITH ${dwCtesGen(dim, s"source = '$targetSource'", heldOut = true)},
       |rk AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY logw DESC, doc_id) AS rn
       |  FROM dw)
       |SELECT dw.doc_id, dw.n_feats, dw.logw,
       |  CAST(CASE WHEN rk.rn <= $k THEN 1 ELSE 0 END AS BIGINT) AS selected
       |FROM dw JOIN rk ON rk.doc_id = dw.doc_id""".stripMargin

  def dsirSelectOracleSql(dim: Int = 256, k: Int = 100,
                          targetLang: String = "en"): String =
    s"""WITH ${dwCtes(dim, targetLang)},
       |rk AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY logw DESC, doc_id) AS rn
       |  FROM dw)
       |SELECT dw.doc_id, dw.n_feats, dw.logw,
       |  CAST(CASE WHEN rk.rn <= $k THEN 1 ELSE 0 END AS BIGINT) AS selected
       |FROM dw JOIN rk ON rk.doc_id = dw.doc_id""".stripMargin

  def dsirResampleOracleSql(dim: Int = 256, k: Int = 100,
                            targetLang: String = "en",
                            seed: String = "gumbel1"): String =
    s"""WITH ${dwCtes(dim, targetLang)},
       |g AS (
       |  SELECT doc_id, logw,
       |    round(logw + -ln(-ln(
       |      (list_reduce([CAST(strpos('0123456789abcdef',
       |           substr(md5('$seed' || CAST(doc_id AS VARCHAR)), p, 1))
       |           - 1 AS BIGINT)
       |         for p in range(1, 13)], (a, b) -> a * 16 + b)
       |       + 0.5) / CAST(281474976710656 AS DOUBLE))), 4) AS gkey
       |  FROM dw),
       |rk AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY gkey DESC, doc_id) AS rn
       |  FROM g)
       |SELECT g.doc_id, g.logw, g.gkey,
       |  CAST(CASE WHEN rk.rn <= $k THEN 1 ELSE 0 END AS BIGINT) AS selected
       |FROM g JOIN rk ON rk.doc_id = g.doc_id""".stripMargin

  /** Shared oracle CTE chain ending in dw(doc_id, n_feats, logw). */
  private def dwCtes(dim: Int, targetLang: String): String =
    dwCtesGen(dim, s"lang = '$targetLang'", heldOut = false)

  /** Generalized CTE chain: `targetPred` is a SQL boolean over the
    * documents columns marking the target corpus; `heldOut` mirrors
    * [[docWeights]] — the raw model and the scored set shrink to the
    * non-target pool. */
  private def dwCtesGen(dim: Int, targetPred: String,
                        heldOut: Boolean): String = {
    val cr = if (heldOut) "sum(1 - tgt)" else "count(*)"
    val poolFilter = if (heldOut) "WHERE tgt = 0 " else ""
    s"""tok AS (
       |  SELECT doc_id,
       |    CASE WHEN $targetPred THEN 1 ELSE 0 END AS tgt,
       |    list_filter(string_split(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '),
       |      t -> t <> '') AS ts
       |  FROM documents),
       |bi0 AS (
       |  SELECT doc_id, tgt, ts, unnest(range(1, len(ts))) AS i FROM tok),
       |bi AS (
       |  SELECT doc_id, tgt, ts[i] || ' ' || ts[i + 1] AS bg FROM bi0),
       |f AS (
       |  SELECT doc_id, tgt,
       |    list_reduce([CAST(strpos('0123456789abcdef',
       |        substr(md5(bg), p, 1)) - 1 AS BIGINT)
       |      for p in range(1, 16)], (a, b) -> a * 16 + b) % $dim AS b
       |  FROM bi),
       |buckets AS (
       |  SELECT b, CAST($cr AS BIGINT) AS cr,
       |    CAST(sum(tgt) AS BIGINT) AS ct
       |  FROM f GROUP BY b),
       |totals AS (
       |  SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
       |  FROM buckets),
       |delta AS (
       |  SELECT b, ln((CAST(ct + 1 AS DOUBLE) * CAST(nr + $dim AS DOUBLE)) /
       |               (CAST(cr + 1 AS DOUBLE) * CAST(nt + $dim AS DOUBLE)))
       |    AS delta
       |  FROM buckets, totals),
       |dw AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
       |    round(sum(c * delta), 4) AS logw
       |  FROM (SELECT doc_id, b, count(*) AS c FROM f $poolFilter
       |        GROUP BY doc_id, b) fc
       |  JOIN delta USING (b)
       |  GROUP BY doc_id)""".stripMargin
  }
}
