package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.SimHash64

/** Deduplication operators for LLM-training-data pipelines, over the
  * `documents` table. Five families, from exact to fuzzy:
  *
  *   1. exact        — hash-groupBy on content hash
  *   2. fingerprint  — exact on normalized text (case/punct-insensitive)
  *   3. MinHash+LSH  — shingle → minhash signature → banded bucket join
  *   4. SimHash      — 64-bit fingerprint → chunk-bucket join → Hamming
  *   5. n-gram Jaccard — exact set similarity on candidate pairs
  *
  * Scale design (the 100 TB rule): no operator ever compares all pairs.
  * Exact/fingerprint are single hash shuffles. MinHash/SimHash generate
  * candidates through LSH bucket joins — shuffle keyed on (band, hash),
  * cost proportional to true-duplicate density, with AQE handling bucket
  * skew. The only quadratic work is *within* candidate buckets, which is
  * the LSH contract. Jaccard verification joins the (small) candidate
  * pair set back to per-doc token sets — never a full cross join.
  *
  * The pair families share one filter → verify core:
  *  - one collapse router, [[collapseExpand]]: it takes the family's
  *    group scope once (the dup probe's scope and the group key), the
  *    caller's `collapse` decision, and the family itself, and runs the
  *    family either over the documents as they are or over one
  *    representative per exact-duplicate group, expanding pairs back;
  *  - one MinHash front, [[signatures]] and [[bandKey]], and one
  *    shingle-Jaccard verify, [[jaccardAtLeast]], shared by the LSH
  *    self-join, the standing-index probe, the direct batch×corpus
  *    probe and the streaming dedup;
  *  - one pair-budget guard, [[pairBudgetGuard]], for the exact
  *    token-keyed families (jaccard, containment).
  * Their candidate stages ([[candidatePairsOfSig]], [[probeCandidates]],
  * [[directProbeCandidates]]) are the frames the scale smoke counts.
  */
object Dedup {

  /** Exact dedup: group by md5(text); keep the smallest doc_id as the
    * canonical survivor. One shuffle, partial-aggregated. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Fingerprint dedup: same, on the normalized-text md5 — catches
    * whitespace/case/punctuation-only variants. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(md5(TextAnalysis.normalized(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---- MinHash + LSH ------------------------------------------------

  /** Deterministic permutation coefficients for minhash (fixed seed —
    * signatures must be stable across runs and executors); the modulus
    * lives in [[graft.functions.MinHashSig.P]]. */
  private val NumPerms = 32
  private val BandRows = 4    // 8 bands x 4 rows
  private[ext] val perms: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumPerms)((1 + rnd.nextInt(Int.MaxValue - 1)).toLong,
                       rnd.nextInt(Int.MaxValue).toLong)
  }

  /** doc_id + sorted distinct word-3-gram shingle hashes (array<long>)
    * over any (doc_id, text) frame, via the codegen'd
    * [[graft.functions.HashShingles]] (the interpreted higher-order
    * `transform` lambda this replaces was ~20x slower). Every stage is
    * stateless row-local expression work, so the minhash front end
    * composes into Structured Streaming unchanged (see
    * [[graft.streaming.Streams.minhashDedupStream]]).
    *
    * The hash basis is md5-top-60-bits, not xxhash64: identical dedup
    * quality (any collision-free 60-bit hash works), but md5 is
    * reproducible from standard SQL (`md5()` hex → integer), which makes
    * the whole minhash pipeline — signatures, banding, verified pairs —
    * oracle-checkable instead of rows-only. Same trick as the winnowing
    * gates (q83/q86), applied to an integer domain. */
  private[graft] def shingledOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
              split(TextAnalysis.normalized(col("text")), " ").as("words"))
      .select(col("doc_id"),
              graft.functions.HashShingles.md5Shingles(col("words"), 3).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** MinHash signature per doc as one array<long> column, computed
    * map-side by the codegen'd [[graft.functions.MinHashSig]] — no row
    * explosion, no shuffle (the explode → 32-way min-aggregate it
    * replaces shuffled |docs| x |shingles| rows). */
  private[graft] def signatures(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), signature(col("shingles")).as("sig"))

  /** The one call of the signature kernel, for frames that carry more
    * than (doc_id, sig). */
  private def signature(shingles: Column): Column =
    graft.functions.MinHashSig.minhashSig(
      shingles, perms.map(_._1), perms.map(_._2))

  /** The band-key column: a signature exploded to one row per band,
    * struct `bk` = band index + the band's 4 raw signature values. 8
    * bands of 4 rows; docs sharing a band's full 4-value slice become
    * candidates. Keyed on the raw values rather than a band hash:
    * semantically what a band "hash" approximates, but exact — no
    * band-hash collisions — and reproducible in the SQL oracle (a
    * Murmur band hash would be engine-internal again). The key is 4
    * longs instead of 1 int; band count is fixed, so the shuffle stays
    * keyed and bounded the same way. */
  private[graft] def bandKey(sig: Column): Column =
    explode(array((0 until NumPerms / BandRows).map { bIdx =>
      val cols = (0 until BandRows).map(r =>
        element_at(sig, bIdx * BandRows + r + 1).as(s"s$r"))
      struct(lit(bIdx).as("band") +: cols: _*)
    }: _*)).as("bk")

  /** The LSH candidate stage: (a_id < b_id) doc pairs sharing a band
    * key, over a pre-computed (ideally persisted) signature frame — the
    * sharing point that keeps the expensive 32-perm signature map from
    * running once for the AMS estimate and AGAIN for the band join
    * (measured 2× on the q26 cold path). */
  private[graft] def candidatePairsOfSig(sig: DataFrame): DataFrame = {
    val bands = sig.select(col("doc_id"), bandKey(col("sig")))
    bands.as("l").join(bands.as("r"),
        col("l.bk") === col("r.bk") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"))
      .distinct()
  }

  /** The one exact shingle-Jaccard verify: `jaccard` = |a ∩ b| / |a ∪ b|
    * over two sorted distinct shingle-array columns (O(n+m) merge
    * intersect), pairs below `threshold` dropped. */
  private def jaccardAtLeast(a: String, b: String, threshold: Double)
                            (pairs: DataFrame): DataFrame =
    pairs
      .withColumn("inter", graft.functions.SortedIntersectCount
        .sortedIntersectCount(col(a), col(b)))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col(a)) + size(col(b)) - col("inter")))
      .filter(col("jaccard") >= threshold)

  /** Conf knob: max estimated bytes of the candidate-pair side below
    * which the verify joins BROADCAST it instead of shuffling the
    * corpus shingle table. Defaults to Spark's own
    * autoBroadcastJoinThreshold. Set to 0 to force the shuffle path. */
  private[ext] val BroadcastVerifyKey = "spark.graft.dedup.broadcastVerifyBytes"

  /** Estimated candidate-pair count of the band self-join, from an AMS
    * F₂ sketch over the band keys — Σ_k c_k² IS the ordered self-join
    * size, so candidates (a<b) ≈ (F₂ − N)/2, estimated in one map-side
    * sketch pass with NO join executed. This is the q123 estimator
    * wired into a real planning decision rather than sitting advisory. */
  private[ext] def estimatedCandidatesOfSig(sig: DataFrame): Long = {
    val keys = sig
      .select(bandKey(col("sig")))
      .select(concat_ws(":", col("bk.band"), col("bk.s0"), col("bk.s1"),
                        col("bk.s2"), col("bk.s3")).as("key"))
    val n = sig.count() * (NumPerms / BandRows)
    math.max(0L, (Sketches.amsF2(keys) - n) / 2)
  }

  /** MinHash-LSH near-dup pairs, verified with exact shingle-set Jaccard
    * >= threshold. Output: (a_id, b_id, jaccard). */
  def minhashLsh(spark: SparkSession, dir: String,
                 threshold: Double = 0.5,
                 collapse: Option[Boolean] = None): DataFrame =
    minhashLshOf(Tables.load(spark, dir, "documents"), threshold, collapse,
      Some(dir))

  /** [[minhashLsh]] over any (doc_id, text) frame; `dir`, when the frame
    * is a loaded corpus, keys the dup-probe memo.
    *
    * The exact-duplicate collapse ([[collapseExpand]]) is the
    * EXACTNESS-PRESERVING defense against the one thing banded LSH
    * cannot survive at 100 TB: mega-buckets from exact-duplicate
    * groups. A boilerplate page duplicated k times puts all k copies in
    * the SAME bucket of every band — k²/2 candidate pairs, each
    * carrying two full shingle arrays through the verify join. Real
    * web-scale corpora run 30–50% exact duplicates, so this is the
    * dominant cost at scale, and no partitioning trick fixes it (AQE
    * skew-split moves the pairs around; the pair VOLUME is the
    * problem). The output is row-for-row identical to the direct
    * pipeline (the q193 gate replays the same DuckDB oracle as q26 with
    * collapse forced on).
    *
    * The shingle table feeds four plan branches (both sides of the band
    * self-join via signatures, and both sides of the verify join) —
    * persisted once instead of recomputing the normalize+shingle+hash
    * scan per branch. */
  private[graft] def minhashLshOf(docs: DataFrame, threshold: Double,
                                  collapse: Option[Boolean] = None,
                                  dir: Option[String] = None): DataFrame =
    collapseExpand(docs, dir, Nil, collapse, Seq("jaccard" -> lit(1.0)),
      intraQualifies = threshold <= 1.0)(
      overShingles(verifiedLshPairs(_, _, threshold)))

  /** A MinHash family over the router: shingle the documents once
    * (persisted — every branch of the family's plan reads it), pair
    * them, and report the shingled doc ids as the eligible set: a doc
    * too short to shingle never enters the shingle table, so it pairs
    * in neither plan. */
  private def overShingles(pairs: (DataFrame, DataFrame) => DataFrame)
                          (docs: DataFrame): (DataFrame, DataFrame) = {
    val sh = shingledOf(docs).transform(Memo.persist)
    (pairs(docs, sh), sh.select(col("doc_id")))
  }

  /** Measured exact-duplicate fraction of a corpus, within the group
    * key `extraKeys :+ md5(normalized text)` — one map-side-combined
    * agg (HLL distinct), driver-side. The collapse router's probe.
    * Memoized for the dir-based entry points — five operators share the
    * same corpus, and the fraction is a property of the DATA — keyed by
    * (session, dir, effective sample fraction, exact-fallback
    * threshold, scope): a probe taken under one `probeSampleFraction`
    * or one exact-fallback threshold is never served after the knob
    * changes, and a later full-scan read never inherits a sampled
    * (downward-biased) value. */
  private[ext] val dupFracCache =
    Memo.table[(String, Double, Long, String), Double]("dedup.dupFraction")
  private[graft] def dupFractionDir(spark: SparkSession, dir: String,
                                    extraKeys: Seq[String]): Double = {
    val scopeKey = extraKeys.mkString(",")
    val frac = effectiveSampleFrac(spark).getOrElse(1.0)
    val thr = exactProbeThreshold(spark)
    dupFracCache.get(spark, (dir, frac, thr, scopeKey)).getOrElse {
      val docs = Tables.load(spark, dir, "documents")
      // the caller's scope is a hard requirement — failing loudly here
      // beats the NoSuchElementException a silent filter would produce
      // at the final lookup below
      val missing = extraKeys.filterNot(docs.columns.contains)
      require(missing.isEmpty,
        s"duplicate-probe scope column(s) ${missing.mkString(", ")} " +
          s"absent from documents (has: ${docs.columns.mkString(", ")})")
      // ONE corpus scan probes EVERY scope the pair families use (the
      // corpus-wide key for minhash/simhash/estimate, the per-source
      // key for jaccard/containment): a cold start used to pay two
      // full normalize+md5+HLL passes over the same corpus — at 100 TB
      // that is a whole avoided scan. All scopes share the normalize
      // and md5 work inside a single aggregate. The OPPORTUNISTIC
      // scopes are still dropped when their columns are absent.
      val scopes = (Seq(Seq.empty[String], Seq("source")) :+ extraKeys)
        .distinct.filter(_.forall(docs.columns.contains))
      dupFractions(spark, docs, scopes).foreach { case (sc, f) =>
        dupFracCache.put(spark, (dir, frac, thr, sc.mkString(",")), f)
      }
      dupFracCache.get(spark, (dir, frac, thr, scopeKey)).get
    }
  }

  /** Conf knob: fraction of the corpus the duplicate probe scans
    * (default 1.0 = the full corpus). A p-sample splits every size-k
    * duplicate group Binomial(k, p), so the measured fraction is biased
    * DOWNWARD (a doc only counts as a duplicate if another group member
    * also survived the sample) — the conservative direction for this
    * gate: an undershoot keeps the byte-identical direct plan, never
    * force-collapses a dup-light corpus. The collapse's payoff case is
    * a 30–50%-duplicate crawl corpus, far above the 5% threshold, so a
    * modest undershoot cannot flip the decision that matters. Sampling
    * is keyed on md5(doc_id) — deterministic across runs, executors,
    * and partition layouts, unlike `df.sample`. */
  private[graft] val ProbeSampleKey = "spark.graft.dedup.probeSampleFraction"

  private[ext] def effectiveSampleFrac(spark: SparkSession): Option[Double] =
    spark.conf.getOption(ProbeSampleKey)
      .map(_.toDouble).filter(f => f > 0.0 && f < 1.0)

  /** Below this HLL++ estimate a scope's distinct count is recomputed
    * EXACTLY: Spark's HLL++ (rsd 0.05) systematically OVERestimates by
    * ~6.7% in the few-hundred-to-few-thousand band (console-verified
    * 5,059 → 5,400) — which can push the estimate past the row count
    * and read as a NEGATIVE duplicate fraction — and still carries
    * ±2% at ~50k (measured −1.9% on the 10× replica: true fraction
    * 0.0016 read as 0.0203), noise the same order as the 5% collapse
    * threshold. Exact count(distinct) is cheap everywhere under this
    * bound (the partial aggregates collapse to ≤100k rows per
    * partition); the price is one extra corpus scan, paid only when
    * the distinct count is small enough that the decision would
    * otherwise be noise-dominated, and amortized by the probe memo
    * across the five operators that share it. */
  private[ext] val ExactDistinctThreshold = 100000L

  /** Conf knob overriding [[ExactDistinctThreshold]] (the measured
    * crossover lives in SCALE.md "dup-probe exact-fallback cost");
    * "0" disables the exact fallback entirely (HLL-only probe). */
  private[graft] val ExactProbeThresholdKey =
    "spark.graft.dedup.exactProbeThreshold"
  private def exactProbeThreshold(spark: SparkSession): Long =
    spark.conf.getOption(ExactProbeThresholdKey)
      .map(_.toLong).getOrElse(ExactDistinctThreshold)

  /** Measured duplicate fractions for several group-key scopes in ONE
    * aggregate pass (a count + one HLL register set per scope). */
  private[ext] def dupFractions(spark: SparkSession, docs: DataFrame,
                           scopes: Seq[Seq[String]])
      : Seq[(Seq[String], Double)] = {
    val exactBelow = exactProbeThreshold(spark)
    val sampleFrac = effectiveSampleFrac(spark)
    val probed = sampleFrac.fold(docs)(f =>
      docs.filter(conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long") < (f * (1L << 32)).toLong))
    val fp = md5(TextAnalysis.normalized(col("text")))
    val keys = scopes.map { sc =>
      if (sc.isEmpty) fp else concat_ws("", sc.map(col) :+ fp: _*)
    }
    val aggs = count(lit(1)).as("n") +: keys.zipWithIndex.map {
      case (k, i) => approx_count_distinct(k).as(s"g$i")
    }
    val probe = probed.agg(aggs.head, aggs.tail: _*).head()
    val n = probe.getLong(0)
    val approx = scopes.indices.map(i => probe.getLong(i + 1))
    // exact-distinct fallback (see ExactDistinctThreshold): one extra
    // pass, only for the scopes whose estimate landed in the small-
    // cardinality band where HLL++ overshoots — exact distinct is ≤ n
    // by construction, so these scopes can never read negative
    val needExact =
      scopes.indices.filter(i => approx(i) < exactBelow)
    val exact: Map[Int, Long] =
      if (needExact.isEmpty || n == 0L) Map.empty
      else {
        val exAggs = needExact.map(i => countDistinct(keys(i)).as(s"e$i"))
        val row = probed.agg(exAggs.head, exAggs.tail: _*).head()
        needExact.zipWithIndex
          .map { case (i, j) => i -> row.getLong(j) }.toMap
      }
    scopes.zipWithIndex.map { case (sc, i) =>
      val d = exact.getOrElse(i, approx(i))
      sc -> (if (n == 0L) 0.0 else 1.0 - d.toDouble / n)
    }
  }

  /** Exact-duplicate fraction (1 − distinct fingerprints / docs) at or
    * above which a pair family runs collapsed. Below it the direct
    * pipeline runs unchanged (the testdata's dup rate is ~0.2%, so
    * gates default to the direct path; the `*_collapsed` gates pass
    * `collapse = Some(true)`). */
  private val CollapseMinDupFraction = 0.05

  /** The collapse decision: the caller's pinned `collapse`, else the
    * measured fraction against [[CollapseMinDupFraction]] — the probe
    * runs only when nothing is pinned. No clamp on the measured
    * fraction: below [[ExactDistinctThreshold]] the probe is exact
    * (never negative), and above it a residual HLL overshoot of a few
    * percent on a dup-free corpus reads as a small negative fraction,
    * which compares against the positive threshold exactly as zero
    * would — the raw value stays honest in logs instead of being
    * silently rewritten. */
  private def shouldCollapse(collapse: Option[Boolean],
                             frac: => Double): Boolean =
    collapse.getOrElse(frac >= CollapseMinDupFraction)

  /** The one collapse router of the pair families (the SCALE.md
    * "mega-bucket defense"). `scope` is stated once: the dup probe
    * measures the duplicate fraction within it (memoized per `dir` when
    * the frame is a loaded corpus), and docs group by it. When the
    * decision ([[shouldCollapse]]) is direct, the result is
    * `family(docs)._1`, the family's own plan unchanged.
    *
    * Collapsed: group docs with identical normalized text (within
    * `scope` — e.g. `source` for the same-source families, so grouping
    * never crosses a boundary the family's own join respects), run the
    * family over ONE representative per group, emit all intra-group
    * pairs at the family's identical-doc score (`identical`), and
    * expand representative pairs to member pairs. Exact for every family
    * whose score is a pure function of the normalized text (shingle
    * sets, word sets, and simhash all are): identical normalized text ⇒
    * element-wise equal inputs ⇒ equal scores, so join work is linear
    * in distinct docs and the quadratic part degenerates to emitting
    * 24-byte rows. Grouping is by md5(normalized text) — the fingerprint
    * [[fingerprint]] already trusts — so the group shuffle moves
    * (fp, doc_id) rows, never shingle arrays.
    *
    * `family(repDocs)` returns (pairs over the representatives, the
    * doc_ids eligible to pair at all) — eligibility mirrors each
    * family's own degenerate-input behavior (unshingleable docs,
    * null text), so a group the direct pipeline would silently skip
    * is skipped here too. Null group keys (null text/source) drop out
    * of the member equi-join exactly as they never match in the
    * families' own join conditions. */
  private def collapseExpand(docs: DataFrame, dir: Option[String],
                             scope: Seq[String], collapse: Option[Boolean],
                             identical: Seq[(String, Column)],
                             intraQualifies: Boolean)
                            (family: DataFrame => (DataFrame, DataFrame))
      : DataFrame = {
    val spark = docs.sparkSession
    def frac = dir.fold(dupFractions(spark, docs, Seq(scope)).head._2)(
      dupFractionDir(spark, _, scope))
    if (!shouldCollapse(collapse, frac)) family(docs)._1
    else {
      // ONE pass over the corpus text for grouping: the per-group min is
      // a window over the group key (single shuffle of skinny (fp, id)
      // rows), not an aggregate joined back (two shuffles of the same
      // scan). members is the shared stage of everything downstream
      // (reps, eligibility, intra self-join, cross expansion) — persist
      // it; it is 24-byte rows, the cheapest table in the pipeline.
      val keyed = docs.select(col("doc_id") +: scope.map(col) :+
        md5(TextAnalysis.normalized(col("text"))).as("fp"): _*)
      val joinKeys = scope :+ "fp"
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(joinKeys.map(col): _*)
      val members = keyed
        // a null group key (null text, or null source for the
        // same-source families) never matches in the families' own join
        // conditions, so such docs produce no pairs in the direct
        // pipelines — exclude them here (the window would otherwise
        // group nulls together, unlike the joins)
        .filter(joinKeys.map(col(_).isNotNull).reduce(_ && _))
        .withColumn("gid", min(col("doc_id")).over(w))
        .select(col("gid"), col("doc_id"))
        .transform(Memo.persist)
      // a representative is a doc that IS its group's minimum
      val repDocs = docs.join(
        members.filter(col("gid") === col("doc_id"))
          .select(col("gid").as("doc_id")),
        Seq("doc_id"), "left_semi")
      val (repPairs, eligibleIds) = family(repDocs)
      val mem = members.join(eligibleIds.select(col("doc_id").as("gid")),
        Seq("gid"), "left_semi")
      val intra = mem.as("l").join(mem.as("r"),
          col("l.gid") === col("r.gid") &&
          col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("a_id") +: col("r.doc_id").as("b_id") +:
                identical.map { case (name, v) => v.as(name) }: _*)
        .filter(lit(intraQualifies)) // folds to a constant
      val cross = repPairs.as("p")
        .join(mem.as("ma"), col("p.a_id") === col("ma.gid"))
        .join(mem.as("mb"), col("p.b_id") === col("mb.gid"))
        .select(least(col("ma.doc_id"), col("mb.doc_id")).as("a_id") +:
                greatest(col("ma.doc_id"), col("mb.doc_id")).as("b_id") +:
                identical.map { case (n, _) => col(s"p.$n").as(n) }: _*)
      intra.unionByName(cross)
    }
  }

  /** The candidate + exact-verify tail of the LSH pipeline over a
    * shingle table, with the AMS-estimate-driven broadcast-vs-shuffle
    * choice for the verify joins. */
  private def verifiedLshPairs(docs: DataFrame, sh: DataFrame,
                               threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    val shA = sh.select(col("doc_id").as("a_id"), col("shingles").as("sa"))
    val shB = sh.select(col("doc_id").as("b_id"), col("shingles").as("sb"))
    // one signature pass feeds BOTH the AMS estimate and the band join
    // (skinny frame: doc_id + 32 longs)
    val sig = signatures(sh)
      .transform(Memo.persist)
    val cand = candidatePairsOfSig(sig)
    // Broadcast-vs-shuffle for the verify joins, decided from
    // ESTIMATES, not a post-hoc AQE rescue: candidate count from the
    // AMS F₂ sketch (one map-side pass), per-pair bytes from the
    // documents column stats (avg n_chars → avg shingle-array bytes:
    // ~1 word-3-gram per word ≈ n_chars/6, 8 bytes each). When the
    // whole verified-pair build fits the threshold, the corpus shingle
    // table is never shuffled — at 100 TB that is the difference
    // between moving the candidate set and moving the corpus. Above
    // the threshold the existing shuffle plan stands (output-bound
    // pair volume ⇒ broadcasting would be wrong there).
    // Both knobs accept Spark size strings ("64MB") or plain byte
    // counts; a non-positive value (Spark's conventional -1 for
    // "broadcast disabled") forbids the broadcast plan entirely rather
    // than falling into a default — a user who turned broadcasting off
    // did so because the executors can't hold it.
    def sizeBytes(s: String): Long =
      if (s.trim.matches("-?\\d+")) s.trim.toLong
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
    val maxBytes = spark.conf.getOption(BroadcastVerifyKey)
      .map(sizeBytes)
      .getOrElse(
        try sizeBytes(
          spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
        catch { case _: NumberFormatException => 10L * 1024 * 1024 })
    val estPairs = estimatedCandidatesOfSig(sig)
    // prefer the pruned n_chars int column (one skinny scan) over
    // re-reading the text payload; fall back for schema-less frames.
    // Size pairs by the p90 doc length, NOT the mean: the AMS estimate
    // has variance and LSH candidates skew toward longer-than-average
    // docs (more shingles → more band hits), so a mean-sized estimate
    // can understate broadcast bytes on a skewed corpus — and the
    // broadcast() hint below OVERRIDES Spark's own size check, so an
    // undershoot is an executor/driver OOM at scale, while an
    // overshoot merely falls back to the (always-correct) shuffle plan.
    val charsCol = (if (docs.columns.contains("n_chars")) col("n_chars")
                    else length(col("text"))).cast("double")
    val p90Row = docs.agg(
      percentile_approx(charsCol, lit(0.9), lit(1000))).head()
    val p90Chars = if (p90Row.isNullAt(0)) 0.0 else p90Row.getDouble(0)
    val pairRowBytes = 32.0 + 8.0 * (p90Chars / 6.0)
    val pairs =
      if (estPairs * pairRowBytes <= maxBytes)
        shB.join(broadcast(shA.join(broadcast(cand), "a_id")), "b_id")
      else cand.join(shA, "a_id").join(shB, "b_id")
    pairs.transform(jaccardAtLeast("sa", "sb", threshold))
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Sketch-estimated CONTAINMENT over the LSH candidate set — the
    * sub-output-cost path beside [[containmentPairs]]'s exact join, the
    * way [[minhashLsh]] sits beside [[jaccardPairs]]: from m matched
    * signature components (ĵ = m/32) and the inclusion identity
    * I = ĵ·(|A|+|B|)/(1+ĵ), the containment estimate reduces to
    *
    *   Ĉ = m·(|A|+|B|) / ((32+m)·min(|A|,|B|))
    *
    * — an all-integer numerator and denominator with ONE double
    * division, so the estimate is bit-deterministic across engines and
    * the DuckDB oracle replays it exactly (the int/int→double argument
    * from [[jaccardPairs]]). Candidates come from the jaccard-tuned
    * banding, so recall targets jaccard-similar pairs — the exact q103
    * operator is the recall-1 path for low-jaccard containment; this
    * gate certifies the sketch arithmetic a 100 TB pipeline would run
    * before any exact verify. Output: every candidate pair with its
    * matched-component count and estimate.
    *
    * Collapsed like the verify families: identical docs ⇒ identical
    * signatures ⇒ m = 32 and Ĉ = 32·2n/(64·n) = exactly 1.0 for
    * intra-group pairs; rep estimates transfer to members unchanged. */
  def containmentEstimate(spark: SparkSession, dir: String,
                          collapse: Option[Boolean] = None): DataFrame =
    collapseExpand(Tables.load(spark, dir, "documents"), Some(dir), Nil,
      collapse, Seq("m" -> lit(32L), "est_cont" -> lit(1.0)),
      intraQualifies = true)(
      overShingles((_, sh) => containmentEstimateOver(sh)))

  private def containmentEstimateOver(sh: DataFrame): DataFrame = {
    // shared signature pass: the m-matching joins below AND the band
    // join inside candidatePairsOfSig read the same persisted frame
    val sig = signatures(sh)
      .transform(Memo.persist)
    candidatePairsOfSig(sig)
      .join(sig.select(col("doc_id").as("a_id"), col("sig").as("siga")),
            "a_id")
      .join(sig.select(col("doc_id").as("b_id"), col("sig").as("sigb")),
            "b_id")
      .join(sh.select(col("doc_id").as("a_id"),
                      size(col("shingles")).cast("long").as("na")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"),
                      size(col("shingles")).cast("long").as("nb")), "b_id")
      .withColumn("m", expr(
        "size(filter(zip_with(siga, sigb, (x, y) -> x = y), b -> b))")
        .cast("long"))
      .select(col("a_id"), col("b_id"), col("m"),
        ((col("m") * (col("na") + col("nb"))).cast("double") /
          ((lit(32L) + col("m")) * least(col("na"), col("nb"))))
          .as("est_cont"))
  }

  /** Memoized [[containmentEstimate]] — the q26/q103 pattern: one
    * computation + persist per (session, dir), drained by
    * [[clearMemos]], so repeated gate runs in a long-lived session
    * never accumulate dead shingle-table persists. */
  private val containEstCache =
    Memo.table[String, DataFrame]("dedup.containmentEstimate")
  def containmentEstimateCached(spark: SparkSession,
                                dir: String): DataFrame =
    containEstCache.getOrElseUpdate(spark, dir)(
      materializedScoped(spark, dir, BandPathExpansion)(
        containmentEstimate(spark, dir)))


  // ---- data-derived shuffle sizing for the pair families -----------
  //
  // Per-family shuffle-bytes expansion over the documents parquet
  // footprint (graft.ops.Partitioning.forTable input). Engineering
  // estimates from the row shapes, validated by the 10×/100× scale
  // smoke (SCALE.md "per-operator partition sizing"):
  //  * token path (jaccard/containment): the exploded token table is
  //    ~40 B per word vs ~6 B raw, and the verify joins carry BOTH
  //    docs' full sorted hash-set arrays per candidate pair — in-flight
  //    bytes ran ~30× the (snappy) parquet input at 100×.
  //  * band path (minhash): 16 band structs (4 longs + id) per doc on
  //    the candidate join plus shingle arrays on the verify joins.
  //  * simhash: 20 block-combination keys per doc, fixed-width rows.
  private[graft] val TokenPathExpansion = 32.0
  private[graft] val BandPathExpansion = 16.0
  private[graft] val SimhashExpansion = 8.0

  /** Shuffle-partition count for a pair-generation run over `dir`'s
    * documents table — floor = session conf (no-op at gate scale),
    * raised once bytes × expansion outgrows the per-partition target. */
  private def pairPartitions(spark: SparkSession, dir: String,
                             expansion: Double): Int =
    graft.ops.Partitioning.forTable(spark, dir, "documents", expansion)

  /** Materialize `df`'s persist eagerly with the shuffle-partition
    * count derived for this family, so every exchange in the pair
    * pipeline (window, df join, candidate self-join, distinct, verify
    * joins) plans at the data-derived count instead of the session
    * default — and the raised count dies with the scope instead of
    * leaking into the NEXT operator's plan (the q63-at-p256 regression
    * the 100× smoke measured). */
  private def materializedScoped(spark: SparkSession, dir: String,
                                 expansion: Double)
                                (build: => DataFrame): DataFrame =
    graft.ops.Partitioning.materialized(
      spark, pairPartitions(spark, dir, expansion))(build)

  /** Per-(dir, threshold) memo of the minhash-LSH pair set, persisted.
    * The pair table is the shared input of the near-dup family (pair
    * listing, clustering, deduped corpus): computing it once and
    * persisting is the cluster-scale pattern (materialize the shared
    * stage), and it keeps `dedupedCorpus` from re-running the whole
    * shingle→signature→band pipeline the pair query already ran. */
  private val pairsCache =
    Memo.table[(String, Double), DataFrame]("dedup.minhashPairs")

  /** Drop every operator memo and its cached blocks (benchmark harness
    * hook: lets a measurement pass start from the same no-cache state a
    * fresh session would). */
  def clearMemos(): Unit = Memo.clearAll()

  def minhashLshCached(spark: SparkSession, dir: String,
                       threshold: Double = 0.5): DataFrame =
    pairsCache.getOrElseUpdate(spark, (dir, threshold))(
      materializedScoped(spark, dir, BandPathExpansion)(
        minhashLsh(spark, dir, threshold)))

  // ---- SimHash ------------------------------------------------------

  /** 64-bit simhash per doc via the custom codegen'd Catalyst expression
    * (graft.functions.SimHash64) over per-word md5-first-8-byte hashes —
    * md5 (not xxhash64) so the voting input, and therefore the whole
    * fingerprint, is reproducible from SQL `md5()` and the gate is
    * oracle-checkable. */
  private[graft] def simhashesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
              split(TextAnalysis.normalized(col("text")), " ").as("words"))
      .select(col("doc_id"),
              SimHash64.simhash64(
                graft.functions.HashShingles.md5WordHashes(col("words")))
                .as("simhash"))

  /** SimHash near-dup pairs within Hamming distance <= maxHam, candidates
    * via Manku-style combinatorial block keys (Manku, Jain & Das Sarma,
    * WWW'07 — the Google near-dup detection scheme).
    *
    * The 64-bit simhash is split into `maxHam + 3` blocks; a pair within
    * Hamming `maxHam` has at most `maxHam` corrupted blocks, so at least
    * 3 blocks match EXACTLY (pigeonhole) — every qualifying pair shares
    * at least one 3-block combination key, making recall exactly 1, and
    * candidates are verified with bit_count(xor) so precision is 1 too.
    *
    * Why 3-block combos instead of the naive single-block pigeonhole
    * (maxHam+1 blocks, key on 1): a single-block key is ~64/(h+1) bits,
    * and RANDOM collisions grow as n²/2^width — quadratic corpus growth
    * in candidate volume once n passes 2^width (measured 6.6x time at a
    * 10x corpus in the round-5 scale smoke). A 3-block key is ~3x wider
    * (~32 bits at maxHam=3), pushing random collisions to n²/2^32 —
    * negligible through billions of docs — at the bounded cost of
    * C(h+3,3) keys per doc (20 at maxHam=3) instead of h+1. Candidate
    * volume then scales with TRUE pair volume, not n². */
  def simhashPairs(spark: SparkSession, dir: String, maxHam: Int = 3,
                   collapse: Option[Boolean] = None): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val np = graft.ops.Partitioning.forTable(
      spark, dir, "documents", SimhashExpansion)
    // exact-duplicate groups share the SAME simhash, hence the same
    // bucket of every block-combination key — the identical mega-bucket
    // exposure as LSH banding, defended the identical way (collapse to
    // representatives, expand back; hamming(x, y) = hamming(repA, repB)
    // because equal normalized text gives equal fingerprints)
    collapseExpand(docs, Some(dir), Nil, collapse, Seq("hamming" -> lit(0)),
      intraQualifies = maxHam >= 0) { d =>
      // one fingerprint pass, persisted, shared by the candidate join
      // and the eligibility set (same discipline as overShingles)
      val sh = simhashesOf(d).transform(Memo.persist)
      (simhashPairsOver(sh, maxHam, np),
       sh.filter(col("simhash").isNotNull).select(col("doc_id")))
    }
  }

  private def simhashPairsOver(sh0: DataFrame, maxHam: Int,
                               numParts: Int): DataFrame = {
    val b = maxHam + 3
    val widths = Array.fill(b)(64 / b)
    (0 until 64 % b).foreach(i => widths(i) += 1)
    val offsets = widths.scanLeft(0)(_ + _).init
    // unsigned block extraction: shiftRightUnsigned so the top block of a
    // negative simhash long doesn't smear sign bits
    def block(i: Int): Column =
      shiftRightUnsigned(col("simhash"), offsets(i))
        .bitwiseAND(lit((1L << widths(i)) - 1L))
    val combos = (0 until b).combinations(3).toSeq
    val sh = sh0
    // data-derived count baked into the plan (no memo site to scope a
    // session conf around): both join children share this partitioning
    // on the candidate key, so the self-join plans no extra exchange
    // and its width tracks input bytes instead of the session default
    val keys = sh.select(col("doc_id"), col("simhash"),
      explode(array(combos.zipWithIndex.map { case (c, ci) =>
        struct(lit(ci).as("ci"), block(c(0)).as("b0"),
               block(c(1)).as("b1"), block(c(2)).as("b2"))
      }: _*)).as("key"))
      .repartition(numParts, col("key"))
    keys.as("l").join(keys.as("r"),
        col("l.key") === col("r.key") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
              bit_count(col("l.simhash").bitwiseXOR(col("r.simhash")))
                .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHam)
  }

  // ---- exact n-gram / word-set Jaccard ------------------------------

  /** Shared front of the prefix-filter family (q28 jaccard, q103
    * containment): per-doc sorted word-hash sets (persisted — feeds
    * both candidate sides and the verify joins), the exploded token
    * table, and the ascending-df rarity prefixes with bound
    * p = n − ⌈t·n⌉ + 1. One implementation so a tuning change (hash
    * basis, rarity order, the ceil bound) can never make the two
    * operators disagree on candidate generation. */
  private def prefixedTokens(docs0: DataFrame, threshold: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // Word sets as sorted distinct xxhash64s (64-bit: collision-free in
    // practice, so |A∩B| over hashes equals |A∩B| over the words) — the
    // merge-scan intersect beats per-pair hash-set builds ~5x.
    val docs = docs0
      .select(col("doc_id"), col("source"),
              graft.functions.HashShingles.shingles(
                split(TextAnalysis.normalized(col("text")), " "), 1).as("ws"))
      .withColumn("n", size(col("ws")))
      .transform(Memo.persist)
    val toks = docs.select(col("doc_id"), col("source"), col("n"),
                           explode(col("ws")).as("token"))
    val dfreq = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("__df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("__df"), col("token"))
    val prefixes = toks.join(dfreq, "token")
      .withColumn("__rn", row_number().over(byRarity))
      .filter(col("__rn") <=
        (col("n") - ceil(col("n") * threshold) + 1).cast("int"))
      .select(col("doc_id"), col("source"), col("token"))
    (docs, toks, prefixes)
  }

  /** Word-set Jaccard similarity for same-`source` pairs, with EXACT
    * prefix-filter candidate generation (AllPairs/PPJoin family) instead
    * of a same-source self-join.
    *
    * Theorem (prefix filtering): order each doc's distinct word hashes
    * by a global total order (ascending hash value here). jac(A,B) ≥ t
    * implies |A∩B| ≥ t·max(|A|,|B|) ≥ ⌈t·|A|⌉, so A and B must share a
    * token inside A's first |A| − ⌈t·|A|⌉ + 1 tokens (else all shared
    * tokens sit in A's last ⌈t·|A|⌉ − 1 ⇒ jac < t) — and symmetrically
    * for B. So every qualifying pair meets on a token both sides emit
    * from their prefix: the candidate join is keyed on that token, never
    * all-pairs, never keyed on the skewed `source` column. Recall is
    * exactly 1 (unlike LSH banding) — the output still hash-matches the
    * brute-force DuckDB oracle.
    *
    * Scale: candidate volume is Σ_token df_prefix(token)², so the global
    * order is ASCENDING DOCUMENT FREQUENCY (the AllPairs refinement):
    * each doc's prefix holds its rarest tokens, stopwords never enter a
    * prefix, and candidates collapse to near-true-pair volume. (A
    * hash-random order is also correct but lets a stopword into ~p/n of
    * all prefixes — measured 8x slower on the documents table.) The df
    * table is one extra token-keyed shuffle. Same-source and length
    * filters run on the candidates before the exact merge intersect.
    * Division is int/int → double: bit-deterministic. */
  def jaccardPairs(spark: SparkSession, dir: String,
                   threshold: Double = 0.5,
                   collapse: Option[Boolean] = None): DataFrame =
    // exact-dup groups defeat prefix filtering too: k identical docs
    // all emit the same rarity prefix, giving k²/2 candidates that each
    // carry two full word-set arrays — collapse to representatives
    // (grouped WITHIN source: the operator only pairs same-source docs,
    // and the group key must never cross a boundary the join respects)
    collapseExpand(Tables.load(spark, dir, "documents"), Some(dir),
      Seq("source"), collapse, Seq("jac" -> lit(1.0)),
      intraQualifies = threshold <= 1.0)(
      overWordSets(jaccardPairsOf(_, threshold)))

  /** A word-set family over the router: any non-null text yields n >= 1
    * word hash, shares its own prefix token, and passes the size filter
    * at equality — so the eligible set is exactly the docs with text,
    * like the direct path. */
  private def overWordSets(pairs: DataFrame => DataFrame)
                          (docs: DataFrame): (DataFrame, DataFrame) =
    (pairs(docs), docs.filter(col("text").isNotNull).select(col("doc_id")))

  /** Conf knob: hard budget on the ESTIMATED candidate-pair volume of
    * the exact-pair family ([[jaccardPairs]] and everything riding
    * [[jaccardPairsCached]] — q28/q92/q93/q101/q102/q221/…). The exact
    * family is OUTPUT-bound by nature: a pair-explosive corpus (one
    * boilerplate page shared by m documents below the collapse
    * threshold, or a common rare-ish token across a huge source) makes
    * the verified join's input grow as m² and the build runs unbounded
    * — correct, but not what an operator wants discovered three hours
    * into a 100 TB job. The guard prices the candidate join BEFORE it
    * runs (one map-side AMS F₂ sketch over the composite prefix keys —
    * the q123 estimator, same mechanics as [[estimatedCandidatesOfSig]])
    * and fails fast with the three remediations in the message. Set
    * to a negative value to disable; raise it deliberately when an
    * m²-sized build is genuinely intended. */
  private[graft] val PairBudgetKey = "spark.graft.dedup.pairBudget"
  private[ext] val DefaultPairBudget = 2L * 1000 * 1000 * 1000

  /** The one pair-budget guard of the exact token-keyed families. It
    * parses the budget (a malformed value is rethrown NAMING the conf
    * key and the offending text — a bare NumberFormatException from
    * deep inside a dedup plan tells the operator nothing about which
    * knob to fix), skips the sketch while the family's SOUND `preBound`
    * fits the budget, and otherwise fails fast when the sketched
    * `estimate` of the candidate join's pre-distinct input exceeds it.
    * Both are by name: the bound is not computed when the guard is
    * disabled, the sketch not when the bound fits. `remedy` is the
    * family's own way out besides the threshold and the knob. */
  private def pairBudgetGuard(spark: SparkSession, family: String,
                              threshold: Double, preBound: => Double,
                              estimate: => Long, remedy: String): Unit = {
    val budget = spark.conf.getOption(PairBudgetKey).map { raw =>
      try raw.trim.toLong
      catch {
        case e: NumberFormatException =>
          throw new IllegalArgumentException(
            s"malformed $PairBudgetKey value '$raw' — expected a long " +
            "(negative disables the guard)", e)
      }
    }.getOrElse(DefaultPairBudget)
    if (budget >= 0 && preBound > budget.toDouble) {
      val est = estimate
      if (est > budget)
        throw new IllegalStateException(
          s"$family candidate budget exceeded: ~$est estimated " +
          s"candidate pairs > budget $budget (conf $PairBudgetKey). " +
          "The candidate join's cost is output-bound and would run " +
          "unbounded on this corpus. Either raise the threshold " +
          s"(currently $threshold — shorter rarity prefixes, fewer " +
          s"candidates), $remedy, or raise $PairBudgetKey deliberately " +
          "if an m²-sized build is intended.")
    }
  }

  /** Candidate pairs joined to both docs' word sets (`wa`/`na`,
    * `wb`/`nb`): the verify input of the exact word-set families. */
  private def withWordSets(cand: DataFrame, docs: DataFrame): DataFrame =
    cand
      .join(docs.select(col("doc_id").as("a_id"),
                        col("ws").as("wa"), col("n").as("na")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"),
                        col("ws").as("wb"), col("n").as("nb")), "b_id")

  private[ext] def jaccardPairsOf(docs0: DataFrame,
                                  threshold: Double): DataFrame = {
    // prefix length p = n − ⌈t·n⌉ + 1 over the global (df, token) order;
    // emit (source, token, doc) per prefix token. The candidate key is
    // the COMPOSITE (source, token): the query only asks for same-source
    // pairs, so folding source into the key is exact, splits every token
    // bucket across sources, and keeps the join scale-safe even when one
    // source is huge (prefix tokens prune within it).
    val (docs, _, prefixes0) = prefixedTokens(docs0, threshold)
    // persisted: the budget sketch below plus BOTH sides of the
    // candidate self-join read it — three consumers of one
    // tokenize+window pass
    val prefixes = prefixes0.transform(Memo.persist)
    // Cheap SOUND pre-check before paying for the sketch. The sketch
    // estimate (and the join's real input) is PRE-distinct same-key
    // pairs; an unordered doc pair can collide under at most
    // min(|prefix_a|, |prefix_b|) ≤ L_max keys, so pre-distinct pairs
    // ≤ nDocs·(nDocs−1)/2 · L_max with L_max = max prefix length —
    // one count+max aggregate over the (persisted, needed-anyway) docs
    // frame. When that bound is within budget the sketch CANNOT trip
    // and is skipped: gate-scale corpora stop paying the sketch's
    // extra jobs (+1.38 s on q28 at sf0.1, measured by `ScaleSmoke
    // pairbudget` before this check existed), while any corpus big or
    // prefix-heavy enough that the bound exceeds the budget — the
    // shapes the guard exists for — still gets the precise estimate,
    // whose cost is noise against the join it prices. (A distinct-pair
    // bound alone would be UNSOUND here: shared-prefix multiplicity
    // can inflate the join input past the budget while distinct pairs
    // stay under it.)
    pairBudgetGuard(docs0.sparkSession, "jaccardPairs", threshold,
      preBound = {
        val r = docs.agg(count(lit(1)),
          max(col("n") - ceil(col("n") * threshold) + 1)).head()
        val nDocs = r.getLong(0)
        val lMax = if (r.isNullAt(1)) 0.0
                   else r.getAs[Number](1).doubleValue()
        nDocs.toDouble * (nDocs - 1).toDouble / 2.0 * math.max(lMax, 0.0)
      },
      // ordered same-key pairs = (F₂ − N)/2 over the (source, token)
      // prefix keys — an upper-bound-flavored estimate of the
      // candidate join's pre-distinct output (the sketch prices the
      // join without running it)
      estimate = {
        val keys = prefixes.select(
          concat_ws(":", col("source"), col("token")).as("key"))
        math.max(0L, (Sketches.amsF2(keys) - prefixes.count()) / 2)
      },
      remedy = "route through the banded LSH family (minhashLsh/q26, " +
        "whose candidate volume is threshold-tuned, with exact-duplicate " +
        "collapse for dup-heavy corpora)")
    val cand = prefixes.as("l").join(prefixes.as("r"),
        col("l.source") === col("r.source") &&
        col("l.token") === col("r.token") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"))
      .distinct()
    withWordSets(cand, docs)
      // size prefilter: jac <= min/max, and fl(x/c) is monotone in x, so a
      // pair failing min/max >= t cannot pass inter/union >= t — exact-safe
      .filter(least(col("na"), col("nb")).cast("double") /
        greatest(col("na"), col("nb")) >= threshold)
      .withColumn("inter", graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("wa"), col("wb")))
      .withColumn("jac", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), col("jac"))
  }

  /** Containment near-dup pairs — the ASYMMETRIC duplication symmetric
    * Jaccard misses: a short doc whose word set sits almost entirely
    * inside a longer one (quotes, excerpts, boilerplate wrappers) can
    * have C = |A∩B| / min(|A|,|B|) ≈ 1 while jac = |A∩B|/|A∪B| stays far
    * below any dedup threshold. At the gate threshold the corpus has
    * ~1.9k qualifying pairs invisible to q28's jac ≥ 0.8.
    *
    * Prefix filtering adapts: the bound applies to the SMALLER (possibly
    * contained) side only — C ≥ t forces the smaller set to share a
    * token inside its first m − ⌈t·m⌉ + 1 rarest tokens — while the
    * containing side is unbounded, so candidates join every doc's rarity
    * prefix against ALL tokens of same-source docs. Still token-keyed,
    * never all-pairs: prefixes hold each doc's RAREST tokens, so the
    * all-tokens side contributes df(rare token) ≈ true-match volume.
    * There is deliberately no size-ratio prefilter — a tiny doc
    * contained in a huge one is exactly the signal. Exact merge
    * intersect verifies; int/int → double division is bit-deterministic
    * (same argument as [[jaccardPairs]]). */
  def containmentPairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.9,
                       collapse: Option[Boolean] = None): DataFrame =
    // same collapse as jaccardPairs (cont(x, y) = cont(repA, repB) for
    // element-wise-equal word sets; identical docs have cont = n/n = 1)
    collapseExpand(Tables.load(spark, dir, "documents"), Some(dir),
      Seq("source"), collapse, Seq("cont" -> lit(1.0)),
      intraQualifies = threshold <= 1.0)(
      overWordSets(containmentPairsOf(_, threshold)))

  private[ext] def containmentPairsOf(docs0: DataFrame,
                                      threshold: Double): DataFrame = {
    val (docs, toks, prefixes) = prefixedTokens(docs0, threshold)
    // The candidate budget, containment edition. This join is MORE
    // explosion-prone than jaccard's prefix self-join: the containing
    // side is every token of every same-source doc BY DESIGN (no
    // size-ratio prefilter — a tiny doc inside a huge one is exactly
    // the signal), so one boilerplate quote shared across m docs whose
    // prefixes carry a common token runs it m²-shaped. Same knob, same
    // two-tier pricing as [[jaccardPairsOf]]: a free SOUND pre-check
    // first — every prefix row joins only same-source (doc, token)
    // rows, at most one per partner doc, so pre-distinct candidates
    // ≤ Σ_source prefixRows(source)·nDocs(source), one groupBy(source)
    // aggregate over the persisted docs frame — and only when that
    // bound exceeds the budget, the precise AMS inner-product sketch
    // of the ACTUAL asymmetric join (prefix keys × all-token keys,
    // the all-tokens side semi-join-restricted to keys some prefix
    // carries, which is exactly the join's participating input).
    pairBudgetGuard(docs0.sparkSession, "containmentPairs", threshold,
      preBound = {
        val prefLen = when(col("n") >= 1,
          col("n") - ceil(col("n") * threshold) + 1).otherwise(lit(0))
        val r = docs.groupBy(col("source"))
          .agg(sum(prefLen).as("p"), count(lit(1)).as("m"))
          .agg(sum(col("p") * col("m"))).head()
        if (r.isNullAt(0)) 0.0 else r.getAs[Number](0).doubleValue()
      },
      estimate = {
        val key = concat_ws(":", col("source"), col("token"))
        val prefKeys = prefixes.select(key.as("key"))
        val tokKeys = toks
          .join(prefixes.select(col("source"), col("token")).distinct(),
                Seq("source", "token"), "left_semi")
          .select(key.as("key"))
        // self-matches (each prefix row hits its own doc's token row
        // exactly once) are excluded by the join's doc_id inequality:
        // subtract the prefix row count from the inner product
        math.max(0L,
          Sketches.amsInnerProduct(prefKeys, tokKeys) - prefixes.count())
      },
      remedy = "route through the sketch-based containmentEstimate " +
        "(q104's sub-output-cost path; the containing side is unbounded " +
        "by design) to find the explosive sources first")
    val cand = prefixes.as("l").join(
        toks.select(col("doc_id"), col("source"), col("token")).as("r"),
        col("l.source") === col("r.source") &&
        col("l.token") === col("r.token") &&
        col("l.doc_id") =!= col("r.doc_id"))
      .select(least(col("l.doc_id"), col("r.doc_id")).as("a_id"),
              greatest(col("l.doc_id"), col("r.doc_id")).as("b_id"))
      .distinct()
    withWordSets(cand, docs)
      .withColumn("inter", graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("wa"), col("wb")))
      .withColumn("cont", col("inter").cast("double") /
        least(col("na"), col("nb")))
      .filter(col("cont") >= threshold)
      .select(col("a_id"), col("b_id"), col("cont"))
  }

  private val containCache =
    Memo.table[(String, Double), DataFrame]("dedup.containmentPairs")
  def containmentPairsCached(spark: SparkSession, dir: String,
                             threshold: Double = 0.9): DataFrame =
    containCache.getOrElseUpdate(spark, (dir, threshold))(
      materializedScoped(spark, dir, TokenPathExpansion)(
        containmentPairs(spark, dir, threshold)))

  /** DuckDB oracle for [[containmentPairs]]: brute-force same-source
    * containment over the normalized word sets. */
  def containmentPairsOracleSql(threshold: Double = 0.9): String =
    s"""WITH d AS (SELECT doc_id, source,
       |  list_distinct(string_split(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
       |    AS ws
       | FROM documents)
       |SELECT a_id, b_id, cont FROM (
       | SELECT l.doc_id AS a_id, r.doc_id AS b_id,
       |  CAST(len(list_intersect(l.ws, r.ws)) AS DOUBLE) /
       |    least(len(l.ws), len(r.ws)) AS cont
       | FROM d l, d r
       | WHERE l.source = r.source AND l.doc_id < r.doc_id) q
       |WHERE cont >= $threshold""".stripMargin

  /** Embedding-cosine near-dup pairs, IVF-style: candidates only within
    * the same coarse cell (here the `label` column stands in for a
    * trained quantizer's cell id), verified by exact cosine — never an
    * all-pairs join. Shuffle keyed on the cell id; cell skew is AQE's
    * job at scale. */
  def embeddingNearDup(spark: SparkSession, dir: String,
                       threshold: Double = 0.35): DataFrame = {
    // normalize per ROW before the join: one dot per pair, not 3 folds
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
              Similarity.l2normalize(col("embedding")).as("nemb"))
    e.as("l").join(e.as("r"),
        col("l.label") === col("r.label") &&
        col("l.vec_id") < col("r.vec_id"))
      .withColumn("cos", Similarity.dot(col("l.nemb"), col("r.nemb")))
      .filter(col("cos") >= threshold)
      // round(., 4): engines' cosine kernels differ at ~1e-8 (DuckDB
      // computes in float32), so raw doubles are not oracle-comparable.
      .select(col("l.vec_id").as("a_id"), col("r.vec_id").as("b_id"),
              round(col("cos"), 4).as("cos_r"))
  }

  // ---- near-dup clustering (pairs → canonical survivor) -------------

  /** Connected components over a near-dup pair set by hash-min label
    * propagation: every doc's label converges to the smallest doc_id
    * reachable through duplicate edges, giving one canonical survivor
    * per duplicate cluster (the step that turns pairwise dedup output
    * into an actual deduped corpus).
    *
    * Each iteration is one shuffle (edges ⋈ labels, min-aggregated);
    * iterations needed = graph diameter, which for near-dup clusters is
    * tiny (dups of a doc are dups of each other, so components are
    * near-cliques). `maxIter` bounds the loop; convergence is detected
    * by an unchanged-labels check. At very large scale the same loop is
    * the standard large/small-star formulation — the plan shape per
    * iteration is identical. */
  def clusterLabels(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // An iterative fixpoint is the one shape the DataFrame API has no
    // operator for: every formulation pays a full Catalyst analyze +
    // optimize + shuffle-planning pass PER ITERATION (persist leaves the
    // logical plan growing — measured 1.6 s → 4.0 s per round at sf0.1;
    // eager localCheckpoint makes it constant but stats-free LogicalRDDs
    // sort-merge-join every round — still ~1.2 s/iter on a 300k-edge
    // graph). So this one operator drops to the co-partitioned RDD loop
    // — the same design GraphX's Pregel uses, and the documented
    // exception to "DataFrames everywhere":
    //   * edges are keyed by dst and hash-partitioned ONCE, then cached;
    //   * labels live on the SAME partitioner, so the per-iteration join
    //     is narrow (zero shuffle on the 'big' side);
    //   * the only per-iteration shuffle is the map-side-combined
    //     min-reduce over (node → candidate label) — |nodes| rows;
    //   * the convergence probe is a narrow co-partitioned join.
    // At 100 TB the edge RDD is the near-dup pair set (≪ corpus); the
    // partitioner spreads it across the cluster and nothing here ever
    // collects to the driver.
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val p = pairs.select(col("a_id").cast("long"), col("b_id").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val part = new org.apache.spark.HashPartitioner(
      math.max(4, sc.defaultParallelism / 4))
    // (dst → src), both directions: "dst's label is a candidate for src".
    // Every persisted RDD (edges, the seed labels, each `next`) registers
    // with Memo BEFORE any job runs on it, so neither an unconverged exit
    // nor a failed job mid-iteration can strand a persisted-but-
    // unregistered RDD (the PageRank.dupPagerank pattern); the final
    // labels back the returned frame and stay persisted until
    // Memo.clearAll, and a second unpersist from it is a no-op
    val edges = Memo.persist(
      p.flatMap { case (a, b) => Iterator((a, b), (b, a)) }.partitionBy(part))
    edges.count() // materialize once; the deep pair plan compiles here only
    // every node appears as a dst (edges are symmetric), so the edge keys
    // enumerate the nodes; one map-side-combined reduce seeds label = id
    var labels = Memo.persist(edges.map { case (dst, _) => (dst, dst) }
      .reduceByKey(part, math.min(_: Long, _: Long)))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // own label rides along via the union (no self-edges needed):
      // next(id) = min(label(id), min over neighbors' labels)
      val next = Memo.persist(edges.join(labels)
        .map { case (_, (src, label)) => (src, label) }
        .union(labels)
        .reduceByKey(part, math.min(_: Long, _: Long)))
      // iteration 1 always changes something on any non-trivial edge set —
      // skip its convergence probe (one fewer Spark job per call)
      val changed =
        if (iter == 0) true
        else next.join(labels)
          .filter { case (_, (n, o)) => n != o }.take(1).nonEmpty
      labels.unpersist(blocking = false)
      labels = next
      converged = !changed
      iter += 1
    }
    edges.unpersist(blocking = false)
    // Non-convergence must surface, not silently return partial labels:
    // the exact-oracle gate (q39) compares against a full transitive
    // closure, so a component with diameter > maxIter would otherwise
    // produce a silent oracle mismatch.
    if (!converged)
      throw new IllegalStateException(
        s"clusterLabels did not converge within $maxIter iterations — " +
        "a duplicate chain longer than maxIter exists; raise maxIter")
    spark.createDataFrame(labels.map { case (idNode, label) =>
      org.apache.spark.sql.Row(idNode, label) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Per-(session, dir, threshold) memo of the label-propagation result
    * over the exact pair set (r16, guide §2.4 "remove shuffles
    * outright": q93/q101/q221 each re-ran the SAME iterative
    * propagation over the same cached pair set — three copies of the
    * one loop in every bench pass; now the first consumer runs it and
    * the rest read the persisted labels). Cleared with the other
    * family memos so cold runs still pay the loop exactly once. */
  private val labelsCache =
    Memo.table[(String, Double), DataFrame]("dedup.clusterLabels")
  def clusterLabelsCached(spark: SparkSession, dir: String,
                          threshold: Double = 0.8): DataFrame =
    labelsCache.getOrElseUpdate(spark, (dir, threshold))(
      clusterLabels(jaccardPairsCached(spark, dir, threshold)
        .select(col("a_id"), col("b_id"))))

  /** Cluster a pair set and keep the smallest doc_id of each cluster
    * plus every unpaired doc: the surviving doc_ids with their cluster
    * label (shared tail of both deduped-corpus variants). */
  private def survivors(spark: SparkSession, dir: String,
                        pairs: DataFrame): DataFrame = {
    val labels = clusterLabels(pairs.select(col("a_id"), col("b_id")))
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"))
    docs.join(labels, docs("doc_id") === labels("id"), "left_outer")
      .select(col("doc_id"),
              coalesce(col("label"), col("doc_id")).as("cluster"))
      .filter(col("doc_id") === col("cluster"))
  }

  /** End-to-end near-dup removal: minhash-LSH pairs → clusters → keep
    * the smallest doc_id of each cluster plus every unpaired doc.
    * Output: the surviving doc_ids with their cluster label. */
  def dedupedCorpus(spark: SparkSession, dir: String,
                    threshold: Double = 0.5): DataFrame =
    survivors(spark, dir, minhashLshCached(spark, dir, threshold))

  /** Per-(session, dir, threshold) memo of the EXACT prefix-filter pair
    * set (same pattern as [[minhashLshCached]]): the pair gate and the
    * deduped-corpus gate share one computation + persist. */
  private val exactPairsCache =
    Memo.table[(String, Double), DataFrame]("dedup.jaccardPairs")
  def jaccardPairsCached(spark: SparkSession, dir: String,
                         threshold: Double = 0.5): DataFrame =
    exactPairsCache.getOrElseUpdate(spark, (dir, threshold)) {
      // a cached set at a LOWER threshold is a strict superset (the
      // prefix filter only ever drops pairs BELOW its threshold), so a
      // higher-threshold request is one filter over the persisted
      // superset instead of a second candidate-generation scan — the
      // q92/q102 0.8-sets derive from the q28/q63 0.5-set for free.
      // (The reverse never holds: a lower threshold must recompute.)
      val lower = exactPairsCache.keys(spark)
        .filter { case (d, t) => d == dir && t < threshold }
        .sortBy(_._2).lastOption.flatMap(exactPairsCache.get(spark, _))
      lower match {
        case Some(superset) =>
          // one filter over the persisted superset: no exchange, so no
          // partition-sizing scope needed
          superset.filter(col("jac") >= threshold).transform(Memo.persist)
        case None =>
          materializedScoped(spark, dir, TokenPathExpansion)(
            jaccardPairs(spark, dir, threshold))
      }
    }

  /** Deduped corpus over the EXACT jaccard pair set (recall exactly 1,
    * unlike the minhash variant) — fully deterministic, so the whole
    * pipeline is oracle-checkable: a DuckDB WITH RECURSIVE min-label
    * propagation over the same pairs must produce the same survivors. */
  def dedupedCorpusExact(spark: SparkSession, dir: String,
                         threshold: Double = 0.8): DataFrame =
    survivors(spark, dir, jaccardPairsCached(spark, dir, threshold))

  /** Duplicate-cluster size histogram — the dedup-audit summary a
    * pipeline logs ("how much mass sits in how-big clusters"): cluster
    * the exact pair set, then count clusters and docs per cluster size.
    * Singleton (unpaired) docs are excluded — the histogram describes
    * the duplicated mass. Exact integers; reuses the shared pair-set
    * persist and the label-propagation loop, plus two tiny aggregates
    * (cluster-sized, then size-sized — both ≪ corpus). */
  def clusterSizeHistogram(spark: SparkSession, dir: String,
                           threshold: Double = 0.8): DataFrame =
    clusterLabelsCached(spark, dir, threshold)
      .groupBy(col("label")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
           sum(col("sz")).as("n_docs"))

  /** DuckDB oracle for [[clusterSizeHistogram]]: the q39 recursive
    * min-label CTE, folded to the size histogram. */
  def clusterSizeHistogramOracleSql(threshold: Double = 0.8): String =
    s"""WITH RECURSIVE d AS (SELECT doc_id, source,
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
       | WHERE jac >= $threshold),
       |e AS (SELECT a_id AS src, b_id AS dst FROM p
       |      UNION SELECT b_id, a_id FROM p),
       |reach(id, label) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.src, r.label FROM e JOIN reach r ON e.dst = r.id),
       |lab AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
       |szs AS (SELECT label, count(*) AS sz FROM lab GROUP BY label)
       |SELECT sz AS cluster_size, count(*) AS n_clusters,
       |  CAST(sum(sz) AS BIGINT) AS n_docs
       |FROM szs GROUP BY sz""".stripMargin

  /** Dedup-WEIGHTED diversity sampling — the soft alternative to
    * hard survivor dedup: every document keeps a chance ≈ 1/cluster_size
    * of surviving (singletons always survive), so each near-dup cluster
    * contributes ~1 expected doc while WHICH copy survives varies by
    * hash — the downweight-duplicates policy used when a pipeline wants
    * the natural distribution thinned, not canonicalized. The keep rule
    * is exact rational arithmetic on the md5 of the doc_id
    * (`u · size < 2^32` with u the first-8-hex-digits integer —
    * P(keep) = ⌈2^32/size⌉/2^32), so the decision is a pure function of
    * (doc_id, cluster size): reproducible across runs, partitionings,
    * and engines, and the DuckDB oracle replays every bit.
    *
    * Scale: reuses the shared exact-pair persist + label-prop loop; one
    * cluster-keyed size aggregate + join-back (cluster count ≪ corpus),
    * then map-side hashing. */
  def diversitySample(spark: SparkSession, dir: String,
                      threshold: Double = 0.8): DataFrame = {
    val labels = clusterLabelsCached(spark, dir, threshold)
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"))
    val withLab = docs
      .join(labels, docs("doc_id") === labels("id"), "left_outer")
      .select(col("doc_id"),
              coalesce(col("label"), col("doc_id")).as("cluster"))
    val sizes = withLab.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    withLab.join(sizes, "cluster")
      .withColumn("u",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
              (col("u") * col("cluster_size") < lit(1L << 32))
                .cast("int").cast("long").as("kept"))
  }

  /** DuckDB oracle for [[diversitySample]]: the q93 recursive closure
    * for labels, sizes per cluster, and the identical integer keep
    * rule off the parsed md5 prefix. */
  def diversitySampleOracleSql(threshold: Double = 0.8): String =
    s"""WITH RECURSIVE d AS (SELECT doc_id, source,
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
       | WHERE jac >= $threshold),
       |e AS (SELECT a_id AS src, b_id AS dst FROM p
       |      UNION SELECT b_id, a_id FROM p),
       |reach(id, label) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.src, r.label FROM e JOIN reach r ON e.dst = r.id),
       |lab AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
       |wl AS (
       |  SELECT doc_id, coalesce(lab.label, doc_id) AS cluster
       |  FROM documents LEFT JOIN lab ON documents.doc_id = lab.id),
       |szs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
       |        FROM wl GROUP BY cluster)
       |SELECT wl.doc_id, wl.cluster, szs.cluster_size,
       |  CAST(list_reduce([CAST(strpos('0123456789abcdef', substr(
       |      md5(CAST(wl.doc_id AS VARCHAR)), p, 1)) - 1
       |    AS BIGINT) for p in range(1, 9)],
       |    (a, b) -> a * 16 + b) * szs.cluster_size < ${1L << 32}
       |    AS BIGINT) AS kept
       |FROM wl JOIN szs USING (cluster)""".stripMargin

  /** Standing near-dup LSH INDEX over a (doc_id, text) corpus — ONE
    * row per distinct normalized-text fingerprint:
    * `(fp, n_docs, min_id, shingles, sig)`. This is the table a
    * production deployment keeps materialized between ingest batches:
    * the q193 exact-duplicate collapse applied to the index itself, so
    * a boilerplate page with k corpus copies occupies one index row
    * (its band keys appear once, not k times) and a probe join's
    * fan-out tracks DISTINCT corpus content, never raw copy counts.
    * Groups too short to shingle are dropped — they can never produce
    * a verified match, exactly as they never enter the direct
    * pipeline's shingle table.
    *
    * Scale: one fp-keyed shuffle of 24-byte rows over the corpus, then
    * shingle/signature work over DISTINCT docs only. */
  private[graft] def nearDupIndexOf(docs: DataFrame): DataFrame = {
    val groups = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
              md5(TextAnalysis.normalized(col("text"))).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
      .transform(Memo.persist)
    // representative shingles + signature — identical for every group
    // member, so one row carries the whole group's LSH geometry
    val repIdx = shingledOf(docs.join(
        groups.select(col("min_id").as("doc_id")), Seq("doc_id"),
        "left_semi"))
      .select(col("doc_id").as("min_id"), col("shingles"),
        signature(col("shingles")).as("sig"))
    groups.join(repIdx, Seq("min_id"))
      .select(col("fp"), col("n_docs"), col("min_id"), col("shingles"),
              col("sig"))
  }

  /** Probe a NEW (doc_id, text) batch against a standing
    * [[nearDupIndexOf]] index: per batch document — is it novel, how
    * many standing-corpus documents it near-duplicates (shingle
    * jaccard ≥ threshold among LSH band candidates), and the minimum
    * matching corpus doc_id as a deterministic witness.
    *
    * BOTH sides are collapsed: the batch probes one representative per
    * distinct batch fingerprint and the index holds one row per
    * distinct corpus fingerprint, so the band join's candidate volume
    * is (distinct batch)×(distinct corpus)-shaped — a boilerplate
    * document with k corpus copies and m batch copies contributes ONE
    * candidate, not k·m (the round-13 known limit, closed). Counts and
    * witnesses expand back through the group stats: every member of a
    * matched batch group reports Σ n_docs over matched corpus groups
    * and the min matching min_id, which equals the direct pipeline's
    * per-doc answer because identical normalized text ⇒ identical
    * shingles ⇒ identical band keys and jaccard. */
  private[graft] def probeNearDupIndex(index: DataFrame, batch: DataFrame,
                                       threshold: Double): DataFrame = {
    val idx = index.transform(Memo.persist)
    val (bAll, bRepSh, cand) = probeCandidates(idx, batch)
    val matches = cand
      .join(bRepSh.select(col("bfp"), col("sb")), "bfp")
      .join(idx.select(col("fp"), col("shingles").as("sc"),
                       col("n_docs"), col("min_id")), "fp")
      .transform(jaccardAtLeast("sb", "sc", threshold))
      .groupBy(col("bfp"))
      .agg(sum(col("n_docs")).as("n_dups"),
           min(col("min_id")).as("match_id"))
    bAll
      .join(matches, Seq("bfp"), "left_outer")
      .select(col("doc_id"),
              col("n_dups").isNull.cast("int").cast("long").as("novel"),
              coalesce(col("n_dups"), lit(0L)).as("n_dups"),
              col("match_id"))
  }

  /** The candidate stage of [[probeNearDupIndex]] against a standing
    * index frame: (batch fingerprints of every batch doc, one shingled
    * and signed representative per distinct batch fingerprint
    * (bfp, sb, bsig), the (bfp, fp) fingerprint pairs sharing a band
    * key). The delta-scaling contract says the candidate count tracks
    * the batch's distinct content, not the index's accumulated size or
    * raw copy counts. */
  private[graft] def probeCandidates(idx: DataFrame, batch: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // ONE normalize+md5 pass over the batch, shared by the rep
    // grouping and the final expansion join (it used to be recomputed
    // in the tail projection — a second full scan of the delta per
    // probe). Null text ⇒ null fingerprint, which falls out of the
    // keyed grouping here and never matches in the probe's left_outer
    // join — exactly the old null-filter semantics.
    val bAll = batch
      .select(col("doc_id"),
              md5(TextAnalysis.normalized(col("text"))).as("bfp"))
      .transform(Memo.persist)
    val bKeyed = bAll.filter(col("bfp").isNotNull)
    val bReps = bKeyed.groupBy(col("bfp"))
      .agg(min(col("doc_id")).as("bmin"))
    val bRepSh = shingledOf(batch.join(
        bReps.select(col("bmin").as("doc_id")), Seq("doc_id"),
        "left_semi"))
      .join(bKeyed, "doc_id")
      .select(col("bfp"), col("shingles").as("sb"),
        signature(col("shingles")).as("bsig"))
      .transform(Memo.persist)
    // band keys carry ONLY the fingerprint — the shingle arrays ride
    // the verify joins, keyed by fp, exactly as the direct pipeline
    // keeps them out of its band explode
    val cand = bRepSh
      .select(col("bfp"), bandKey(col("bsig")))
      .join(idx.select(col("fp"), bandKey(col("sig"))), "bk")
      .select(col("bfp"), col("fp")).distinct()
    (bAll, bRepSh, cand)
  }

  /** Incremental NEAR-dup admission — the daily-ingest companion of
    * q82's exact-fingerprint incremental dedup: probe each NEW-batch
    * document (sources past src9, q82's convention) against the
    * STANDING corpus's LSH index and report whether it is novel, how
    * many corpus near-dups it hits, and a deterministic match witness
    * (min corpus doc_id at shingle-jaccard ≥ threshold). The batch
    * never joins against itself and the corpus never self-joins: band
    * keys cross only batch×corpus, which is the entire point — daily
    * work scales with the DELTA, not the corpus.
    *
    * Routing mirrors [[minhashLsh]]: the measured dup-fraction probe
    * decides between the direct batch×corpus band join (dup-light —
    * the gate corpus) and the COLLAPSED path through
    * [[nearDupIndexOf]]/[[probeNearDupIndex]] (dup-heavy — the normal
    * shape for a daily ingest batch at 100 TB, where yesterday's
    * boilerplate arrives again today and a direct join would produce
    * k·m candidates per boilerplate band). Both paths are
    * row-identical; q232 replays this oracle through the forced
    * collapsed plan. The one collapse decision that does not go through
    * [[collapseExpand]]: its collapsed plan is the standing-index probe,
    * not a representative-pair expansion. */
  def incrementalNearDedup(spark: SparkSession, dir: String,
                           threshold: Double = 0.5,
                           collapse: Option[Boolean] = None): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val isNew = length(col("source")) > 4
    val corpus = docs.filter(!isNew).select(col("doc_id"), col("text"))
    val batch = docs.filter(isNew).select(col("doc_id"), col("text"))
    if (shouldCollapse(collapse, dupFractionDir(spark, dir, Nil)))
      probeNearDupIndex(nearDupIndexOf(corpus), batch, threshold)
    else incrementalNearDedupDirect(corpus, batch, threshold)
  }

  /** The direct (uncollapsed) batch×corpus probe — correct and cheapest
    * on dup-light corpora, where the fp-group shuffles would buy
    * nothing. */
  private[graft] def incrementalNearDedupDirect(corpus: DataFrame,
                                                batch: DataFrame,
                                                threshold: Double)
      : DataFrame = {
    val shC = shingledOf(corpus).transform(Memo.persist)
    val shB = shingledOf(batch).transform(Memo.persist)
    val matches = directProbeCandidates(shB, shC)
      .join(shB.select(col("doc_id").as("b_id"),
                       col("shingles").as("sb")), "b_id")
      .join(shC.select(col("doc_id").as("c_id"),
                       col("shingles").as("sc")), "c_id")
      .transform(jaccardAtLeast("sb", "sc", threshold))
      .groupBy(col("b_id"))
      .agg(count(lit(1)).as("n_dups"), min(col("c_id")).as("match_id"))
    batch.select(col("doc_id"))
      .join(matches, col("doc_id") === col("b_id"), "left_outer")
      .select(col("doc_id"),
              col("b_id").isNull.cast("int").cast("long").as("novel"),
              coalesce(col("n_dups"), lit(0L)).as("n_dups"),
              col("match_id"))
  }

  /** The candidate stage of [[incrementalNearDedupDirect]]: (b_id, c_id)
    * batch×corpus doc pairs sharing a band key, over the two shingle
    * tables. On a dup-heavy delta its volume tracks raw copy products
    * (k·m per boilerplate band), where [[probeCandidates]] tracks
    * distinct fingerprints per side. */
  private[graft] def directProbeCandidates(shB: DataFrame, shC: DataFrame)
      : DataFrame = {
    def bands(sh: DataFrame) =
      signatures(sh).select(col("doc_id"), bandKey(col("sig")))
    bands(shB).as("l")
      .join(bands(shC).as("r"), col("l.bk") === col("r.bk"))
      .select(col("l.doc_id").as("b_id"), col("r.doc_id").as("c_id"))
      .distinct()
  }

  /** Two-batch standing-index MAINTENANCE certification (gate q233):
    * index the standing corpus (src0–src9), probe batch 1
    * (src10–src14), ADMIT batch 1's novel documents into the index
    * (append their collapsed signature rows — the q82
    * incremental-exact pattern, near-dup edition), then probe batch 2
    * (src15–src19) against the UPDATED index. A batch-2 near-dup of a
    * batch-1 admission is caught by state the admission step wrote —
    * the property that makes the index incremental rather than
    * recomputed per run (the testdata carries such pairs at both gate
    * scales, so the admission path is exercised, not just compiled).
    * Output: both batches' probe rows tagged with their batch number.
    *
    * Admitted fingerprints can never collide with standing ones: an
    * equal fp means jaccard 1.0 ≥ threshold, so the document was
    * matched, not novel — the union needs no re-grouping. */
  def nearDupIndexTwoBatch(spark: SparkSession, dir: String,
                           threshold: Double = 0.5): DataFrame = {
    val (corpus, batch1, batch2) = corpusTwoBatches(spark, dir)
    val idx0 = nearDupIndexOf(corpus)
    val probe1 = probeNearDupIndex(idx0, batch1, threshold)
      .transform(Memo.persist)
    val admitted = batch1.join(
      probe1.filter(col("novel") === 1L).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val idx1 = idx0.unionByName(nearDupIndexOf(admitted))
    val probe2 = probeNearDupIndex(idx1, batch2, threshold)
    probe1.withColumn("batch", lit(1L))
      .unionByName(probe2.withColumn("batch", lit(2L)))
      .select(col("doc_id"), col("batch"), col("novel"), col("n_dups"),
              col("match_id"))
  }

  /** The q233/q234 corpus split: standing corpus (src0–src9), batch 1
    * (src10–src14), batch 2 (src15–src19). try_cast, not cast: a
    * non-numeric source tail must DROP the doc from every side (as the
    * oracle's TRY_CAST does), not throw under ANSI mode; a NULL source
    * falls out of the length predicates. */
  private def corpusTwoBatches(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.load(spark, dir, "documents")
    val srcNum = expr("try_cast(substring(source, 4, 10) as int)")
    def side(f: Column) = docs.filter(f).select(col("doc_id"), col("text"))
    (side(length(col("source")) <= 4),
     side(length(col("source")) > 4 && srcNum <= 14),
     side(length(col("source")) > 4 && srcNum >= 15))
  }

  // ---- durable standing-index lifecycle -------------------------------
  //
  // [[nearDupIndexTwoBatch]] certifies the probe→admit→probe COMPOSITION
  // inside one plan; production runs it as a MAINTAINED ON-DISK TABLE —
  // tonight's ingest probes state last night's job wrote. These three
  // operators are that lifecycle: write the collapsed index as parquet,
  // admit a batch (probe against the table, append the novel documents'
  // collapsed rows), and compact the accumulated small admission files
  // ([[graft.sources.Sources.compactParquet]] — the q98 job). This is
  // the engine's answer to the reference's UNBUILT persistent-index
  // design (docs/B+Tree.md, docs/Pager.md — a pager + B+Tree that
  // llamadb never implemented): the same durable-index role, done
  // Spark-shaped as an immutable columnar table plus append + compact
  // maintenance instead of in-place page mutation.

  /** Materialize the standing near-dup LSH index of `corpus` at `path`
    * (parquet, overwrite). One row per distinct normalized-text
    * fingerprint — see [[nearDupIndexOf]] for the collapse contract. */
  def nearDupIndexWrite(corpus: DataFrame, path: String): Unit =
    nearDupIndexOf(corpus).write.mode("overwrite").parquet(path)

  // ---- concurrency contract -------------------------------------------
  //
  // The lifecycle's mutators are READ-THEN-MUTATE: admit probes the
  // standing table and appends what it judged novel; compact moves the
  // whole table through a rename swap. Two overlapping admit jobs would
  // BOTH probe the same standing state and both admit copies of the same
  // novel document — duplicate fp rows that break the "equal fp ⇒
  // matched, not novel" invariant the no-regroup append relies on. An
  // admit overlapping a compact can append into the set-aside copy the
  // swap is about to discard. The contract: MUTATORS are single-writer
  // under a filesystem lease (atomic create-if-absent of
  // `<path>__lease`), and contention is an ACTIONABLE ERROR, not a
  // queue — a daily pipeline whose jobs overlapped wants to know, and
  // the right fix (fix the schedule, or wait) lives outside the engine.
  // READ-ONLY probes never take the lease: they tolerate the compact
  // swap window instead ([[probeNearDupIndexDurable]] retries through
  // `__precompact`, where the swap parks the live copy). HDFS
  // `create(overwrite = false)` is atomic; the local-fs check-then-
  // create TOCTOU is a dev-environment artifact (and both "winners" of
  // that race would collide on the later renames rather than corrupt
  // silently). An orphaned lease (holder died) is broken by deleting
  // the lease file — the error message carries the holder's identity
  // and the path so the operator can make that call.

  private[graft] def indexLeasePath(indexPath: String) =
    new org.apache.hadoop.fs.Path(indexPath + "__lease")

  private def withIndexLease[T](spark: SparkSession, indexPath: String,
                                op: String)(body: => T): T = {
    val lease = indexLeasePath(indexPath)
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Only the CREATE is the contention signal — a failure writing the
    // holder info into our own freshly-created lease (disk full, fs
    // hiccup) must surface as what it is, with the lease released, not
    // masquerade as another job holding it.
    val out =
      try fs.create(lease, false) // atomic create-if-absent
      catch {
        case e: java.io.IOException =>
          val holder =
            try {
              val in = fs.open(lease)
              try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
            } catch { case _: Throwable => "<holder info unreadable>" }
          throw new IllegalStateException(
            s"near-dup index maintenance contention: '$op' on " +
            s"$indexPath needs the single-writer lease at $lease, " +
            s"held by [$holder]. Admit and compact are " +
            "read-then-mutate — overlapping writers would admit " +
            "duplicate fingerprint rows or swap the table out from " +
            "under each other. Wait for the holder to finish (fix " +
            "the schedule if jobs overlap routinely); if the holder " +
            "is known dead, delete the lease file and re-run.", e)
      }
    try {
      out.write((s"op=$op pid=${java.lang.ProcessHandle.current.pid} " +
        s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
        s"acquired=${java.time.Instant.now}")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      body
    } finally fs.delete(lease, false)
  }

  /** Probe `batch` against the standing index at `indexPath`,
    * TOLERATING an in-flight [[nearDupIndexCompact]]: during the swap
    * window the live copy is parked at `__precompact`, so resolution
    * retries there, and a scan that loses files mid-read (the table
    * moved after planning) is retried whole. The result is eagerly
    * materialized with its lineage cut (`localCheckpoint`) so the
    * returned frame can never lazily re-read paths a completed compact
    * has since removed. Read-only — takes no lease. */
  def probeNearDupIndexDurable(spark: SparkSession, indexPath: String,
                               batch: DataFrame, threshold: Double,
                               retries: Int = 30,
                               backoffMs: Long = 100): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val parked = new org.apache.hadoop.fs.Path(indexPath + "__precompact")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def isTransientPathError(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
        .exists { c =>
          c.isInstanceOf[java.io.FileNotFoundException] ||
          Option(c.getMessage).exists(m =>
            m.contains("PATH_NOT_FOUND") || m.contains("FileNotFound"))
        }
    var last: Throwable = null
    var result: DataFrame = null
    var attempt = 0
    while (result == null && attempt < retries) {
      val target = if (fs.exists(p)) Some(p)
                   else if (fs.exists(parked)) Some(parked)
                   else None
      target match {
        case Some(t) =>
          try result = probeNearDupIndex(
              spark.read.parquet(t.toString), batch, threshold)
              .localCheckpoint(true)
          catch {
            case e: Throwable if isTransientPathError(e) =>
              last = e; Thread.sleep(backoffMs)
          }
        case None => Thread.sleep(backoffMs)
      }
      attempt += 1
    }
    if (result == null)
      throw new IllegalStateException(
        s"could not read the near-dup index at $indexPath after " +
        s"$retries attempts — an in-flight compact holds the swap " +
        "window for milliseconds, so a persistent absence means the " +
        "table is gone or was never written", last)
    result
  }

  /** Probe `batch` against the standing index AT `indexPath`, persist
    * the per-document probe verdicts to `probeOutPath` (the audit
    * artifact a daily job keeps anyway), ADMIT the batch's novel
    * documents by appending their collapsed signature rows to the index
    * table, and return the probe verdicts (read back from disk).
    *
    * The probe result is materialized to disk BEFORE the append: the
    * returned frame must never lazily re-read an index that now
    * contains the admissions (a recomputed probe would match admitted
    * docs against their own rows). Admitted fingerprints cannot collide
    * with standing ones — equal fp ⇒ jaccard 1 ⇒ matched, not novel —
    * so the append needs no re-grouping (the q233 argument), and
    * append-mode parquet makes the admission an O(delta) write that
    * never rewrites the standing table. Single-writer: runs under the
    * index lease (see the concurrency contract above) so a concurrent
    * admit or compact fails fast instead of corrupting the invariant. */
  def nearDupIndexAdmit(spark: SparkSession, indexPath: String,
                        batch: DataFrame, threshold: Double,
                        probeOutPath: String): DataFrame =
    withIndexLease(spark, indexPath, "admit") {
      probeNearDupIndex(spark.read.parquet(indexPath), batch, threshold)
        .write.mode("overwrite").parquet(probeOutPath)
      val probed = spark.read.parquet(probeOutPath)
      val admitted = batch.join(
        probed.filter(col("novel") === 1L).select("doc_id"),
        Seq("doc_id"), "left_semi")
      nearDupIndexOf(admitted).write.mode("append").parquet(indexPath)
      probed
    }

  /** Compact the standing index table in place: rewrite to sized files
    * ([[graft.sources.Sources.compactParquet]]) and swap. N nightly
    * admissions accrete N small file groups; without this job the
    * table's file count grows without bound and probe-side listing/open
    * cost with it. The local/HDFS swap is delete+rename through the
    * path's own FileSystem; an object-store deployment would swap a
    * table-format pointer instead — the rewrite half is the part that
    * costs anything and it is one round-robin shuffle of the (small,
    * collapsed) index, never of the corpus. Returns the output file
    * count. Single-writer: runs under the index lease (concurrency
    * contract above); crash recovery runs INSIDE the lease so a
    * recovering run cannot race a healthy one. */
  def nearDupIndexCompact(spark: SparkSession, path: String,
                          targetFileBytes: Long = 128L * 1024 * 1024)
      : Int = withIndexLease(spark, path, "compact") {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compacting")
    val old = new org.apache.hadoop.fs.Path(path + "__precompact")
    // crash recovery BEFORE cleanup: a previous run hard-killed inside
    // the swap window leaves the only live copy at __precompact (and a
    // possibly-complete compacted copy at __compacting) — restore the
    // original rather than deleting the survivors; only then is it
    // safe to clear leftovers
    if (!fs.exists(p) && fs.exists(old))
      require(fs.rename(old, p),
        s"compact recovery: could not restore $old to $path")
    fs.delete(tmp, true); fs.delete(old, true)
    val n = graft.sources.Sources.compactParquet(spark, path,
      tmp.toString, targetFileBytes)
    // swap order keeps a complete table on disk at every step: the
    // live table moves ASIDE first, so a failure between the renames
    // leaves the data recoverable at __precompact instead of deleted
    require(fs.rename(p, old), s"compact swap: could not set aside $path")
    if (!fs.rename(tmp, p)) {
      val restored = fs.rename(old, p) // the compacted copy stays at tmp
      throw new IllegalStateException(
        s"compact swap: could not move $tmp into place; original " +
        (if (restored) s"restored at $path"
         else s"NOT restored — recover it from $old"))
    }
    fs.delete(old, true)
    n
  }

  /** Gate q234: the durable lifecycle end to end, with every arrow
    * crossing the FILESYSTEM — write the standing index to parquet,
    * admit batch 1 against the on-disk table (probe verdicts also
    * round-trip through parquet), compact the accumulated admission
    * files, then probe batch 2 against the compacted on-disk table.
    * Invocation k+1 reads only state invocation k wrote to disk, so a
    * hash-match against q233's oracle certifies that the durable
    * composition equals the in-plan one row for row — including that
    * batch 2's near-dups of batch-1 ADMISSIONS are caught by rows the
    * admit step appended and the compaction rewrote. State under
    * java.io.tmpdir is wiped at entry: the gate certifies the
    * lifecycle, not leftovers from a previous run. */
  def nearDupIndexDurableGate(spark: SparkSession, dir: String,
                              threshold: Double = 0.5): DataFrame = {
    val (corpus, batch1, batch2) = corpusTwoBatches(spark, dir)
    // per-(process, dir) scratch: the entry wipe must never race a
    // CONCURRENT JVM running the gate against the same corpus (e.g. a
    // verify cycle beside a bench window)
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_neardup_index_" + java.lang.ProcessHandle.current.pid +
      "_" + Integer.toHexString(dir.hashCode)).getPath
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rootPath)) fs.delete(rootPath, true)
    val idxPath = s"$root/index"
    nearDupIndexWrite(corpus, idxPath)
    val probe1 = nearDupIndexAdmit(spark, idxPath, batch1, threshold,
                                   s"$root/probe1")
    nearDupIndexCompact(spark, idxPath, targetFileBytes = 4L * 1024 * 1024)
    // batch 2 reads through the TOLERANT path — the read a production
    // probe job uses, so the gate certifies it against the oracle too
    val probe2 = probeNearDupIndexDurable(spark, idxPath, batch2,
                                          threshold)
    probe1.withColumn("batch", lit(1L))
      .unionByName(probe2.withColumn("batch", lit(2L)))
      .select(col("doc_id"), col("batch"), col("novel"), col("n_dups"),
              col("match_id"))
  }

  /** DuckDB oracle for [[incrementalNearDedup]]: the q26 signature +
    * banding CTEs with the candidate join restricted to batch×corpus,
    * exact shingle-jaccard verify, min-witness aggregation. */
  def incrementalNearDedupOracleSql(threshold: Double = 0.5): String =
    s"""WITH $minhashCtes,
       |half AS (SELECT doc_id, length(source) > 4 AS is_new
       |         FROM documents),
       |candi AS (
       |  SELECT DISTINCT lb.doc_id AS b_id, rc.doc_id AS c_id
       |  FROM bands lb
       |  JOIN half hb ON hb.doc_id = lb.doc_id AND hb.is_new
       |  JOIN bands rc ON rc.b = lb.b AND rc.bk = lb.bk
       |  JOIN half hc ON hc.doc_id = rc.doc_id AND NOT hc.is_new),
       |ver AS (
       |  SELECT b_id, c_id FROM (
       |    SELECT b_id, c_id,
       |      CAST(len(list_intersect(lb.hs, lc.hs)) AS DOUBLE) /
       |        (len(lb.hs) + len(lc.hs) - len(list_intersect(lb.hs, lc.hs)))
       |        AS jac
       |    FROM candi JOIN sh lb ON lb.doc_id = candi.b_id
       |               JOIN sh lc ON lc.doc_id = candi.c_id) v
       |  WHERE jac >= $threshold),
       |agg AS (
       |  SELECT b_id, CAST(count(*) AS BIGINT) AS n_dups,
       |    CAST(min(c_id) AS BIGINT) AS match_id
       |  FROM ver GROUP BY b_id)
       |SELECT d.doc_id,
       |  CAST(a.b_id IS NULL AS BIGINT) AS novel,
       |  CAST(coalesce(a.n_dups, 0) AS BIGINT) AS n_dups,
       |  a.match_id
       |FROM documents d
       |JOIN half h ON h.doc_id = d.doc_id AND h.is_new
       |LEFT JOIN agg a ON a.b_id = d.doc_id""".stripMargin

  /** DuckDB oracle for [[nearDupIndexTwoBatch]]: the q26 signature +
    * banding CTEs, probed batch-1-vs-corpus, then batch-2 against
    * corpus ∪ batch-1's novel survivors — the per-document replay of
    * the engine's collapsed index + admission (group counts expand to
    * exactly these per-doc counts). */
  def nearDupIndexTwoBatchOracleSql(threshold: Double = 0.5): String = {
    val jac =
      """CAST(len(list_intersect(lb.hs, lc.hs)) AS DOUBLE) /
        |        (len(lb.hs) + len(lc.hs) - len(list_intersect(lb.hs, lc.hs)))""".stripMargin
    s"""WITH $minhashCtes,
       |side AS (SELECT doc_id,
       |    CASE WHEN length(source) <= 4 THEN 0
       |         WHEN TRY_CAST(substr(source, 4) AS INT) <= 14 THEN 1
       |         WHEN TRY_CAST(substr(source, 4) AS INT) >= 15 THEN 2
       |         END AS grp
       |  FROM documents),
       |cand1 AS (SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
       |  FROM bands b JOIN side sb ON sb.doc_id = b.doc_id AND sb.grp = 1
       |  JOIN bands c ON c.b = b.b AND c.bk = b.bk
       |  JOIN side sc ON sc.doc_id = c.doc_id AND sc.grp = 0),
       |ver1 AS (SELECT b_id, c_id FROM (
       |    SELECT b_id, c_id, $jac AS jac
       |    FROM cand1 JOIN sh lb ON lb.doc_id = cand1.b_id
       |               JOIN sh lc ON lc.doc_id = cand1.c_id) v
       |  WHERE jac >= $threshold),
       |agg1 AS (SELECT b_id, CAST(count(*) AS BIGINT) AS n_dups,
       |    CAST(min(c_id) AS BIGINT) AS match_id
       |  FROM ver1 GROUP BY b_id),
       |out1 AS (SELECT d.doc_id, CAST(1 AS BIGINT) AS batch,
       |    CAST(a.b_id IS NULL AS BIGINT) AS novel,
       |    CAST(coalesce(a.n_dups, 0) AS BIGINT) AS n_dups, a.match_id
       |  FROM documents d JOIN side s ON s.doc_id = d.doc_id AND s.grp = 1
       |  LEFT JOIN agg1 a ON a.b_id = d.doc_id),
       |c2 AS (SELECT doc_id FROM side WHERE grp = 0
       |       UNION ALL SELECT doc_id FROM out1 WHERE novel = 1),
       |cand2 AS (SELECT DISTINCT b.doc_id AS b_id, c.doc_id AS c_id
       |  FROM bands b JOIN side sb ON sb.doc_id = b.doc_id AND sb.grp = 2
       |  JOIN bands c ON c.b = b.b AND c.bk = b.bk
       |  JOIN c2 ON c2.doc_id = c.doc_id),
       |ver2 AS (SELECT b_id, c_id FROM (
       |    SELECT b_id, c_id, $jac AS jac
       |    FROM cand2 JOIN sh lb ON lb.doc_id = cand2.b_id
       |               JOIN sh lc ON lc.doc_id = cand2.c_id) v
       |  WHERE jac >= $threshold),
       |agg2 AS (SELECT b_id, CAST(count(*) AS BIGINT) AS n_dups,
       |    CAST(min(c_id) AS BIGINT) AS match_id
       |  FROM ver2 GROUP BY b_id),
       |out2 AS (SELECT d.doc_id, CAST(2 AS BIGINT) AS batch,
       |    CAST(a.b_id IS NULL AS BIGINT) AS novel,
       |    CAST(coalesce(a.n_dups, 0) AS BIGINT) AS n_dups, a.match_id
       |  FROM documents d JOIN side s ON s.doc_id = d.doc_id AND s.grp = 2
       |  LEFT JOIN agg2 a ON a.b_id = d.doc_id)
       |SELECT * FROM out1 UNION ALL SELECT * FROM out2""".stripMargin
  }

  /** Quality-ranked cluster survivor — the production dedup policy:
    * within each near-dup cluster keep the FULLEST copy (most word
    * tokens; ties to the smallest doc_id), not the smallest id.
    * [[dedupedCorpusExact]] is the canonical-id variant; this one is
    * what pipelines actually ship when duplicates differ by truncation.
    * Output: one row per multi-doc cluster with its size, the kept doc,
    * and its token count — all integers, so the DuckDB oracle (the q93
    * recursive closure joined to the q20 token expression, argmax via
    * row_number) matches exactly.
    *
    * Scale: reuses the shared pair-set persist + label-prop loop; the
    * argmax is a struct-max aggregate (map-side combined, one shuffle
    * keyed by cluster label — cluster count ≪ corpus). */
  def bestOfClusters(spark: SparkSession, dir: String,
                     threshold: Double = 0.8): DataFrame = {
    val labels = clusterLabelsCached(spark, dir, threshold)
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        expr("size(regexp_extract_all(text, '([A-Za-z0-9]+)', 1))")
          .cast("long").as("n_tokens"))
    labels.join(toks, labels("id") === toks("doc_id"))
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_docs"),
           max(struct(col("n_tokens"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("cluster"), col("n_docs"),
              (-col("m.nid")).as("keep_id"),
              col("m.n_tokens").as("best_tokens"))
  }

  /** DuckDB oracle for [[bestOfClusters]]: q93's recursive min-label
    * closure over the exact pair set, joined to q20's token count,
    * survivor chosen by `row_number` with the same (tokens desc, id asc)
    * order. */
  def bestOfClustersOracleSql(threshold: Double = 0.8): String =
    s"""WITH RECURSIVE d AS (SELECT doc_id, source,
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
       | WHERE jac >= $threshold),
       |e AS (SELECT a_id AS src, b_id AS dst FROM p
       |      UNION SELECT b_id, a_id FROM p),
       |reach(id, label) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.src, r.label FROM e JOIN reach r ON e.dst = r.id),
       |lab AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
       |t AS (SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
       |    AS n_tokens
       | FROM documents),
       |j AS (SELECT lab.label AS cluster, lab.id AS doc_id, t.n_tokens,
       |        row_number() OVER (PARTITION BY lab.label
       |          ORDER BY t.n_tokens DESC, lab.id ASC) AS rk
       |      FROM lab JOIN t ON t.doc_id = lab.id)
       |SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS keep_id,
       |  CAST(max(n_tokens) AS BIGINT) AS best_tokens
       |FROM j GROUP BY 1""".stripMargin

  // ---- DuckDB oracles for the md5-based minhash/simhash gates --------

  /** Shared SQL fragment: normalized word list per doc (mirrors
    * [[TextAnalysis.normalized]] + split). */
  private val wsCte: String =
    """ws AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
      |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
      |    AS w FROM documents)""".stripMargin

  /** SQL expression parsing hex chars [from, to) of `col`'s md5-style hex
    * string into a BIGINT (big-endian nibbles, the same value the Spark
    * kernel derives from the digest bytes). */
  private def hexToLong(col: String, from: Int, until: Int): String =
    s"list_reduce([CAST(strpos('0123456789abcdef', substr($col, p, 1)) - 1" +
      s" AS BIGINT) for p in range($from, $until)], (a, b) -> a * 16 + b)"

  /** Shared CTE chain of the minhash oracles (q26, q104): normalized
    * words → md5 3-gram shingle hashes → per-doc shingle lists (`sh`) →
    * 32-permutation signatures (`sig`) → 8×4 band keys → distinct
    * banded candidates (`cand`). One builder so a change to the
    * signature/banding replay can never make the two oracles diverge. */
  private def minhashCtes: String = {
    val sigExprs = perms.map { case (a, b) =>
      s"list_min(list_transform(hs, h -> ($a * (h % ${graft.functions.MinHashSig.P}) + $b) % ${graft.functions.MinHashSig.P}))"
    }.mkString(",\n      ")
    s"""$wsCte,
       |gh0 AS (
       |  SELECT doc_id, unnest([substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15)
       |                         for i in range(1, len(w) - 1)]) AS hx
       |  FROM ws WHERE len(w) >= 3),
       |gh AS (
       |  SELECT DISTINCT doc_id, ${hexToLong("hx", 1, 16)} AS h
       |  FROM gh0),
       |sh AS (SELECT doc_id, list(h) AS hs FROM gh GROUP BY doc_id),
       |sig AS (SELECT doc_id, [
       |      $sigExprs] AS s
       |  FROM sh),
       |bands AS (
       |  SELECT doc_id, b, s[4*b+1:4*b+4] AS bk
       |  FROM sig, (SELECT unnest(range(0, 8)) AS b)),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
       |  FROM bands l JOIN bands r
       |    ON l.b = r.b AND l.bk = r.bk AND l.doc_id < r.doc_id)""".stripMargin
  }

  /** Exact DuckDB replica of the minhash-LSH pipeline: md5-top-60-bit
    * 3-gram shingles, the same 32 fixed permutations, 8x4 banding on raw
    * signature slices, exact-jaccard verification. Every stage mirrors
    * the Spark operators value-for-value, so the gate hash-matches. */
  def minhashLshOracleSql(threshold: Double = 0.5): String = {
    s"""WITH $minhashCtes
       |SELECT a_id, b_id, jaccard FROM (
       |  SELECT a_id, b_id,
       |    CAST(len(list_intersect(la.hs, lb.hs)) AS DOUBLE) /
       |      (len(la.hs) + len(lb.hs) - len(list_intersect(la.hs, lb.hs)))
       |      AS jaccard
       |  FROM cand JOIN sh la ON la.doc_id = cand.a_id
       |            JOIN sh lb ON lb.doc_id = cand.b_id) v
       |WHERE jaccard >= $threshold""".stripMargin
  }

  /** DuckDB oracle for the STREAMING minhash-LSH dedup
    * ([[graft.streaming.Streams.minhashDedupAvailableNow]]): with
    * id-ordered arrival, every doc in a band bucket except the bucket
    * minimum reports that minimum as its earlier duplicate — which is
    * exactly the bucket-min join below. Reuses the q26 signature +
    * banding CTEs verbatim, so the streaming path is pinned to the
    * batch pipeline's hashes value-for-value. */
  def streamingLshDedupOracleSql(): String =
    s"""WITH $minhashCtes
       |SELECT CAST(d.b AS INT) AS band, m.a_id, d.doc_id AS b_id
       |FROM bands d
       |JOIN (SELECT b, bk, min(doc_id) AS a_id
       |      FROM bands GROUP BY b, bk) m
       |  ON m.b = d.b AND m.bk = d.bk AND d.doc_id > m.a_id""".stripMargin

  /** DuckDB oracle for [[containmentEstimate]]: the q26 signature +
    * banding CTEs, then the matched-component count via a filtered list
    * comprehension and the same all-integer estimate with one double
    * division. */
  def containmentEstimateOracleSql(): String = {
    s"""WITH $minhashCtes,
       |est AS (
       |  SELECT cand.a_id, cand.b_id,
       |    CAST(len([i for i in range(1, 33)
       |              if sa.s[i] = sb.s[i]]) AS BIGINT) AS m,
       |    CAST(len(ha.hs) AS BIGINT) AS na,
       |    CAST(len(hb.hs) AS BIGINT) AS nb
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = cand.a_id
       |  JOIN sig sb ON sb.doc_id = cand.b_id
       |  JOIN sh ha ON ha.doc_id = cand.a_id
       |  JOIN sh hb ON hb.doc_id = cand.b_id)
       |SELECT a_id, b_id, m,
       |  CAST(m * (na + nb) AS DOUBLE) / ((32 + m) * least(na, nb))
       |    AS est_cont
       |FROM est""".stripMargin
  }

  /** Exact DuckDB replica of the simhash pipeline's OUTPUT: per-word
    * md5-first-8-byte hashes (two 32-bit hex halves), the same ±1 bit
    * voting, then a brute-force Hamming join. Brute force is valid as an
    * oracle precisely because the Manku block keys have recall exactly 1
    * and candidates are verified — the engine's sub-quadratic candidate
    * generation changes cost, never the result set. */
  def simhashPairsOracleSql(maxHam: Int = 3): String = {
    def votes(half: String): String =
      (0 until 32).map { i =>
        s"(CASE WHEN sum(CASE WHEN ($half >> $i) & 1 = 1 THEN 1 ELSE -1 END)" +
          s" > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" +\n      ")
    s"""WITH $wsCte,
       |wd AS (SELECT doc_id, unnest(w) AS word FROM ws),
       |wh0 AS (SELECT doc_id, md5(word) AS hx FROM wd),
       |wh AS (
       |  SELECT doc_id,
       |    ${hexToLong("hx", 1, 9)} AS hi,
       |    ${hexToLong("hx", 9, 17)} AS lo
       |  FROM wh0),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(${votes("lo")} AS BIGINT) AS slo,
       |    CAST(${votes("hi")} AS BIGINT) AS shi
       |  FROM wh GROUP BY doc_id)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.slo, b.slo)) + bit_count(xor(a.shi, b.shi))
       |       AS INTEGER) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.slo, b.slo)) + bit_count(xor(a.shi, b.shi))
       |      <= $maxHam""".stripMargin
  }

  /** Cross-source near-duplicate overlap matrix: fold any (a_id, b_id)
    * pair set down to per-source-pair counts — the mixture-hygiene audit
    * ("how much of src A re-appears in src B") a pipeline logs before
    * weighting sources. Source pairs are canonicalized (lexicographic
    * lo/hi) so each unordered pair counts once; the diagonal rows are
    * the within-source duplicate mass.
    *
    * Deliberately NOT a driver gate: with an exact all-source pair set
    * this corpus is output-bound (≈24 % of ALL pairs qualify at 0.8 —
    * 31-word vocabulary), so the gate would bench-charge data pathology,
    * not the operator; feed it [[minhashLshCached]] pairs (global LSH —
    * cross-source candidates included, sub-quadratic) instead. Cost on
    * top of the pair set: two doc_id-keyed joins against the (doc_id,
    * source) projection + one small aggregate. */
  def sourceOverlap(pairs: DataFrame, documents: DataFrame): DataFrame = {
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.withColumnRenamed("doc_id", "a_id")
               .withColumnRenamed("source", "source_a"), "a_id")
      .join(src.withColumnRenamed("doc_id", "b_id")
               .withColumnRenamed("source", "source_b"), "b_id")
      .select(least(col("source_a"), col("source_b")).as("source_lo"),
              greatest(col("source_a"), col("source_b")).as("source_hi"))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  // ---- cross-source corpus overlap matrix ---------------------------

  /** EXACT word-n-gram Jaccard between every pair of sources — the
    * mixture-design audit: before weighting sources into a training mix,
    * measure how much content they share (two crawls of the same sites
    * would otherwise be double-weighted). Where [[sourceOverlap]] counts
    * near-dup DOC pairs across sources, this measures corpus-level SET
    * overlap — it sees diffuse sharing (boilerplate, common passages)
    * that never concentrates into any single near-dup pair.
    *
    * Scale shape: one explode to distinct (source, gram) — the gram
    * vocabulary is content-bounded, not corpus-size-bounded; the
    * intersection is a self-join keyed on the gram, whose fan-out per
    * gram is capped by (#sources choose 2) — 190 here, NEVER documents²
    * (the #sources dimension of a corpus is bounded in the real world
    * exactly like the TPC-H `nation` table). Sizes are one bounded
    * aggregation; the final join is on the 190-row pair table.
    *
    * Output: (source_a, source_b, n_inter, jaccard[4dp]) for pairs with
    * at least one shared gram; integer-exact except the final ratio
    * (int/int division, identical bits across engines). */
  def sourceGramJaccard(spark: SparkSession, dir: String,
                        n: Int = 3): DataFrame = {
    val grams = Tables.load(spark, dir, "documents")
      .select(col("source"),
              explode(graft.functions.StringNGrams.ngrams(
                split(TextAnalysis.normalized(col("text")), " "), n))
                .as("gram"))
      .distinct()
      .transform(Memo.persist)
    val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    grams.as("a")
      .join(grams.as("b"),
            col("a.gram") === col("b.gram") &&
              col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(broadcast(sizes.select(col("source").as("source_a"),
                                   col("sz").as("za"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
                                   col("sz").as("zb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_inter"),
              round(col("n_inter") / (col("za") + col("zb") - col("n_inter")),
                    4).as("jaccard"))
  }

  def sourceGramJaccardOracleSql(n: Int = 3): String =
    s"""WITH w AS (
       |  SELECT source, string_split(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
       |    AS ws
       |  FROM documents),
       |g AS (
       |  SELECT DISTINCT source,
       |    unnest([array_to_string(ws[CAST(i AS INT):CAST(i AS INT) + ${n - 1}], ' ')
       |            for i in range(1, len(ws) - ${n - 2})]) AS gram
       |  FROM w),
       |sz AS (SELECT source, count(*) AS z FROM g GROUP BY source),
       |inter AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         count(*) AS n_inter
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, n_inter,
       |  round(CAST(n_inter AS DOUBLE) / (za.z + zb.z - n_inter), 4)
       |    AS jaccard
       |FROM inter
       |JOIN sz za ON za.source = inter.source_a
       |JOIN sz zb ON zb.source = inter.source_b""".stripMargin

  /** Similarity-threshold histogram — the dedup-planning signal: how
    * many near-dup pairs exist at each similarity decile above the base
    * threshold, with the exact min/max jaccard per decile. Reads
    * straight off the cached exact pair set (one bounded rollup; the
    * pair-set cost is shared with q28/q39/q63/q92), so "what threshold
    * should this corpus dedup at" costs one extra aggregation.
    * Bucketing uses the same IEEE double ops on both engines
    * (`least(floor(jac·10), 9)`), so bucket edges agree bit-for-bit. */
  def similarityHistogram(spark: SparkSession, dir: String,
                          threshold: Double = 0.5): DataFrame =
    jaccardPairsCached(spark, dir, threshold)
      .withColumn("bucket",
        least(floor(col("jac") * 10), lit(9.0)).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
           round(min(col("jac")), 4).as("min_jac"),
           round(max(col("jac")), 4).as("max_jac"))

  def similarityHistogramOracleSql(threshold: Double = 0.5): String =
    s"""WITH d AS (SELECT doc_id, source,
       |  list_distinct(string_split(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
       |    AS ws
       | FROM documents),
       |pairs AS (SELECT jac FROM (
       | SELECT CAST(len(list_intersect(l.ws, r.ws)) AS DOUBLE) /
       |   (len(l.ws) + len(r.ws) - len(list_intersect(l.ws, r.ws))) AS jac
       | FROM d l, d r
       | WHERE l.source = r.source AND l.doc_id < r.doc_id) p
       | WHERE jac >= $threshold)
       |SELECT CAST(least(floor(jac * 10), 9) AS BIGINT) AS bucket,
       |  count(*) AS n_pairs,
       |  round(min(jac), 4) AS min_jac,
       |  round(max(jac), 4) AS max_jac
       |FROM pairs GROUP BY 1""".stripMargin

  // ---- cross-corpus paragraph dedup (CCNet's dedup unit) -------------

  /** CCNet-style paragraph-level dedup (Wenzek et al. 2020 §3: the
    * dedup unit is the paragraph, not the document — boilerplate is
    * removed from documents that otherwise survive). The corpus has no
    * paragraph breaks, so the segmentation rule is fixed-length
    * pseudo-paragraphs: non-overlapping `paraLen`-token windows over the
    * normalized token stream. The operator's substance — segment, hash,
    * keep the global first occurrence, reassemble each document from its
    * surviving paragraphs in original order — is segmentation-agnostic.
    *
    * Scale shape, stage by stage:
    *   1. segment: per-row expression work (`transform` over a slice
    *      sequence), no shuffle, no token-level explode — one row per
    *      paragraph, not per token;
    *   2. first-occurrence survivor per content hash:
    *      `groupBy(md5(para)).agg(min(struct(doc_id, pos, para)))` — ONE
    *      shuffle keyed on the hash with map-side partial aggregation,
    *      so a boilerplate paragraph appearing a billion times at 100 TB
    *      collapses to one row per input partition before the exchange
    *      (the skewed-key trap a `row_number` window over the hash would
    *      hit head-on);
    *   3. reassemble: `groupBy(doc_id)` + sorted `collect_list` — shuffle
    *      keyed on doc_id, group size bounded by paragraphs-per-document
    *      (document length / paraLen), a per-row bound independent of
    *      corpus size.
    *
    * Documents whose every paragraph already appeared elsewhere drop out
    * entirely — the document-level dedup (q24/q25) falls out as the
    * special case. Output: surviving doc_id, paragraphs kept, and the
    * reassembled text. */
  def paragraphDedup(spark: SparkSession, dir: String,
                     paraLen: Int = 8): DataFrame = {
    val paras = paragraphs(Tables.load(spark, dir, "documents"), paraLen)
    val survivors = paras
      .groupBy(md5(col("para")).as("h"))
      .agg(min(struct(col("doc_id"), col("pos"), col("para"))).as("occ"))
      .select(col("occ.doc_id").as("doc_id"),
              col("occ.pos").as("pos"), col("occ.para").as("para"))
    survivors
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
           array_join(
             expr("transform(array_sort(collect_list(struct(pos, para)))," +
                  " s -> s.para)"),
             " ").as("text_kept"))
  }

  /** Shared CCNet paragraph segmentation: normalized text → fixed-length
    * pseudo-paragraphs, one row per (doc_id, pos, para). Single source
    * of truth for the dedup unit, consumed by the batch dedup (q211)
    * and the streaming Bloom variant (q215) — narrow ops only, so it
    * applies unchanged to a streaming DataFrame. */
  private[graft] def paragraphs(docs: DataFrame, paraLen: Int): DataFrame = {
    require(paraLen > 0, "paraLen must be positive")
    docs
      .select(col("doc_id"),
              split(TextAnalysis.normalized(col("text")), " ").as("ts"))
      .filter(size(col("ts")) > 0 && col("ts").getItem(0) =!= "")
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, cast(ceil(size(ts) / $paraLen.0) as int) - 1),
           |  i -> array_join(slice(ts, i * $paraLen + 1, $paraLen), ' '))"""
          .stripMargin)))
      .toDF("doc_id", "pos", "para")
  }

  /** DuckDB oracle for [[paragraphDedup]]: same segmentation via
    * `list_transform` + list slicing, the survivor rule as a
    * `row_number` window (fine at oracle scale), reassembly as an
    * ordered `string_agg`. */
  def paragraphDedupOracleSql(paraLen: Int = 8): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
       |    AS ts
       |  FROM documents),
       |ok AS (SELECT * FROM toks WHERE len(ts) > 0 AND ts[1] <> ''),
       |plist AS (
       |  SELECT doc_id,
       |    list_transform(range(CAST(ceil(len(ts) / $paraLen.0) AS BIGINT)),
       |      i -> array_to_string(
       |        ts[CAST(i * $paraLen + 1 AS BIGINT):
       |           CAST(i * $paraLen + $paraLen AS BIGINT)], ' ')) AS ps
       |  FROM ok),
       |paras AS (
       |  SELECT doc_id, unnest(range(len(ps))) AS pos, unnest(ps) AS para
       |  FROM plist),
       |ranked AS (
       |  SELECT doc_id, pos, para,
       |    row_number() OVER (PARTITION BY md5(para)
       |                       ORDER BY doc_id, pos) AS rn
       |  FROM paras)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |  string_agg(para, ' ' ORDER BY pos) AS text_kept
       |FROM ranked WHERE rn = 1 GROUP BY doc_id""".stripMargin

  /** DuckDB oracle for the streaming paragraph dedup (q215): the same
    * segmentation, reduced to the distinct paragraph-fingerprint set —
    * the delivery-order-invariant survivor formulation the multi-batch
    * gate certifies. */
  def paragraphFingerprintsOracleSql(paraLen: Int = 8): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
       |    AS ts
       |  FROM documents WHERE text IS NOT NULL),
       |ok AS (SELECT * FROM toks WHERE len(ts) > 0 AND ts[1] <> ''),
       |plist AS (
       |  SELECT doc_id,
       |    list_transform(range(CAST(ceil(len(ts) / $paraLen.0) AS BIGINT)),
       |      i -> array_to_string(
       |        ts[CAST(i * $paraLen + 1 AS BIGINT):
       |           CAST(i * $paraLen + $paraLen AS BIGINT)], ' ')) AS ps
       |  FROM ok)
       |SELECT DISTINCT md5(unnest(ps)) AS pfp FROM plist""".stripMargin
}
