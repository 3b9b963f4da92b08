package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus mixture sampling for training-data pipelines: draw a
  * DIFFERENT deterministic fraction of each source, so a dataset mix
  * ("75% of the curated sources, 25% of the crawl") is reproducible
  * across runs, machines, and engines.
  *
  * The sampling key is a cryptographic hash of the stable row id — not
  * `rand()` (not reproducible across partitionings) and not the raw id
  * (ids correlate with crawl order). A row is kept when the first hex
  * digit of md5(doc_id) falls below the source's threshold digit, giving
  * per-source rates in 1/16 steps that any engine with md5 reproduces
  * bit-for-bit (the DuckDB oracle runs the identical predicate).
  *
  * Scale: pure map-side filter — no shuffle, no state; composes with
  * any downstream pipeline. Per-row cost is one md5 of a short string.
  */
object Sampling {

  /** The mixture keep predicate — a pure row-local expression shared
    * by the batch sample, the audit view, and the streaming ingest
    * pipeline (q223), so the policy cannot drift between them. The
    * policy: keep when the first hex digit of md5(doc_id) falls below
    * the source's threshold digit — short source names ("src0"…)
    * sample at 12/16 = 75%, longer ones ("src10"…) at 4/16 = 25%, a
    * stand-in mixture; real pipelines pass a rate table. */
  private[graft] def mixtureKeep: org.apache.spark.sql.Column =
    substring(md5(col("doc_id").cast("string")), 1, 1) <
      when(length(col("source")) <= 4, lit("c")).otherwise(lit("4"))

  def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .filter(mixtureKeep)
      .select(col("doc_id"), col("source"))

  /** Per-source kept/total counts for the same mixture — the audit view
    * a pipeline logs next to the sampled corpus. */
  def mixtureRates(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
           sum(when(mixtureKeep, 1L).otherwise(0L)).as("n_kept"))

  /** Temperature-based mixture reweighting: sampling weight per source
    * ∝ n_docs^alpha, normalized — alpha < 1 upweights small curated
    * sources against the crawl (the standard multilingual/multi-source
    * temperature trick). Pure arithmetic over the per-source count
    * table (bounded: one row per source), so the only corpus-sized work
    * is the counting shuffle. Rates are rounded to 6 decimals for
    * engine comparison (pow and a bounded sum are the only float ops). */
  def temperatureRates(spark: SparkSession, dir: String,
                       alpha: Double = 0.5): DataFrame = {
    val w = pow(col("n_docs").cast("double"), alpha)
    Tables.load(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("rate",
        round(w / sum(w).over(Window.partitionBy()), 6))
      .select(col("source"), col("n_docs"), col("rate"))
  }

  val temperatureRatesOracleSql: String =
    """SELECT source, count(*) AS n_docs,
      |  round(pow(count(*), 0.5) /
      |        sum(pow(count(*), 0.5)) OVER (), 6) AS rate
      |FROM documents GROUP BY source""".stripMargin

  // ---- deterministic k-per-source sample (hash-ordered reservoir) ---

  /** Row shape for the typed heap pass (public: Catalyst's generated
    * deserializer must be able to construct it). */
  case class KeyedDoc(source: String, doc_id: Long, skey: String)

  /** Deterministic k-per-source sample: the k documents with the
    * smallest md5(doc_id) per source — a reproducible "reservoir"
    * (re-running, re-partitioning, or re-ingesting the corpus yields
    * the same sample, unlike rand()-based reservoirs).
    *
    * A naive `row_number() OVER (PARTITION BY source ...)` sorts every
    * row of a source in one task. This computes the same result with a
    * bounded-memory partial top-k per PARTITION first (a k-sized heap
    * per source per partition, the map-side combine of top-k), so the
    * final rank window sees at most partitions × k rows per source —
    * the same hierarchical trick as [[graft.ext.Packing]]. Spec asserts
    * equality with the naive window. */
  def reservoirSample(spark: SparkSession, dir: String,
                      k: Int = 20): DataFrame = {
    require(k > 0, "k must be positive")
    import spark.implicits._
    val keyed = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
              md5(col("doc_id").cast("string")).as("skey"))
      .as[KeyedDoc]
    val partial = keyed.mapPartitions { rows =>
      // per-source max-heap of size k: evict the LARGEST key so the k
      // smallest survive
      val heaps = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.PriorityQueue[KeyedDoc]]
      implicit val ord: Ordering[KeyedDoc] =
        Ordering.by(d => (d.skey, d.doc_id))
      rows.foreach { d =>
        val h = heaps.getOrElseUpdate(d.source,
          scala.collection.mutable.PriorityQueue.empty[KeyedDoc])
        if (h.size < k) h.enqueue(d)
        else if (ord.lt(d, h.head)) { h.dequeue(); h.enqueue(d) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
    val w = Window.partitionBy(col("source"))
      .orderBy(col("skey"), col("doc_id"))
    partial.toDF()
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("source"), col("doc_id"), col("rnk"))
  }

  def reservoirSampleOracleSql(k: Int = 20): String =
    s"""SELECT source, doc_id, rnk FROM (
       |  SELECT source, doc_id,
       |    CAST(row_number() OVER (
       |      PARTITION BY source
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
       |      AS rnk
       |  FROM documents)
       |WHERE rnk <= $k""".stripMargin

  /** Deterministic weighted-interleave curriculum order — STRIDE
    * SCHEDULING (Waldspurger & Weihl, OSDI 1994) applied to corpus
    * mixing: each source s gets weight w_s; its r-th document (in a
    * seeded md5 order, so "r-th" is reproducible and crawl-order-free)
    * is assigned virtual time r / w_s, and the global training order is
    * ascending virtual time. Over any prefix of the schedule, source
    * shares converge to w_s / Σw — the "sample sources proportionally
    * to weights, deterministically, with no RNG state" every mixture
    * training loop wants (cf. the data-mixture schedules in LLM
    * pretraining reports).
    *
    * Weight policy here (a stand-in, like mixtureSample's): source
    * "srcN" gets weight N % 3 + 1 ∈ {1,2,3}. vtime = r / w is one IEEE
    * division of an exact int by a small exact int — deterministic in
    * both engines; ties (r=2,w=2 vs r=1,w=1) break on (source, doc_id).
    *
    * Scale: the per-source md5 rank is one keyed shuffle; the gate
    * emits the first `k` schedule slots via TakeOrdered (no global
    * sort). A full materialization would `repartitionByRange` on vtime
    * + sortWithinPartitions — the q100 sharding shape — instead of the
    * final limit; the window over the k-row result is driver-scale by
    * construction. */
  def mixtureOrder(spark: SparkSession, dir: String,
                   k: Int = 100): DataFrame = {
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val weight = expr("CAST(substring(source, 4) AS INT) % 3 + 1")
      .cast("double")
    val slots = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("r", row_number().over(wSrc))
      .withColumn("vtime", col("r").cast("double") / weight)
      .orderBy(col("vtime"), col("source"), col("doc_id"))
      .limit(k)
    val wPos = Window.orderBy(col("vtime"), col("source"), col("doc_id"))
    slots.withColumn("pos", row_number().over(wPos).cast("long"))
      .select(col("pos"), col("doc_id"), col("source"), col("vtime"))
  }

  def mixtureOrderOracleSql(k: Int = 100): String =
    s"""SELECT CAST(row_number() OVER (ORDER BY vtime, source, doc_id)
       |       AS BIGINT) AS pos,
       |  doc_id, source, vtime
       |FROM (
       |  SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS DOUBLE)
       |      / (CAST(substr(source, 4) AS INT) % 3 + 1) AS vtime
       |  FROM documents)
       |ORDER BY vtime, source, doc_id
       |LIMIT $k""".stripMargin

  // ---- length-staged curriculum binning -----------------------------

  /** Length-curriculum deciles — the binning behind length-staged
    * training schedules (short-to-long curricula): rank every document
    * globally by (token count, doc_id) and cut the ranking into
    * `buckets` equal-rank bins via `bucket = ⌊buckets·(rank−1)/n⌋`
    * (an explicit closed form rather than `ntile`, whose
    * remainder-distribution rule differs between engines' docs — the
    * formula is unambiguous and replayed verbatim by the oracle).
    *
    * A global `row_number()` window is the single-task scalability trap
    * (q64's scaladoc); the rank here is computed DISTRIBUTED, the same
    * hierarchical discipline as Packing's prefix sum:
    *   1. per-length counts → running bases over the DISTINCT-lengths
    *      table (bounded by the length domain, not the corpus);
    *   2. intra-length `row_number` partitioned by the length value;
    *   3. rank = base + intra. Corpus total rides along as a broadcast
    *      1-row frame.
    *
    * Output: (bucket, n_docs, min_tokens, max_tokens, total_tokens) —
    * integer-exact. */
  def lengthCurriculum(spark: SparkSession, dir: String,
                       buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTok = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
              expr("size(regexp_extract_all(text, '([A-Za-z0-9]+)', 1))")
                .cast("long").as("n_tokens"))
    val bases = nTok.groupBy(col("n_tokens")).agg(count(lit(1)).as("c"))
      .withColumn("base", coalesce(
        sum(col("c")).over(Window.orderBy(col("n_tokens"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n_tokens").as("bt"), col("base"))
    val intra = nTok.withColumn("intra", row_number().over(
      Window.partitionBy(col("n_tokens")).orderBy(col("doc_id"))).cast("long"))
    val total = nTok.agg(count(lit(1)).as("n"))
    intra.join(bases, col("n_tokens") === col("bt"))
      .crossJoin(broadcast(total))
      .withColumn("rk", col("base") + col("intra"))
      .withColumn("bucket", expr(s"($buckets * (rk - 1)) div n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           min(col("n_tokens")).as("min_tokens"),
           max(col("n_tokens")).as("max_tokens"),
           sum(col("n_tokens")).as("total_tokens"))
  }

  def lengthCurriculumOracleSql(buckets: Int = 10): String =
    s"""WITH n AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, n_tokens,
       |    row_number() OVER (ORDER BY n_tokens, doc_id) AS rk,
       |    count(*) OVER () AS n
       |  FROM n)
       |SELECT ($buckets * (rk - 1)) // n AS bucket,
       |  count(*) AS n_docs,
       |  CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       |  CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM r GROUP BY 1""".stripMargin

  /** Capped-proportional mixture plan — the data-mixing recipe a
    * pretraining run actually consumes: each source's token TARGET is
    * its proportional share of the budget, capped (no source may
    * dominate), and the repetition factor (`epochs = ⌈target/actual⌉`)
    * says how many passes over an underrepresented source deliver its
    * target. ALL integer arithmetic (shares via BIGINT `div`), so the
    * plan is bit-deterministic and oracle-replayable — unlike the
    * float-temperature q73 rates, this is the discrete allocation the
    * sharding step executes.
    *
    * Scale: one counting shuffle folds the corpus to the bounded
    * per-source table; the allocation is arithmetic on that table.
    * Sources whose documents tokenize to ZERO tokens are excluded
    * before the allocation: they contribute nothing to the mixture, and
    * `epochs = ⌈target/n_tokens⌉` would divide by zero on them — NULL
    * in Spark's `div` but an error in DuckDB, i.e. silent engine
    * divergence on degenerate input (the excluded-identically-in-both
    * rule every gate follows). */
  def mixturePlan(spark: SparkSession, dir: String,
                  budgetTokens: Long = 50000L,
                  capTokens: Long = 5000L): DataFrame = {
    val counts = Tables.load(spark, dir, "documents")
      .select(col("source"),
              expr("size(regexp_extract_all(text, '([A-Za-z0-9]+)', 1))")
                .cast("long").as("t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
      .filter(col("n_tokens") > 0L)
    val total = counts.agg(sum(col("n_tokens")).as("total_tokens"))
    // the proportional share multiplies corpus-scale token counts by
    // the budget BEFORE dividing — in int64 that wraps silently once
    // n_tokens × budget exceeds 2^63 (a 10^13-token source with a
    // 10^12-token budget), while DuckDB errors; DECIMAL(38,0) keeps
    // the product exact to 10^38 and the floor-div result is BIGINT-
    // small by construction (≤ budget)
    counts.crossJoin(broadcast(total))
      .withColumn("target_tokens",
        least(lit(capTokens),
              expr(s"CAST((CAST(n_tokens AS DECIMAL(38,0)) * " +
                   s"${budgetTokens}L) div total_tokens AS BIGINT)")))
      .withColumn("epochs",
        expr("(target_tokens + n_tokens - 1) div n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
              col("target_tokens"), col("epochs"))
  }

  /** Per-source token-budget capping — the ENACTMENT of a mixture
    * plan's `target_tokens` at the document level: each source keeps
    * its documents in deterministic doc_id order until the cap is
    * exhausted (a document is kept iff it fits ENTIRELY inside the
    * budget — no partial documents). This is the standard over-
    * represented-domain cap (C4 / Gopher keep per-domain shares
    * bounded) expressed as an exact, replayable selection rather than
    * a probabilistic downsample: re-running on a re-partitioned corpus
    * yields the identical keep set.
    *
    * The decision needs each document's running token offset within
    * its source — a prefix sum over an UNBOUNDED partition, which is
    * exactly [[Packing.packedDocs]]'s job; this operator reuses that
    * hierarchical computation (bucketed partial sums, no task ever
    * windows a whole source) and adds one integer comparison. */
  def sourceTokenCap(spark: SparkSession, dir: String,
                     capTokens: Long = 2000L): DataFrame =
    Packing.packedDocs(spark, dir)
      .select(col("doc_id"), col("source"), col("n_toks"),
              col("start_off"),
              (col("start_off") + col("n_toks") <= capTokens)
                .cast("int").cast("long").as("kept"))

  /** DuckDB oracle for [[sourceTokenCap]] — the plain single-window
    * prefix sum (same semantics, oracle-scale execution). */
  def sourceTokenCapOracleSql(capTokens: Long = 2000L): String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    string_split(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
       |      AS ts
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS n_toks
       |  FROM toks WHERE len(ts) > 0 AND ts[1] <> ''),
       |off AS (
       |  SELECT doc_id, source, n_toks,
       |    CAST(coalesce(sum(n_toks) OVER (
       |      PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS start_off
       |  FROM n)
       |SELECT doc_id, source, n_toks, start_off,
       |  CAST(start_off + n_toks <= $capTokens AS BIGINT) AS kept
       |FROM off""".stripMargin

  /** Mixture-epoch EXPANSION — the document-level enactment of a
    * capped-proportional plan (q162's allocation discipline with
    * scale-relative knobs): each source's token target is
    * `min(total·capNum/capDen, n_tokens·budgetX)`; the source's docs
    * appear once per FULL epoch (`target div n_tokens` of them), and
    * the remainder budget keeps docs in doc_id order while they fit
    * entirely (the q212 prefix rule) as one final PARTIAL epoch. This
    * is the repeated-corpus materialization a trainer's shard step
    * consumes: every (doc, epoch) row the run will see, exactly once.
    *
    * Knobs are RELATIVE to the corpus (multiples of total tokens), not
    * absolute counts, so the same defaults exercise full-epoch
    * repetition AND the cap at every scale decade — with near-uniform
    * sources, uncapped sources repeat budgetX times while sources above
    * capNum/capDen·total÷budgetX of the corpus are capped into a
    * partial epoch.
    *
    * Scale: [[Packing.packedDocs]]'s hierarchical prefix sum (no
    * whole-source window task) + a bounded per-source plan broadcast;
    * the explode multiplies rows by the plan's epochs — output volume
    * IS the training budget, by design (at 100 TB one would fuse this
    * with the q100 shard shuffle rather than land it, but the row set
    * is identical). All-integer arithmetic; DECIMAL(38,0) guards the
    * share products exactly as [[mixturePlan]]. */
  def epochExpand(spark: SparkSession, dir: String,
                  budgetX: Int = 2, capNum: Int = 1,
                  capDen: Int = 10): DataFrame =
    epochExpandOf(Tables.load(spark, dir, "documents"),
      budgetX, capNum, capDen,
      Some(graft.ops.Partitioning.forTable(spark, dir, "documents", 0.5)))

  /** Same operator over any (doc_id, source, text) frame. */
  def epochExpandOf(documents: DataFrame,
                    budgetX: Int = 2, capNum: Int = 1,
                    capDen: Int = 10,
                    numParts: Option[Int] = None): DataFrame = {
    require(budgetX > 0 && capNum > 0 && capDen > 0,
            "budgetX, capNum, capDen must be positive")
    val packed = Packing
      .packedDocsOf(documents, numParts = numParts)
      .select(col("doc_id"), col("source"), col("n_toks"),
              col("start_off"))
    val counts = packed.groupBy(col("source"))
      .agg(sum(col("n_toks")).as("n_tokens"))
    val total = counts.agg(sum(col("n_tokens")).as("total_tokens"))
    val plan = counts.crossJoin(broadcast(total))
      .withColumn("target_tokens",
        least(
          expr(s"CAST((CAST(total_tokens AS DECIMAL(38,0)) * $capNum)" +
               s" div $capDen AS BIGINT)"),
          expr(s"CAST(CAST(n_tokens AS DECIMAL(38,0)) * $budgetX" +
               s" AS BIGINT)")))
      .withColumn("full_epochs", expr("target_tokens div n_tokens"))
      .withColumn("rem_tokens",
        col("target_tokens") - col("full_epochs") * col("n_tokens"))
      .select(col("source"), col("full_epochs"), col("rem_tokens"))
    val j = packed.join(broadcast(plan), "source")
    val fullRows = j.filter(col("full_epochs") > 0)
      .select(col("doc_id"), col("source"),
              explode(sequence(lit(0L), col("full_epochs") - 1))
                .as("epoch"),
              col("n_toks"))
    val partRows = j.filter(col("rem_tokens") > 0 &&
        col("start_off") + col("n_toks") <= col("rem_tokens"))
      .select(col("doc_id"), col("source"),
              col("full_epochs").as("epoch"), col("n_toks"))
    fullRows.unionByName(partRows)
  }

  /** Epoch-aware TRAINING ORDER — the global schedule over the
    * expanded (doc, epoch) stream: each row's position is a seeded
    * hash of (doc_id, epoch) JOINTLY, so the standard
    * shuffle-each-epoch-independently discipline falls out of the key
    * itself — the same document lands at uncorrelated positions in
    * each of its epochs, with no per-epoch RNG state to carry. The
    * gate emits the first `topK` schedule slots (TakeOrdered — never a
    * full sort, the q112 gate pattern); full materialization is a
    * range partition on the key (the q100 shape). Pure function of
    * (doc_id, epoch, plan knobs): identical on any partitioning and
    * replayable by the oracle. */
  def epochOrder(spark: SparkSession, dir: String,
                 budgetX: Int = 2, capNum: Int = 1, capDen: Int = 10,
                 topK: Int = 100): DataFrame = {
    val exp = epochExpand(spark, dir, budgetX, capNum, capDen)
    val key = conv(substring(md5(concat(
        col("doc_id").cast("string"), lit(":"),
        col("epoch").cast("string"))), 1, 15), 16, 10).cast("long")
    val top = exp.withColumn("k", key)
      .orderBy(col("k"), col("doc_id"), col("epoch")).limit(topK)
    top.withColumn("pos",
        row_number().over(Window.orderBy(
          col("k"), col("doc_id"), col("epoch"))).cast("long"))
      .select(col("pos"), col("doc_id"), col("source"), col("epoch"))
  }

  /** DuckDB oracle for [[epochOrder]]: the expansion replay wrapped in
    * the same md5-fold key and row_number cut. */
  def epochOrderOracleSql(budgetX: Int = 2, capNum: Int = 1,
                          capDen: Int = 10, topK: Int = 100): String =
    s"""WITH exp AS (
       |${epochExpandOracleSql(budgetX, capNum, capDen)}),
       |keyed AS (
       |  SELECT doc_id, source, epoch,
       |    list_reduce([CAST(strpos('0123456789abcdef', substr(
       |        md5(CAST(doc_id AS VARCHAR) || ':' ||
       |            CAST(epoch AS VARCHAR)), p, 1)) - 1
       |      AS BIGINT) for p in range(1, 16)],
       |      (a, b) -> a * 16 + b) AS k
       |  FROM exp)
       |SELECT pos, doc_id, source, epoch FROM (
       |  SELECT doc_id, source, epoch,
       |    CAST(row_number() OVER (ORDER BY k, doc_id, epoch) AS BIGINT)
       |      AS pos
       |  FROM keyed) t
       |WHERE pos <= $topK""".stripMargin

  /** DuckDB oracle for [[epochExpand]] — the plain single-window prefix
    * sum plus the integer plan and a range() unnest per full epoch. */
  def epochExpandOracleSql(budgetX: Int = 2, capNum: Int = 1,
                           capDen: Int = 10): String =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    string_split(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
       |      AS ts
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS n_toks
       |  FROM toks WHERE len(ts) > 0 AND ts[1] <> ''),
       |off AS (
       |  SELECT doc_id, source, n_toks,
       |    CAST(coalesce(sum(n_toks) OVER (
       |      PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS start_off
       |  FROM n),
       |c AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |      FROM n GROUP BY source),
       |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM c),
       |plan AS (
       |  SELECT source, n_tokens,
       |    CAST(least((CAST(total_tokens AS HUGEINT) * $capNum) // $capDen,
       |               CAST(n_tokens AS HUGEINT) * $budgetX) AS BIGINT)
       |      AS target_tokens
       |  FROM c, t),
       |p2 AS (
       |  SELECT source, n_tokens, target_tokens,
       |    CAST(target_tokens // n_tokens AS BIGINT) AS full_epochs,
       |    CAST(target_tokens - (target_tokens // n_tokens) * n_tokens
       |         AS BIGINT) AS rem_tokens
       |  FROM plan),
       |fullr AS (
       |  SELECT o.doc_id, o.source,
       |    CAST(unnest(range(p.full_epochs)) AS BIGINT) AS epoch, o.n_toks
       |  FROM off o JOIN p2 p USING (source) WHERE p.full_epochs > 0),
       |partr AS (
       |  SELECT o.doc_id, o.source,
       |    CAST(p.full_epochs AS BIGINT) AS epoch, o.n_toks
       |  FROM off o JOIN p2 p USING (source)
       |  WHERE p.rem_tokens > 0 AND o.start_off + o.n_toks <= p.rem_tokens)
       |SELECT doc_id, source, epoch, n_toks FROM fullr
       |UNION ALL
       |SELECT doc_id, source, epoch, n_toks FROM partr""".stripMargin

  def mixturePlanOracleSql(budgetTokens: Long = 50000L,
                           capTokens: Long = 5000L): String =
    s"""WITH c AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9]+')))
       |         AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source
       |  HAVING sum(len(regexp_extract_all(text, '[A-Za-z0-9]+'))) > 0),
       |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM c)
       |SELECT source, n_docs, n_tokens,
       |  CAST(least($capTokens, (CAST(n_tokens AS HUGEINT)
       |    * $budgetTokens) // total_tokens) AS BIGINT) AS target_tokens,
       |  CAST((least($capTokens, (CAST(n_tokens AS HUGEINT)
       |      * $budgetTokens) // total_tokens)
       |    + n_tokens - 1) // n_tokens AS BIGINT) AS epochs
       |FROM c, t""".stripMargin
}
