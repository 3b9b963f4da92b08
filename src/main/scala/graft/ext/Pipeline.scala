package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The end-to-end corpus-cleaning pipeline, composed from the individual
  * operators that are each oracle-checked on their own:
  *
  *   quality filter (token band + stopword-ratio cap, q45)
  *   → exact near-dup pairs among kept docs (prefix-filter Jaccard, q28)
  *   → cluster survivors (hash-min label propagation, q39)
  *   → fixed-length token chunks of the surviving docs (q58)
  *
  * This is the "raw crawl in, training sequences out" path a data
  * pipeline actually runs, and its gate pins the COMPOSITION: filters
  * applied in the right order, dedup restricted to the filtered corpus,
  * chunking only of survivors. Restricting the globally-cached pair set
  * to kept×kept pairs is exact — the Jaccard predicate is pairwise, so
  * the pair set over a doc subset equals the full pair set filtered to
  * that subset (recall of the prefix filter is exactly 1 either way).
  *
  * Scale: adds nothing beyond its parts — the pair table is the shared
  * per-(session, dir, threshold) persist, the kept set joins map-side
  * (semi), label propagation is the same co-partitioned loop, and
  * chunking is shuffle-free.
  */
object Pipeline {

  /** Per-source corpus card — the "data card" summary a pipeline
    * publishes with every corpus release: document and token volumes,
    * duplicate rate (normalized fingerprints), and quality-pass counts,
    * all integer-exact so the report is bit-stable across engines.
    *
    * Scale: one documents scan into one groupBy(source) with a distinct
    * aggregate — Catalyst's Expand plan, same shape as q71; source
    * cardinality is bounded, so the result is dashboard-sized. */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    val fp = md5(TextAnalysis.normalized(col("text")))
    val nTokens =
      expr("size(regexp_extract_all(text, '([A-Za-z0-9]+)', 1))")
        .cast("long")
    val nStop = expr(
      "size(regexp_extract_all(lower(text), " +
      "'\\\\b(the|a|an|and|of|to|in|is|it|for)\\\\b', 1))").cast("long")
    Tables.load(spark, dir, "documents")
      .select(col("source"), fp.as("fp"),
              nTokens.as("n_tokens"), nStop.as("n_stop"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("total_tokens"),
           count_distinct(col("fp")).as("n_fingerprints"),
           (count(lit(1)) - count_distinct(col("fp"))).as("n_dup_docs"),
           sum(when(col("n_tokens") >= 20 && col("n_tokens") <= 1000 &&
                    col("n_stop") * 10 <= col("n_tokens") * 6, 1L)
                 .otherwise(0L)).as("n_quality_pass"))
  }

  val corpusCardOracleSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  count(DISTINCT fp) AS n_fingerprints,
      |  count(*) - count(DISTINCT fp) AS n_dup_docs,
      |  CAST(sum(CASE WHEN n_tokens >= 20 AND n_tokens <= 1000
      |                 AND n_stop * 10 <= n_tokens * 6
      |            THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass
      |FROM (SELECT source,
      |  md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
      |    AS n_tokens,
      |  CAST(len(regexp_extract_all(lower(text),
      |    '\b(the|a|an|and|of|to|in|is|it|for)\b')) AS BIGINT) AS n_stop
      | FROM documents) t
      |GROUP BY source""".stripMargin

  /** Per-(session, dir, threshold) memo of [[survivingDocs]] (r16,
    * guide §2.4): q63 and q125 share the whole quality→pairs→label-prop
    * front, but each gate re-ran the iterative propagation loop over
    * the kept-restricted pair set. The first consumer now persists the
    * (tiny — ≤ |docs| ids) survivor frame and the second reads it.
    * Cleared by [[Memo.clearAll]], which the bench/probe harnesses
    * run between passes. */
  private val survivorsCache =
    Memo.table[(String, Double), DataFrame]("pipeline.survivors")

  def clearMemos(): Unit = Memo.clearAll()

  // lazy persist, no eager count: the first consumer's own action
  // fills the cache as a side effect (an eager count here charged
  // q63 one extra job — +0.3 s on a canary-member gate), and the
  // second consumer reads the cached frame either way
  private[ext] def survivingDocs(spark: SparkSession, dir: String,
                                 threshold: Double = 0.8): DataFrame =
    survivorsCache.getOrElseUpdate(spark, (dir, threshold))(
      survivingDocsUncached(spark, dir, threshold)
        .transform(Memo.persist))

  private def survivingDocsUncached(spark: SparkSession, dir: String,
                                    threshold: Double): DataFrame = {
    val kept = TextAnalysis.qualityFilter(spark, dir).select("doc_id")
    val pairs = Dedup.jaccardPairsCached(spark, dir, threshold)
      .join(kept.withColumnRenamed("doc_id", "a_id"), Seq("a_id"),
            "left_semi")
      .join(kept.withColumnRenamed("doc_id", "b_id"), Seq("b_id"),
            "left_semi")
      .select(col("a_id"), col("b_id"))
    val labels = Dedup.clusterLabels(pairs)
    kept
      .join(labels, kept("doc_id") === labels("id"), "left_outer")
      .select(col("doc_id"),
              coalesce(col("label"), col("doc_id")).as("cluster"))
      .filter(col("doc_id") === col("cluster"))
      .select("doc_id")
  }

  def cleanCorpus(spark: SparkSession, dir: String,
                  threshold: Double = 0.8,
                  seqLen: Int = 32, stride: Int = 16): DataFrame =
    Chunking.chunksOf(
      Tables.load(spark, dir, "documents")
        .join(survivingDocs(spark, dir, threshold), Seq("doc_id"),
              "left_semi"),
      seqLen, stride)

  /** END-TO-END training-data export manifest — the capstone
    * composition a pipeline team actually ships: quality filter →
    * exact near-dup removal (cluster min kept) → deterministic
    * sequence packing of the survivors → one manifest row per source
    * with doc/token/pack totals and an ORDER-SENSITIVE layout checksum
    * (Σ start_off · (doc_id mod 1000)) that pins every document's
    * global token offset. A wrong filter, a lost dup, or a
    * perturbed packing order each break a different column.
    *
    * Scale: strictly the composition of its audited parts — the q45
    * filter scan, the q28 prefix-filter pair join, the q39
    * co-partitioned label-prop, the q64 hierarchical prefix sum. The
    * manifest itself is a #sources-bounded aggregation. */
  def exportManifest(spark: SparkSession, dir: String,
                     threshold: Double = 0.8,
                     seqLen: Int = 256): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .join(survivingDocs(spark, dir, threshold), Seq("doc_id"),
            "left_semi")
    // packing sized from the (upper-bounding) raw table bytes — the
    // survivor semi-join only shrinks the stream
    Packing.packedDocsOf(docs, seqLen, numParts =
      Some(graft.ops.Partitioning.forTable(spark, dir, "documents", 0.5)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_toks")).as("total_tokens"),
           (max(col("pack_last")) + 1).as("n_packs"),
           sum(col("start_off") * (col("doc_id") % 1000)).as("layout_chk"))
  }

  /** The survivor CTE prefix (quality filter → pair join → recursive
    * closure → cluster-min keep) shared by the q63 and q125 oracles. */
  private def survivorCtes(threshold: Double): String =
    s"""stats AS (SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
       |    AS n_tokens,
       |  CAST(len(regexp_extract_all(lower(text),
       |    '\\b(the|a|an|and|of|to|in|is|it|for)\\b')) AS BIGINT)
       |    AS n_stop
       | FROM documents),
       |kept AS (SELECT doc_id FROM stats
       |  WHERE n_tokens >= 20 AND n_tokens <= 1000
       |    AND n_stop * 10 <= n_tokens * 6),
       |d AS (SELECT doc_id, source,
       |  list_distinct(string_split(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
       |    AS ws
       | FROM documents WHERE doc_id IN (SELECT doc_id FROM kept)),
       |p AS (SELECT a_id, b_id FROM (
       | SELECT l.doc_id AS a_id, r.doc_id AS b_id,
       |  CAST(len(list_intersect(l.ws, r.ws)) AS DOUBLE) /
       |   (len(l.ws) + len(r.ws) - len(list_intersect(l.ws, r.ws)))
       |   AS jac
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
       |surv AS (SELECT k.doc_id FROM kept k
       |  LEFT JOIN lab ON k.doc_id = lab.id
       |  WHERE k.doc_id = coalesce(lab.label, k.doc_id))""".stripMargin

  /** DuckDB oracle: the composition of the q45/q28/q39/q58 oracle
    * fragments over the same tables. */
  def cleanCorpusOracleSql(threshold: Double = 0.8,
                           seqLen: Int = 32, stride: Int = 16): String =
    s"""WITH RECURSIVE
       |${survivorCtes(threshold)},
       |toks AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
       |    AS ts
       |  FROM documents WHERE doc_id IN (SELECT doc_id FROM surv)),
       |n AS (
       |  SELECT doc_id, ts, len(ts) AS l,
       |    CASE WHEN len(ts) <= $seqLen THEN 1
       |         ELSE (len(ts) - $seqLen + $stride - 1) // $stride + 1
       |    END AS nc
       |  FROM toks WHERE len(ts) > 0 AND ts[1] <> '')
       |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       |  CAST(i * $stride + 1 AS BIGINT) AS start_tok,
       |  CAST(least(l - i * $stride, $seqLen) AS BIGINT)
       |    AS n_chunk_tokens,
       |  md5(array_to_string(
       |    ts[i * $stride + 1 : least(i * $stride + $seqLen, l)], ' '))
       |    AS chunk_hash
       |FROM (SELECT doc_id, ts, l,
       |        unnest(generate_series(0, nc - 1)) AS i
       |      FROM n)""".stripMargin

  /** DuckDB oracle for [[exportManifest]]: the survivor CTEs + the q64
    * plain-window prefix sum + the per-source manifest rollup. */
  def exportManifestOracleSql(threshold: Double = 0.8,
                              seqLen: Int = 256): String =
    s"""WITH RECURSIVE
       |${survivorCtes(threshold)},
       |ptoks AS (
       |  SELECT doc_id, source,
       |    string_split(trim(regexp_replace(regexp_replace(
       |      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
       |      AS ts
       |  FROM documents WHERE doc_id IN (SELECT doc_id FROM surv)),
       |pn AS (
       |  SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS n_toks
       |  FROM ptoks WHERE len(ts) > 0 AND ts[1] <> ''),
       |poff AS (
       |  SELECT doc_id, source, n_toks,
       |    CAST(coalesce(sum(n_toks) OVER (
       |      PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS start_off
       |  FROM pn)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       |  CAST(max((start_off + n_toks - 1) // $seqLen) + 1 AS BIGINT)
       |    AS n_packs,
       |  CAST(sum(start_off * (doc_id % 1000)) AS BIGINT) AS layout_chk
       |FROM poff GROUP BY source""".stripMargin
}
