package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD'03 — the MOSS local fingerprinting algorithm): hash every
  * k-gram, slide a window of w consecutive gram hashes, select each
  * window's minimum — the selected set is a position-robust fingerprint
  * with guaranteed detection of matches of length >= w + k - 1.
  *
  * Engine-exactness: the gram "hash" is the first 16 hex chars of the
  * md5 (64 bits — dedup-grade; lexicographic min over hex strings is
  * identical in Spark and DuckDB, no integer-hash parity problem, and
  * halving the string width halves the bytes through every window and
  * join), and the window min is a plain ROWS window — both sides mirror
  * verbatim.
  *
  * Scale: one explode to (doc, pos, gram-hash) rows, one per-doc window
  * (partitions bounded by document length — arrival-bounded, never
  * corpus-bounded), one distinct-aggregate back to per-doc stats. The
  * cross-doc use (docs sharing selected fingerprints -> near-dup
  * candidates, bucketed by fingerprint value) composes on top without
  * any new shuffle shape — the spec exercises it. */
object Winnow {

  /** Per-doc (pos, gram md5) rows for word k-grams, via the codegen'd
    * [[graft.functions.StringNGrams]] (the interpreted
    * transform/sequence/slice lambda walk it replaces costs one boxed
    * tree-eval per gram). */
  private[ext] def gramHashesOf(docs: DataFrame, k: Int): DataFrame = {
    val words = split(TextAnalysis.normalized(col("text")), " ")
    docs
      .select(col("doc_id"), words.as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"), posexplode(
        graft.functions.StringNGrams.ngrams(col("ws"), k))
        .as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"),
              substring(md5(col("g")), 1, 16).as("gh"))
  }

  /** The winnowed fingerprint SET per doc: (doc_id, sel) distinct rows —
    * the cross-doc matching input (docs sharing a sel are candidates). */
  def selectedFingerprintsOf(docs: DataFrame,
                             k: Int = 3, w: Int = 4): DataFrame = {
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val nWin = Window.partitionBy(col("doc_id"))
    gramHashesOf(docs, k)
      .withColumn("n_grams", count(lit(1)).over(nWin))
      .withColumn("sel", min(col("gh")).over(win))
      .filter(col("pos") <= greatest(col("n_grams") - w, lit(0L)))
      .select(col("doc_id"), col("sel")).distinct()
  }

  /** Winnowed fingerprint stats per doc: total grams, selected distinct
    * fingerprints, their min and max (hex strings). k=3, w=4 defaults. */
  def fingerprints(spark: SparkSession, dir: String,
                   k: Int = 3, w: Int = 4): DataFrame = {
    val gh = gramHashesOf(Tables.load(spark, dir, "documents"), k)
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val nWin = Window.partitionBy(col("doc_id"))
    gh.withColumn("n_grams", count(lit(1)).over(nWin))
      // only full windows select (pos <= n_grams - w); a doc shorter
      // than w grams still yields one window at pos 0 (the whole doc)
      .withColumn("sel", min(col("gh")).over(win))
      .filter(col("pos") <= greatest(col("n_grams") - w, lit(0L)))
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"),
           count_distinct(col("sel")).as("n_fingerprints"),
           min(col("sel")).as("min_fp"),
           max(col("sel")).as("max_fp"))
  }

  /** Per-(session, dir, k, w) memo of the PERSISTED selection — the
    * `matches` plan reads the selection three times (df aggregate + both
    * sides of the self-join), so materializing it once is the same
    * shared-stage pattern as `Dedup.jaccardPairsCached`. (The stats gate
    * q83 recomputes from the scan instead: it also needs raw gram
    * counts, which the distinct selection no longer carries.) */
  private val selCache =
    Memo.table[(String, Int, Int), DataFrame]("winnow.selection")

  /** Drop memoized selections and their cached blocks (bench hook; the
    * drain is [[Memo.clearAll]]). */
  def clearMemos(): Unit = Memo.clearAll()

  private def selectedCached(spark: SparkSession, dir: String,
                             k: Int, w: Int): DataFrame =
    selCache.getOrElseUpdate(spark, (dir, k, w)) {
      // materialize inside a data-derived shuffle-partition scope:
      // ~2 winnowed 16-byte fingerprints per window position → ~8× the
      // parquet footprint in flight; floor = session conf, so a no-op
      // at gate scale
      val np = graft.ops.Partitioning.forTable(
        spark, dir, "documents", expansion = 8.0)
      graft.ops.Partitioning.materialized(spark, np)(
        selectedFingerprintsOf(
          Tables.load(spark, dir, "documents"), k, w))
    }

  /** Cross-doc MOSS matching: pairs of docs sharing >= minShared
    * winnowed fingerprints, with the shared count. Fingerprints more
    * common than dfCap docs are dropped first — the standard MOSS
    * "ignore ubiquitous fingerprints" lever, which is also what bounds
    * the bucket join at scale (without it a boilerplate gram shared by
    * 1M docs would create a 10^12-pair bucket; with it candidate volume
    * is <= dfCap * |fingerprints|).
    *
    * Scale: one fingerprint-keyed df aggregate, one semi-join filter,
    * one fingerprint-bucketed self-join (the candidate generator — same
    * bounded-bucket shape as LSH banding), one pair aggregate, all over
    * the persisted shared selection. */
  def matches(spark: SparkSession, dir: String,
              k: Int = 3, w: Int = 4,
              dfCap: Int = 100, minShared: Int = 2): DataFrame = {
    val sel = selectedCached(spark, dir, k, w)
    val rare = sel.groupBy(col("sel"))
      .agg(count(lit(1)).as("sdf"))
      .filter(col("sdf") <= dfCap)
      .select(col("sel"))
    val fpf = sel.join(rare, "sel")
    fpf.as("a").join(fpf.as("b"),
        col("a.sel") === col("b.sel") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  def matchesOracleSql(k: Int = 3, w: Int = 4,
                       dfCap: Int = 100, minShared: Int = 2): String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
       |    AS w FROM documents),
       |gh0 AS (
       |  SELECT doc_id, unnest([{'pos': i - 1,
       |    'gh': substr(md5(array_to_string(w[i:i+${k - 1}], ' ')), 1, 16)}
       |    for i in range(1, len(w) - ${k - 2})]) AS u
       |  FROM ws WHERE len(w) >= $k),
       |gh AS (SELECT doc_id, u.pos AS pos, u.gh AS gh FROM gh0),
       |sel0 AS (
       |  SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY doc_id) AS n_grams,
       |    min(gh) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS sel
       |  FROM gh),
       |fp AS (SELECT DISTINCT doc_id, sel FROM sel0
       |       WHERE pos <= greatest(n_grams - $w, 0)),
       |rare AS (SELECT sel FROM fp GROUP BY sel
       |         HAVING count(*) <= $dfCap),
       |fpf AS (SELECT fp.doc_id, fp.sel FROM fp JOIN rare USING (sel))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
       |FROM fpf a JOIN fpf b
       |  ON a.sel = b.sel AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared""".stripMargin

  def fingerprintsOracleSql(k: Int = 3, w: Int = 4): String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')
       |    AS w FROM documents),
       |gh0 AS (
       |  SELECT doc_id, unnest([{'pos': i - 1,
       |    'gh': substr(md5(array_to_string(w[i:i+${k - 1}], ' ')), 1, 16)}
       |    for i in range(1, len(w) - ${k - 2})]) AS u
       |  FROM ws WHERE len(w) >= $k),
       |gh AS (SELECT doc_id, u.pos AS pos, u.gh AS gh FROM gh0),
       |sel AS (
       |  SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY doc_id) AS n_grams,
       |    min(gh) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS sel
       |  FROM gh)
       |SELECT doc_id, max(n_grams) AS n_grams,
       |  count(DISTINCT sel) AS n_fingerprints,
       |  min(sel) AS min_fp, max(sel) AS max_fp
       |FROM sel
       |WHERE pos <= greatest(n_grams - $w, 0)
       |GROUP BY doc_id""".stripMargin
}
