package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Sequence packing — the step after chunking in an LM training
  * pipeline: documents are laid end-to-end in a deterministic order
  * (per source, ascending doc_id) and the concatenated token stream is
  * cut into fixed `seqLen` training sequences ("packs"). Each document
  * therefore has a global token offset and a span of packs it lands in;
  * the packer's whole job is computing those offsets — a prefix sum
  * over the corpus.
  *
  * A naive `sum() OVER (PARTITION BY source ORDER BY doc_id)` funnels
  * every document of a source through ONE task — the classic window
  * scalability trap (a source is not a bounded partition; at 100 TB one
  * source can be most of the corpus). This implementation computes the
  * same prefix sum hierarchically, the way a cluster should:
  *
  *   1. bucket documents by `doc_id div bucketSize` within each source;
  *   2. per-(source, bucket) token totals — one partial-agg shuffle over
  *      fine-grained keys (corpus/bucketSize rows out);
  *   3. a running sum over the bucket totals gives each bucket's base
  *      offset — this window sees only corpus/bucketSize rows (recurse
  *      the same trick if even that outgrows a task);
  *   4. intra-bucket running sum — windows partitioned by the
  *      fine-grained (source, bucket) key, so no task sees more than
  *      `bucketSize` rows;
  *   5. global offset = bucket base + intra-bucket offset; pack ids are
  *      then pure integer arithmetic.
  *
  * Everything is exact integer math, so the result is engine-exact and
  * oracle-checkable (the DuckDB oracle uses the plain single window —
  * same semantics, different execution).
  */
object Packing {

  def packedDocs(spark: SparkSession, dir: String,
                 seqLen: Int = 256, bucketSize: Int = 256): DataFrame =
    packedDocsOf(Tables.load(spark, dir, "documents"), seqLen, bucketSize,
      // the (source, bucket) exchange moves skinny token-count rows
      // (~40 bytes/doc vs the parquet text) — modest expansion, but at
      // 100× a fixed 32 would still bottleneck the intra-bucket window
      Some(graft.ops.Partitioning.forTable(spark, dir, "documents", 0.5)))

  /** Same operator over any (doc_id, source, text) frame. */
  def packedDocsOf(documents: DataFrame,
                   seqLen: Int = 256, bucketSize: Int = 256,
                   numParts: Option[Int] = None): DataFrame = {
    require(seqLen > 0 && bucketSize > 0,
            "seqLen and bucketSize must be positive")
    // token counts; same tokenization + empty-doc filter as Chunking
    val toks0 = documents
      .select(col("doc_id"), col("source"),
              split(TextAnalysis.normalized(col("text")), " ").as("ts"))
      .filter(size(col("ts")) > 0 && col("ts").getItem(0) =!= "")
      .select(col("doc_id"), col("source"),
              size(col("ts")).cast("long").as("n_toks"),
              (col("doc_id") / bucketSize).cast("long").as("bucket"))
    // one explicit data-derived (source, bucket) exchange serves BOTH
    // consumers (the bucket-total aggregate and the intra-bucket
    // window share the identical exchange node, so the tokenize scan
    // runs once instead of once per branch) and carries the derived
    // partition count into the declared plan — a conf scope cannot,
    // because the gate's action runs outside any scope
    val toks = numParts.fold(toks0)(n =>
      toks0.repartition(n, col("source"), col("bucket")))

    // per-bucket totals, then each bucket's base offset via a running
    // sum over the REDUCED stream (corpus/bucketSize rows)
    val bucketBases = toks
      .groupBy(col("source"), col("bucket"))
      .agg(sum(col("n_toks")).as("bucket_toks"))
      .withColumn("bucket_base",
        coalesce(
          sum(col("bucket_toks")).over(
            Window.partitionBy(col("source")).orderBy(col("bucket"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("source").as("b_source"), col("bucket").as("b_bucket"),
              col("bucket_base"))

    // intra-bucket running offsets: fine-grained window keys, bounded
    // rows per task by construction
    val intra = toks.withColumn("intra_off",
      coalesce(
        sum(col("n_toks")).over(
          Window.partitionBy(col("source"), col("bucket"))
            .orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))

    intra.join(bucketBases,
        intra("source") === col("b_source") &&
        intra("bucket") === col("b_bucket"))
      .withColumn("start_off", col("bucket_base") + col("intra_off"))
      .select(
        col("doc_id"), col("source"), col("n_toks"),
        col("start_off"),
        (col("start_off") / seqLen).cast("long").as("pack_first"),
        ((col("start_off") + col("n_toks") - 1) / seqLen).cast("long")
          .as("pack_last"))
  }

  /** DuckDB oracle for [[packedDocs]] — same tokenization, the plain
    * window formulation of the same prefix sum. */
  def packedDocsOracleSql(seqLen: Int = 256): String =
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
       |  start_off // $seqLen AS pack_first,
       |  (start_off + n_toks - 1) // $seqLen AS pack_last
       |FROM off""".stripMargin
}
