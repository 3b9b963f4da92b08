package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** File sources and sinks. The reference engine has exactly one source —
  * its in-memory BTreeSet storage (`src/tempdb/`) — and no sinks; this
  * module is the beyond-reference surface that makes the engine usable
  * against real data lakes.
  *
  * Scale rules baked in:
  *   - Readers take an EXPLICIT schema. Schema inference reads data
  *     twice and samples nondeterministically — at 100 TB it is both
  *     slow and a correctness hazard. (Parquet is self-describing, so
  *     its schema parameter is optional and used as a projection/check.)
  *   - All readers return plain declarative scans: Catalyst keeps
  *     filter pushdown, column pruning, and partition pruning intact.
  *   - Writers expose the two layouts that matter for downstream cost:
  *     hive-style partitioning (partition pruning on predicate columns)
  *     and bucketing (shuffle-free equi-joins/aggs on the bucket key).
  */
object Sources {

  /** CSV with explicit schema. `header=true` skips the header row but
    * names still come from the schema (deterministic under concat).
    * Whitespace is PRESERVED: Spark's CSV defaults silently trim
    * leading/trailing spaces inside quoted fields on read (and write) —
    * lossy for text payloads; this reader turns that off (still
    * overridable via `options`). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true,
              options: Map[String, String] = Map.empty): DataFrame =
    spark.read
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .options(options).option("header", header.toString)
      .schema(schema).csv(path)

  /** JSON-lines with explicit schema: one JSON object per line (the only
    * splittable JSON layout — `multiLine` JSON cannot be read in
    * parallel and has no place at scale). */
  def readJsonLines(spark: SparkSession, path: String, schema: StructType,
                    options: Map[String, String] = Map.empty): DataFrame =
    spark.read.options(options).schema(schema).json(path)

  /** Parquet scan; optional expected schema is applied as a projection
    * so readers are stable under column additions to the files. */
  def readParquet(spark: SparkSession, path: String,
                  expected: Option[StructType] = None): DataFrame = {
    val df = spark.read.parquet(path)
    expected.fold(df) { s =>
      df.select(s.fieldNames.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*)
    }
  }

  /** ORC scan with the same stable-projection contract as readParquet —
    * ORC carries the same columnar pushdown/pruning properties and is
    * the other common warehouse interchange format. */
  def readOrc(spark: SparkSession, path: String,
              expected: Option[StructType] = None): DataFrame = {
    val df = spark.read.orc(path)
    expected.fold(df) { s =>
      df.select(s.fieldNames.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*)
    }
  }

  /** Format-interop certification gate: write the `documents` table out
    * as JSONL, CSV, and ORC, read each back through this module's
    * schema-enforced readers, and reduce every copy to the same
    * order-independent content summary (row count, key sum, folded
    * per-row md5 over all columns — the q98 compaction certification
    * shape). Text columns carry arbitrary punctuation, so this is the
    * real test of each format's quoting/escaping round trip; a single
    * mangled character in one format flips that format's `sum_md5`.
    * All three reads stay schema-declared and splittable (no
    * `multiLine`, no inference pass — the only JSON/CSV layouts with a
    * place at 100 TB). */
  def formatRoundTripGate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val src = graft.Tables.load(spark, dir, "documents")
    val base = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_fmt_gate_" + Integer.toHexString(dir.hashCode)).getPath
    src.write.mode(SaveMode.Overwrite).json(s"$base/jsonl")
    src.write.mode(SaveMode.Overwrite)
      // the writer trims by default too — disable for a lossless trip
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("header", "true").csv(s"$base/csv")
    src.write.mode(SaveMode.Overwrite).orc(s"$base/orc")
    val schema = src.schema
    val canonical = concat_ws("|", col("doc_id"), col("text"),
                              col("lang"), col("source"), col("n_chars"))
    Seq(
      "csv"   -> readCsv(spark, s"$base/csv", schema),
      "jsonl" -> readJsonLines(spark, s"$base/jsonl", schema),
      "orc"   -> readOrc(spark, s"$base/orc", Some(schema)))
      .map { case (fmt, df) =>
        df.agg(
            count(lit(1)).as("n_rows"),
            sum(col("doc_id")).as("sum_key"),
            sum(conv(substring(md5(canonical), 1, 15), 16, 10).cast("long")
                  % 1000000007L).as("sum_md5"))
          .select(lit(fmt).as("fmt"), col("n_rows"), col("sum_key"),
                  col("sum_md5"))
      }.reduce(_ unionByName _)
  }

  /** DuckDB oracle for [[formatRoundTripGate]]: the same summary over
    * the ORIGINAL parquet, replicated per format — equality certifies
    * all three round trips lossless. */
  def formatRoundTripOracleSql(): String =
    """WITH s AS (
      |  SELECT count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_key,
      |    CAST(sum(list_reduce([CAST(strpos('0123456789abcdef',
      |        substr(md5(CAST(doc_id AS VARCHAR) || '|' || text || '|' ||
      |                   lang || '|' || source || '|' ||
      |                   CAST(n_chars AS VARCHAR)), p, 1)) - 1 AS BIGINT)
      |      for p in range(1, 16)], (a, b) -> a * 16 + b) % 1000000007)
      |      AS BIGINT) AS sum_md5
      |  FROM documents)
      |SELECT t.fmt, s.n_rows, s.sum_key, s.sum_md5
      |FROM s, (VALUES ('csv'), ('jsonl'), ('orc')) t(fmt)""".stripMargin

  /** Hive-partitioned write: `partitionBy` columns become directory keys,
    * so predicates on them prune entire directories at read time. Keep
    * partition cardinality bounded (date/hour/source — never a high-
    * cardinality id, which creates a small-files storm). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                      format: String = "parquet",
                      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).format(format)
      .partitionBy(partitionCols: _*).save(path)

  /** Bucketed managed table: rows are hash-distributed into `numBuckets`
    * files per partition by `bucketCols`; equi-joins and aggregations on
    * the bucket key then skip the shuffle entirely (both sides already
    * co-partitioned). The join key of the biggest recurring join is the
    * right bucket key. */
  def writeBucketed(df: DataFrame, tableName: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w: DataFrameWriter[Row] = df.write.mode(mode).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(tableName)
  }

  /** Compact a parquet directory to approximately `targetFileBytes` per
    * output file — the small-files maintenance job every streaming or
    * incremental-append sink needs (a 100 TB table accreting thousands
    * of tiny files per hour degrades listing, open(), and scan
    * vectorization long before it degrades storage).
    *
    * The output file count is sized from the INPUT's on-disk bytes
    * (already-compressed parquet — a far better predictor of output
    * size than in-memory row estimates), then the data is rewritten
    * through one round-robin repartition: uniform file sizes, one
    * shuffle, no driver-side data movement. Returns the file count. */
  /** Parquet byte size of `path`, through Hadoop's FileSystem (not
    * java.io.File: the path may live on HDFS/S3A — the 100 TB
    * deployment — and local recursion would count _SUCCESS/.crc
    * metadata into the estimate). Shared by every sized rewrite
    * ([[compactParquet]], [[ZOrder.zorderWrite]]) so the sizing rule
    * can never silently diverge between them. */
  private[sources] def parquetInputBytes(spark: SparkSession,
                                         path: String,
                                         caller: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"$caller: input path does not exist: $path")
    val it = fs.listFiles(p, true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
    }
    require(bytes > 0, s"$caller: no parquet files under $path")
    bytes
  }

  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetFileBytes > 0, "target file size must be positive")
    val inputBytes = parquetInputBytes(spark, inPath, "compactParquet")
    val nFiles = math.max(1,
      math.ceil(inputBytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inPath)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    nFiles
  }

  /** Oracle gate for [[compactParquet]]: compact the `orders` table into
    * a scratch directory, read the REWRITTEN files back, and reduce them
    * to an order-independent content summary — row count, key sum, and a
    * sum of per-row md5 fingerprints over every column. A lossless
    * rewrite reproduces the original table's summary exactly (the oracle
    * computes the same three aggregates over the ORIGINAL parquet), so
    * any row dropped, duplicated, or altered by the compaction flips at
    * least one aggregate. Same certification shape as the q79/q80 DML
    * gates, pointed at the maintenance path.
    *
    * The per-row fingerprint canonicalizes each column to an integer or
    * exact string first (cents via round(x*100), seconds via
    * date_format) so both engines hash identical bytes; fingerprints are
    * folded mod 1e9+7 before summing, so the sum stays far inside int64
    * at any gate scale. */
  def compactionGate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val out = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_compact_gate_" + Integer.toHexString(dir.hashCode)).getPath
    compactParquet(spark, s"$dir/orders.parquet", out,
                   targetFileBytes = 1L * 1024 * 1024)
    val canonical = concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
      col("o_orderpriority"))
    spark.read.parquet(out).agg(
      count(lit(1)).as("n_rows"),
      sum(col("o_orderkey")).as("sum_key"),
      sum(conv(substring(md5(canonical), 1, 15), 16, 10).cast("long")
            % 1000000007L).as("sum_md5"))
  }

  /** DuckDB oracle for [[compactionGate]]: the same three aggregates
    * over the ORIGINAL `orders` parquet — equality certifies the rewrite
    * is lossless. md5 hex is parsed to an integer with the 15-hex-char
    * (60-bit) fold; sums are CAST back to BIGINT because DuckDB widens
    * sum(BIGINT) to HUGEINT (the q92 dtype lesson). */
  val compactionGateOracleSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
      |  CAST(sum(
      |    list_reduce([CAST(strpos('0123456789abcdef', substr(
      |        md5(o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' ||
      |            o_orderstatus || '|' ||
      |            CAST(round(o_totalprice * 100) AS BIGINT)::VARCHAR || '|' ||
      |            strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|' ||
      |            o_orderpriority),
      |        p, 1)) - 1 AS BIGINT) for p in range(1, 16)],
      |      (a, b) -> a * 16 + b) % 1000000007) AS BIGINT) AS sum_md5
      |FROM orders""".stripMargin

  /** Corrupt-record-tolerant JSONL ingest — the robustness path a lake
    * pipeline needs on day one: real feeds contain truncated/garbled
    * lines, and the ingest must COUNT and quarantine them without
    * failing the job or silently dropping rows. The gate renders
    * documents to JSONL, deterministically truncates every line whose
    * doc_id ≡ 3 (mod 17) (truncation always removes the closing brace —
    * unparseable by construction), reads back PERMISSIVE with an
    * explicit schema + `_corrupt_record` column, and reconciles: good
    * rows carry their original ids (checksummed), corrupt rows are
    * counted, and good + corrupt = total. The oracle replays the
    * corruption RULE against the original table — a hash match proves
    * the tolerant reader recovered exactly the uncorrupted rows.
    *
    * Scale: rendering and reading are map-side line ops; PERMISSIVE
    * parsing is the same single pass as strict parsing. */
  def corruptIngestGate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // the corrupted feed is written once per dir; the gate times the
    // PERMISSIVE ingest, which is the operator under test
    val base = graft.Tables.scratchPath("graft_corrupt_gate", dir)
    graft.Tables.writeOnce(base) {
      graft.Tables.load(spark, dir, "documents").select(
          when(col("doc_id") % 17 === 3,
            expr("substring(to_json(struct(doc_id, source, n_chars)), 1, " +
                 "length(to_json(struct(doc_id, source, n_chars))) - 5)"))
            .otherwise(expr("to_json(struct(doc_id, source, n_chars))"))
            .as("value"))
        .write.mode(SaveMode.Overwrite).text(base)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("n_chars", LongType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(base)
      .agg(count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
           count(col("_corrupt_record")).as("n_corrupt"),
           coalesce(sum(when(col("_corrupt_record").isNull,
                             col("doc_id") % 9973)), lit(0L))
             .as("good_checksum"),
           coalesce(sum(when(col("_corrupt_record").isNull,
                             col("n_chars"))), lit(0L))
             .as("good_chars"))
  }

  val corruptIngestGateOracleSql: String =
    """SELECT
      |  CAST(sum(CASE WHEN doc_id % 17 <> 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_good,
      |  CAST(sum(CASE WHEN doc_id % 17 = 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_corrupt,
      |  CAST(sum(CASE WHEN doc_id % 17 <> 3 THEN doc_id % 9973
      |           ELSE 0 END) AS BIGINT) AS good_checksum,
      |  CAST(sum(CASE WHEN doc_id % 17 <> 3 THEN n_chars ELSE 0 END)
      |       AS BIGINT) AS good_chars
      |FROM documents""".stripMargin
}
