package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central loader for the driver-generated parquet tables
  * (`/root/testdata/sf*`; see TESTDATA.md).
  *
  * Design notes for scale (the 100 TB rule):
  *   - Tables are plain `spark.read.parquet` DataFrames — Catalyst keeps the
  *     scan declarative so filter pushdown / column pruning / partition
  *     pruning all apply. No driver-side materialization ever happens here.
  *   - `dim()` marks genuinely-small dimension tables (region, nation,
  *     supplier at any scale factor; these are bounded by real-world
  *     cardinality, not data volume) with a broadcast hint so joins against
  *     them never shuffle the fact side.
  */
object Tables {
  /** All driver tables (TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Tables whose cardinality is bounded in the real world (TPC-H dims):
    * always safe to broadcast regardless of scale factor. */
  private val boundedDims = Set("region", "nation")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") loadEvents(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** The driver has shipped `events.ts` in two physical units across
    * rounds: TIMESTAMP(NANOS) (which Spark's vectorized reader rejects;
    * the legacy conf reads it as a raw nanos long) and TIMESTAMP(MICROS)
    * (Spark-native — inferred as TIMESTAMP_NTZ since the file is not
    * UTC-adjusted). Branch on the type Spark actually inferred so either
    * unit loads; both converge to `timestamp_ntz`, the naive form DuckDB
    * compares against under the UTC session. */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** Normalize an events frame's `ts` to `timestamp_ntz` regardless of
    * the unit it arrived in. Exposed for the dual-unit fixture spec. */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types._
    val ts = df.schema("ts").dataType match {
      // TIMESTAMP(NANOS) under the legacy nanosAsLong conf: truncate
      // ns→µs — the same truncation DuckDB applies, so oracles agree.
      case LongType =>
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
      // TIMESTAMP(MICROS), not UTC-adjusted → already NTZ; pass through.
      case TimestampNTZType => df.col("ts")
      // UTC-adjusted micros (LTZ): same instant as NTZ under the UTC
      // session — a plain cast.
      case TimestampType => df.col("ts").cast("timestamp_ntz")
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other — testdata contract changed?")
    }
    df.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** A dimension table with a broadcast hint when it is bounded-small. */
  def dim(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    if (boundedDims(name)) org.apache.spark.sql.functions.broadcast(df) else df
  }

  /** Pinned testdata contract: the DDL each table must present AFTER
    * loading (post ts-normalization for events). The driver regenerated
    * the testdata mid-project once (events.ts NANOS→MICROS) and the only
    * symptom was 16 silently-absent correctness gates; this canary turns
    * the next contract change into a one-line named diff before any gate
    * runs. Refresh the pins with `Test/runMain graft.tools.PrintSchemas`
    * after an intentional regeneration. */
  val expectedDdl: Map[String, String] = Map(
    "region" -> "r_regionkey INT,r_name STRING",
    "nation" -> "n_nationkey INT,n_name STRING,n_regionkey INT",
    "customer" -> "c_custkey BIGINT,c_name STRING,c_nationkey INT,c_acctbal DOUBLE,c_mktsegment STRING",
    "supplier" -> "s_suppkey BIGINT,s_name STRING,s_nationkey INT,s_acctbal DOUBLE",
    "part" -> "p_partkey BIGINT,p_name STRING,p_brand STRING,p_type STRING,p_size INT,p_retailprice DOUBLE",
    "orders" -> "o_orderkey BIGINT,o_custkey BIGINT,o_orderstatus STRING,o_totalprice DOUBLE,o_orderdate TIMESTAMP_NTZ,o_orderpriority STRING",
    "lineitem" -> "l_orderkey BIGINT,l_partkey BIGINT,l_suppkey BIGINT,l_linenumber INT,l_quantity DOUBLE,l_extendedprice DOUBLE,l_discount DOUBLE,l_tax DOUBLE,l_returnflag STRING,l_linestatus STRING,l_shipdate TIMESTAMP_NTZ",
    "events" -> "event_id BIGINT,ts TIMESTAMP_NTZ,user_id BIGINT,event_type STRING,value DOUBLE,props STRING",
    "documents" -> "doc_id BIGINT,text STRING,lang STRING,source STRING,n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT,embedding ARRAY<FLOAT>,label INT")

  /** Fail loudly — naming every table, column set, and both DDLs — if the
    * testdata under `dir` no longer matches [[expectedDdl]]. Called at the
    * top of Verify and Bench so a contract drift is diagnosed in one line
    * instead of as a pile of per-gate exceptions. */
  def assertSchemas(spark: SparkSession, dir: String): Unit = {
    val diffs = names.flatMap { n =>
      val actual =
        try load(spark, dir, n).schema.toDDL
        catch { case e: Throwable => s"<load failed: ${e.getMessage}>" }
      if (actual != expectedDdl(n))
        Some(s"$n:\n  expected [${expectedDdl(n)}]\n  actual   [$actual]")
      else None
    }
    if (diffs.nonEmpty) throw new IllegalStateException(
      "TESTDATA SCHEMA CANARY — contract drift detected:\n" +
        diffs.mkString("\n"))
  }

  /** Collision-proof scratch path for a fixture derived from `dir`.
    * The sanitized dir string is readable but NOT injective (`/a/b` and
    * `/a_b` both sanitize to `_a_b`), so a SHA-1 digest of the RAW dir
    * string is appended as the true discriminator — two distinct dirs
    * can never share a fixture base, because [[writeOnce]] would then
    * silently serve one dir's data to the other dir's gate. */
  def scratchPath(prefix: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(dir.getBytes("UTF-8"))
      .take(10).map(b => f"$b%02x").mkString
    new java.io.File(sys.props("java.io.tmpdir"),
      prefix + "_" + dir.replaceAll("[^A-Za-z0-9._-]", "_") +
        "_" + digest).getPath
  }

  private val written = scala.collection.mutable.Set.empty[String]

  /** Run `write` the first time a fixture `path` is asked for in this
    * JVM and return `path`: gates and bench samples then time the read
    * the fixture exists for, not its one-time write. Keyed by the
    * scratch path alone (from [[scratchPath]], so one path per source
    * dir) — it holds no session, and a fixture written under one
    * session serves every later one. A write that throws is not
    * remembered, so the next call retries it. Kept apart from
    * [[graft.ext.Memo]] on purpose: fixture files must outlive
    * `Memo.clearAll()`, which every cold bench pass runs. */
  def writeOnce(path: String)(write: => Unit): String = synchronized {
    if (!written(path)) { write; written += path }
    path
  }
}
