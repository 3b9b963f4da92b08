package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-style partitioned layout + partition-pruned scan — the other
  * half of the storage story next to [[Bucketing]]: data written
  * `partitionBy(day)` lets a day-ranged query read ONLY the matching
  * directories (partition pruning happens at planning, before any file
  * is opened). The gate rewrites events partitioned by day, runs a
  * 7-day rollup against the rewritten layout, and must hash-match the
  * oracle's filter over the raw table — certifying the layout loses
  * nothing AND the pruned scan selects exactly the right days.
  *
  * At 100 TB this is THE first-line scan reducer: time-ranged queries
  * touch days/years of the corpus; partition pruning turns them from
  * full scans into range-sized scans. PartitionedLayoutSpec asserts the
  * plan prunes (scan's partition count equals the selected days, and
  * the day filter appears as a PartitionFilter, not a data filter). */
object PartitionedLayout {

  /** Write events partitioned by day under a scratch base, once per
    * dir ([[graft.Tables.writeOnce]]: every pruned read amortizes the
    * layout, so repeated gate/bench samples time the SCAN it enables
    * rather than re-paying the rewrite); returns the base path. */
  private[sources] def writePartitioned(spark: SparkSession,
                                        dir: String): String = {
    val base = graft.Tables.scratchPath("graft_part_layout", dir)
    graft.Tables.writeOnce(base) {
      graft.Tables.load(spark, dir, "events")
        .withColumn("d", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode(SaveMode.Overwrite).partitionBy("d").parquet(base)
    }
  }

  /** The pruned scan (exposed for the plan spec): a 7-day band filter
    * on the partition column of the rewritten layout. Day bounds come
    * from a driver-side 1-row min aggregate (bounded by construction)
    * so the filter is LITERAL — statically prunable at planning. */
  def prunedScan(spark: SparkSession, dir: String,
                 startOffsetDays: Int = 5, days: Int = 7): DataFrame = {
    val base = writePartitioned(spark, dir)
    val minDay = java.time.LocalDate.parse(
      graft.Tables.load(spark, dir, "events")
        .agg(date_format(min(col("ts")), "yyyy-MM-dd")).collect()(0)
        .getString(0))
    val lo = minDay.plusDays(startOffsetDays).toString
    val hi = minDay.plusDays(startOffsetDays + days - 1).toString
    spark.read.parquet(base).filter(col("d").between(lo, hi))
  }

  /** Gate: per-day-and-type rollup over the pruned scan. */
  def prunedScanGate(spark: SparkSession, dir: String): DataFrame =
    prunedScan(spark, dir)
      // partition-column type inference reads `d` back as DATE; format
      // at the output edge so the gate compares strings either way
      .groupBy(date_format(col("d"), "yyyy-MM-dd").as("d"),
               col("event_type"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
             .as("sum_value"))

  /** Schema-evolution merge read — the lake reality that tables gain
    * columns over time: an old writer produced files WITHOUT `lang`
    * (docs with even ids), a new writer added it (odd ids); a
    * `mergeSchema` read reconciles both vintages into one frame where
    * the missing column is NULL for old files. The gate aggregates per
    * (source, lang-or-null) and must match the oracle applying the
    * same vintage rule to the raw table — certifying no row, column,
    * or null got lost in the merge.
    *
    * Scale note: schema merging is a FOOTER-level planning cost (one
    * schema union over file footers), not a data cost; the read itself
    * stays a plain pruned columnar scan. Production pins the merged
    * schema in a catalog instead of re-inferring per query — the gate's
    * explicit `mergeSchema` read is the bootstrap path. */
  def mergeSchemaGate(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.scratchPath("graft_evolve", dir)
    // both writer vintages are written once per dir; the gate times the
    // mergeSchema READ, which is the operator under test
    graft.Tables.writeOnce(base) {
      val docs = graft.Tables.load(spark, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .write.mode(SaveMode.Overwrite).parquet(s"$base/v1")
      docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
        .write.mode(SaveMode.Overwrite).parquet(s"$base/v2")
    }
    spark.read.option("mergeSchema", "true")
      .parquet(s"$base/v1", s"$base/v2")
      .groupBy(col("source"), coalesce(col("lang"), lit("<pre-schema>"))
                 .as("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
           sum(col("doc_id") % 9973).as("id_checksum"))
  }

  def mergeSchemaGateOracleSql(): String =
    """SELECT source,
      |  CASE WHEN doc_id % 2 = 0 THEN '<pre-schema>' ELSE lang END
      |    AS lang,
      |  count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  CAST(sum(doc_id % 9973) AS BIGINT) AS id_checksum
      |FROM documents
      |GROUP BY source,
      |  CASE WHEN doc_id % 2 = 0 THEN '<pre-schema>' ELSE lang END"""
      .stripMargin

  /** Dynamic partition pruning join (exposed for the plan spec): the
    * fact side is the day-partitioned layout; the dim side is the
    * bounded day dimension filtered to Mondays. The day set is NOT a
    * literal at planning time — it comes out of the dim-side filter —
    * so static pruning (q154's lever) cannot apply; Spark's DPP
    * instead plants a dynamicpruning subquery in the fact scan's
    * PartitionFilters and the scan reads ONLY the matching day
    * directories at runtime. At 100 TB this is the fact-⋈-dim query
    * shape (date dim, user cohort, catalog slice): without DPP the
    * fact side is a full scan regardless of how selective the dim
    * filter is. */
  def dynamicPruningJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = writePartitioned(spark, dir)
    val fact = spark.read.parquet(base) // `d` inferred back as DATE
    val dim = graft.Tables.load(spark, dir, "events")
      .select(to_date(date_trunc("day", col("ts"))).as("dim_d")).distinct()
      .filter(dayofweek(col("dim_d")) === 2) // Spark: 1=Sun … 2=Mon
    fact.join(broadcast(dim), col("d") === col("dim_d"))
  }

  /** Gate: per-day-and-type rollup over the dynamically-pruned join —
    * must hash-match the oracle's direct Monday filter over the raw
    * table (layout + DPP are lossless and select exactly the right
    * days). */
  def dynamicPruningGate(spark: SparkSession, dir: String): DataFrame =
    dynamicPruningJoin(spark, dir)
      .groupBy(date_format(col("d"), "yyyy-MM-dd").as("d"),
               col("event_type"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
             .as("sum_value"))

  def dynamicPruningGateOracleSql(): String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS d,
      |  event_type, count(*) AS n,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
      |    AS sum_value
      |FROM events
      |WHERE dayofweek(date_trunc('day', ts)) = 1
      |GROUP BY 1, 2""".stripMargin

  def prunedScanGateOracleSql(startOffsetDays: Int = 5,
                              days: Int = 7): String =
    s"""WITH b AS (SELECT min(date_trunc('day', ts)) AS mn FROM events)
       |SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS d,
       |  event_type, count(*) AS n,
       |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
       |    AS sum_value
       |FROM events, b
       |WHERE date_trunc('day', ts) >= mn + INTERVAL $startOffsetDays DAY
       |  AND date_trunc('day', ts)
       |      <= mn + INTERVAL ${startOffsetDays + days - 1} DAY
       |GROUP BY 1, 2""".stripMargin
}
