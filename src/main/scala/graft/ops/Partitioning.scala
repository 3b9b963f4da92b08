package graft.ops

import org.apache.spark.sql.SparkSession

/** Data-derived shuffle sizing for the operator families whose shuffle
  * volume is a large multiple of their parquet input (pair generation,
  * fingerprint self-joins).
  *
  * The round-9 100× smoke proved partition count is PER-OPERATOR: the
  * q28 prefix-filter join needed ~256 shuffle partitions at 100× data
  * (a fixed 32 turned its shuffles into spill benchmarks, 79 s vs
  * 51 s), while q63's many small stages REGRESSED at a global 256
  * (per-partition overhead). A single session-wide
  * `spark.sql.shuffle.partitions` therefore cannot be right for both —
  * the count must track each operator's own shuffle bytes. On a real
  * cluster AQE's advisory sizing automates the coalescing half of
  * this, but (a) AQE only MERGES partitions, it never splits an
  * under-partitioned shuffle short of skew-join handling, and (b) the
  * materialization of persisted plans (every shared pair table) does
  * not get AQE re-planning at all by default
  * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`).
  * So the declared count must already be data-derived.
  *
  * `forBytes` is that derivation: estimated shuffle bytes (parquet
  * input × a documented per-family expansion factor) over a target
  * partition size. The floor is the session's current
  * `spark.sql.shuffle.partitions` — at gate scale (inputs ≪ target)
  * every operator keeps today's session sizing and this helper is a
  * no-op; it only raises the count once the data demands it, and one
  * operator's raise never leaks into another's plan (scoped via
  * by [[materialized]] or an explicit repartition).
  *
  * The 16 MB default target is deliberately below AQE's 64 MB
  * advisory: pair-family shuffle rows are WIDE (sorted hash-set
  * arrays ride the verify joins), and the sort-merge machinery's
  * per-task memory is the binding constraint the 100× smoke hit —
  * 16 MB keeps each task's sort comfortably in memory while AQE still
  * coalesces any over-split tail of the uncached exchanges.
  */
object Partitioning {

  /** Conf knob for the target per-partition shuffle bytes. */
  val TargetBytesKey = "spark.graft.shuffle.targetPartitionBytes"
  val DefaultTargetBytes: Long = 16L << 20

  private val bytesMemo =
    scala.collection.concurrent.TrieMap[String, Long]()

  /** On-disk footprint of `dir/table.parquet` via the Hadoop
    * FileSystem API (works for local, HDFS, and object stores alike).
    * Driver-side metadata only — no data is read. Memoized per path:
    * the testdata is immutable for a session's lifetime. */
  def tableBytes(spark: SparkSession, dir: String, table: String): Long =
    bytesMemo.getOrElse(s"$dir/$table.parquet", {
      val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bytes =
        if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
      // Only memoize a real measurement: a not-yet-generated table (the
      // 10×/100× replicas are written mid-session) must be re-probed on
      // the next call, not frozen at 0 — a cached 0 would silently pin
      // the derived count at the session floor for the session's life.
      if (bytes > 0L) bytesMemo.putIfAbsent(s"$dir/$table.parquet", bytes)
      bytes
    })

  /** Shuffle-partition count for an operator whose shuffles move
    * roughly `bytes * expansion` bytes. Floor = the session's current
    * shuffle.partitions (never degrade small-scale parallelism); a
    * 2^18 sanity cap guards against a mis-measured input — at 16 MB
    * per partition that is a 4 TB single-operator shuffle, beyond
    * which the target size, not the count, should be revisited. */
  def forBytes(spark: SparkSession, bytes: Long,
               expansion: Double): Int = {
    // Accept Spark size strings ("16MB") like every other byte knob in
    // the project, not bare longs only; and a non-numeric
    // shuffle.partitions (e.g. a platform's "auto") falls back to
    // defaultParallelism instead of throwing at plan time.
    val target = spark.conf.getOption(TargetBytesKey)
      .map(s =>
        if (s.trim.matches("-?\\d+")) s.trim.toLong
        else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s))
      .filter(_ > 0L).getOrElse(DefaultTargetBytes)
    val sessionFloor = spark.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val derived = math.ceil(bytes * expansion / target).toLong
    math.min(1 << 18, math.max(sessionFloor, derived)).toInt
  }

  def forTable(spark: SparkSession, dir: String, table: String,
               expansion: Double): Int =
    forBytes(spark, tableBytes(spark, dir, table), expansion)

  /** Materialize `build` (persist MEMORY_AND_DISK + count) with
    * `spark.sql.shuffle.partitions` scoped to `n` by
    * [[SessionConf.scoped]], registered with [[graft.ext.Memo]] so its
    * cold drain releases the blocks. This is
    * the ONE shared discipline for every memoized pair/fingerprint
    * table: the persist must be planned AND run inside the scope
    * (cached plans are not re-partitioned by AQE), and the raised count
    * dies with the scope instead of leaking into the next operator's
    * plan. */
  def materialized(spark: SparkSession, n: Int)
                  (build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    SessionConf.scoped(spark, "spark.sql.shuffle.partitions" -> n.toString) {
      val df = graft.ext.Memo.persist(build)
      df.count() // plan + run inside the scope; consumers reuse the cache
      df
    }
}
