package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only single-query timing probe (the Bench methodology — cold
  * memos, min of N — restricted to named gates, for perf iteration
  * without a full 120-gate pass).
  *
  * Usage: Test/runMain graft.tools.QueryProbe q107_ivfpq_adc [qNN...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_REPS (default 3).
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same warmup as Bench so the first query isn't charged JIT cost
    // (best-effort — partial datasets like the scale10 replica lack
    // the TPC-H tables)
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => () }
    val queries = graft.SparkEntry.queries
    args.foreach { name =>
      val fn = queries(name)
      val times = (1 to reps).map { _ =>
        // drain every operator memo and block (mirrors Bench's
        // cold-start sweep), so no rep times a warm table as if cold
        graft.ext.Memo.clearAll()
        spark.sharedState.cacheManager.clearCache()
        graft.streaming.Streams.dropBoundedSinks(spark)
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9 -> n
      }
      println(f"[probe] $name%-24s min ${times.map(_._1).min}%.2fs " +
        f"(all ${times.map(t => f"${t._1}%.2f").mkString("/")}) " +
        f"rows ${times.head._2}")
    }
    spark.stop()
  }
}
