package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only bench-PASS probe: times a list of gates the way one Bench
  * pass does — memos cleared once at the start of each pass, then the
  * gates run in the given order sharing whatever the pass builds
  * (QueryProbe clears per gate, so it cannot see cross-gate memo
  * sharing; this tool exists to A/B exactly that).
  *
  * Usage: Test/runMain graft.tools.FamilyProbe qNN [qNN...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_REPS (default 3).
  * Prints per-gate min across passes plus the per-pass family totals.
  */
object FamilyProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => () }
    val queries = graft.SparkEntry.queries
    val noopGates = Set("q81_hash_split", "q216_substr_remove",
      "q219_collapse_repeats", "q222_vocab_prune")
    val samples = (1 to reps).map { _ =>
      graft.ext.Memo.clearAll()
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      graft.streaming.Streams.dropBoundedSinks(spark)
      args.map { name =>
        val t0 = System.nanoTime()
        val df = queries(name)(spark, sfDir)
        if (noopGates(name))
          df.write.format("noop").mode("overwrite").save()
        else df.count()
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    args.foreach { name =>
      val ts = samples.map(_.find(_._1 == name).get._2)
      println(f"[family] $name%-36s min ${ts.min}%.2fs " +
        f"(all ${ts.map(t => f"$t%.2f").mkString("/")})")
    }
    val totals = samples.map(_.map(_._2).sum)
    println(f"[family] TOTAL min ${totals.min}%.2fs " +
      f"(all ${totals.map(t => f"$t%.2f").mkString("/")})")
    spark.stop()
  }
}
