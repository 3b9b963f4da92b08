package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only probe: confirm the data-derived shuffle sizing fires for
  * the pair family at 100× (and stays a floor no-op at 1×). */
object ProbeParts {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("target/scale100")
    val threshold = args.drop(1).headOption.map(_.toDouble).getOrElse(0.5)
    for (mode <- Seq("derived", "floor32", "derived")) {
      if (mode == "floor32")
        spark.conf.set(graft.ops.Partitioning.TargetBytesKey,
          (1L << 40).toString)
      else spark.conf.unset(graft.ops.Partitioning.TargetBytesKey)
      graft.ext.Memo.clearAll()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val pairs = graft.ext.Dedup.jaccardPairsCached(spark, dir, threshold)
      val n = pairs.count()
      val parts = pairs.rdd.getNumPartitions
      println(f"[probe] $dir t=$threshold mode=$mode parts=$parts " +
        f"rows=$n build=${(System.nanoTime()-t0)/1e9}%.1f s")
    }
    spark.stop()
  }
}
