package graft.tools

import org.apache.spark.sql.SparkSession

/** IVF-PQ cost anatomy (round-11 verdict item 4): decompose the q107 /
  * q108 gate cost into train (centroids + codebooks), index build
  * (corpus encode, now memoized + persisted), and per-batch query, at
  * sf0.1 — the q26-style breakdown for the three ANN gates in the
  * bench top 5. Run: Test/runMain graft.tools.ProbePq */
object ProbePq {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    def t(label: String)(f: => Long): Double = {
      val t0 = System.nanoTime()
      val n = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $label%-34s $s%6.2fs  rows=$n")
      s
    }
    def coldStart(): Unit = {
      graft.ext.Memo.clearAll()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    for (pass <- 1 to 3) {
      coldStart()
      // stage-isolated: train, then q107 (encode+query), then warm q107
      // (query only), then incremental q108 (shortlist reuse + rerank)
      t(s"p$pass train (centroids+books)") {
        graft.ext.Similarity.probeTrainIvfPq(spark, dir); 0L
      }
      t(s"p$pass q107 post-train (encode+query)")(
        graft.ext.Similarity.ivfPqTopK(spark, dir).count())
      t(s"p$pass q107 warm (query only)")(
        graft.ext.Similarity.ivfPqTopK(spark, dir).count())
      t(s"p$pass q108 warm-index (rerank)")(
        graft.ext.Similarity.ivfPqRerankTopK(spark, dir).count())
      // and the gate-shaped cold totals the bench charges
      coldStart()
      t(s"p$pass q107 FULL COLD")(
        graft.ext.Similarity.ivfPqTopK(spark, dir).count())
      t(s"p$pass q108 after q107 (bench order)")(
        graft.ext.Similarity.ivfPqRerankTopK(spark, dir).count())
      t(s"p$pass q37 after both (centroid reuse)")(
        graft.ext.Similarity.ivfTopK(spark, dir).count())
    }
    spark.stop()
  }
}
