package graft.tools

import org.apache.spark.sql.SparkSession

/** One-off probe: cost of the 32-perm signature map at sf0.1 — the
  * pass the round-10 sharing refactor stops running twice. */
object ProbeSig {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"
    def t(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2fs  rows=$n")
    }
    val docs = graft.Tables.load(spark, dir, "documents")
    for (pass <- 1 to 3) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      graft.ext.Memo.clearAll()
      val sh = graft.ext.Dedup.shingledOf(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t(s"p$pass shingle build")(sh.count())
      t(s"p$pass signatures over warm sh")(
        graft.ext.Dedup.signatures(sh).count())
      t(s"p$pass dup probe (agg)")(
        { graft.ext.Dedup.minhashLsh(spark, dir); 0L })
    }
    spark.stop()
  }
}
