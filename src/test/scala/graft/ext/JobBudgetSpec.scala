package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Jobs per operator call: on a fixed small corpus, starting from a cold
  * `Memo`, each pair family's build (its dup probe, budget and broadcast
  * estimates, eager persists) and its `collect()` start at most the
  * pinned number of Spark jobs. A change that adds a probe, a sketch
  * pass or an unshared persist shows here as a count, before any timing
  * run. The pins are the counts measured when the spec was written;
  * lower them when a change removes jobs. */
class JobBudgetSpec extends SparkSpec {

  /** 60 docs over two sources: 40 generated bases (20 distinct words
    * each, little overlap), 10 one-word-swapped near-dups of bases 0–9
    * (same source as their base) and 10 exact copies of bases 10–19 in
    * the other source, so the within-source dup fraction is 0 and the
    * corpus-wide one is 10/60. */
  private lazy val dir: String = {
    import spark.implicits._
    def base(i: Int) = (0 until 20).map(j => s"w${(i * 7 + j * 13) % 200}")
    val rows =
      (0 until 40).map(i => (i.toLong, s"s${i % 2}", base(i).mkString(" "))) ++
      (0 until 10).map(i => (100L + i, s"s${i % 2}",
        base(i).updated(10, s"x$i").mkString(" "))) ++
      (10 until 20).map(i => (200L + i, s"s${(i + 1) % 2}",
        base(i).mkString(" ")))
    val d = java.nio.file.Files.createTempDirectory("jobbudget").toString
    rows.toDF("doc_id", "source", "text")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  // (operator, build → frame, max jobs of the build, max jobs of collect)
  private val pinned: Seq[(String, () => DataFrame, Int, Int)] = Seq(
    ("minhashLsh collapse=Some(false)",
      () => Dedup.minhashLsh(spark, dir, collapse = Some(false)), 11, 5),
    ("minhashLsh collapse=Some(true)",
      () => Dedup.minhashLsh(spark, dir, collapse = Some(true)), 15, 12),
    ("jaccardPairs threshold 0.8",
      () => Dedup.jaccardPairs(spark, dir, 0.8), 10, 9),
    ("containmentPairs",
      () => Dedup.containmentPairs(spark, dir), 11, 8))

  for ((name, build, maxBuild, maxCollect) <- pinned)
    test(s"$name: jobs per call and per collect stay within the pins") {
      Memo.clearAll()
      val (df, buildJobs) = countingJobs(build())
      val (rows, collectJobs) = countingJobs(df.collect())
      println(s"[jobbudget] $name build=$buildJobs collect=$collectJobs " +
        s"rows=${rows.length}")
      assert(rows.nonEmpty, s"$name: the fixture must yield pairs")
      assert(buildJobs <= maxBuild,
        s"$name: the call started $buildJobs jobs, pinned at $maxBuild")
      assert(collectJobs <= maxCollect,
        s"$name: collect() started $collectJobs jobs, pinned at $maxCollect")
    }
}
