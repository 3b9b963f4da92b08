package graft.ext

import graft.SparkSpec

/** The session-scoped operator registry: one [[Memo.clearAll]] drains
  * every family's memo tables and every block their builds persisted,
  * memo hits return the very frame built first, and nested memo builds
  * (a table filled while another table's build is running) work from a
  * cold registry. */
class MemoSpec extends SparkSpec {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** One entry point per memo family, each forced to run its build. */
  private def runEveryFamily(): Unit = {
    Dedup.jaccardPairsCached(spark, sfDir, 0.5).count()
    Dedup.clusterLabelsCached(spark, sfDir, 0.8).count()
    Dedup.minhashLshCached(spark, sfDir).count()
    Similarity.ivfPqTopK(spark, sfDir).count()
    Quantize.pqCodes(spark, sfDir).count()
    Winnow.matches(spark, sfDir).count()
    Selection.dsirSelect(spark, sfDir, k = 5).count()
    Pipeline.survivingDocs(spark, sfDir).count()
    TextAnalysis.bigramLmScore(spark, sfDir).count()
    TextAnalysis.bpeMerges(spark, sfDir).count()
    PageRank.dupPagerank(spark, sfDir).count()
  }

  test("clearAll releases every block and cache entry the families made") {
    // start from an empty CacheManager: other suites share this session
    // and may hold their own cached frames
    Memo.clearAll()
    spark.catalog.clearCache()
    val before = persistedIds
    runEveryFamily()
    assert((persistedIds -- before).nonEmpty,
      "the family builds must persist blocks for this spec to check")
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(Selection.docwCache.keys(spark).nonEmpty)
    assert(TextAnalysis.bpeMergeCache.keys(spark).nonEmpty)
    Memo.clearAll()
    assert(persistedIds == before,
      s"blocks survived clearAll: ${(persistedIds -- before).mkString(",")}")
    assert(spark.sharedState.cacheManager.isEmpty,
      "cached plans survived clearAll")
    assert(Selection.docwCache.keys(spark).isEmpty)
    assert(TextAnalysis.bpeMergeCache.keys(spark).isEmpty)
    assert(TextAnalysis.lmScoreCache.keys(spark).isEmpty)
    assert(Dedup.dupFracCache.keys(spark).isEmpty)
  }

  test("a memo hit returns the frame built first; clearAll forces a rebuild") {
    Memo.clearAll()
    val calls: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
      () => Dedup.jaccardPairsCached(spark, sfDir, 0.5),
      () => Dedup.clusterLabelsCached(spark, sfDir, 0.8),
      () => Dedup.minhashLshCached(spark, sfDir),
      () => Pipeline.survivingDocs(spark, sfDir),
      () => TextAnalysis.bigramLmScore(spark, sfDir))
    val first = calls.map(_())
    calls.zip(first).foreach { case (call, df) => assert(call() eq df) }
    Memo.clearAll()
    calls.zip(first).foreach { case (call, df) => assert(!(call() eq df)) }
    Memo.clearAll()
  }

  test("nested memo builds run on a cold registry") {
    // each outer build fills an inner table while its own entry is still
    // being built: a registry that locks around builds (a recursive
    // computeIfAbsent) throws here. After the outer call, serving the
    // inner table again persists nothing new.
    def innerPairsFilled(outer: => Long): Unit = {
      Memo.clearAll()
      assert(outer > 0)
      val after = persistedIds
      Dedup.jaccardPairsCached(spark, sfDir, 0.8).count()
      assert(persistedIds == after, "the nested build must fill its table")
    }
    // survivingDocs → jaccardPairsCached
    innerPairsFilled(Pipeline.survivingDocs(spark, sfDir, 0.8).count())
    // clusterLabelsCached → jaccardPairsCached
    innerPairsFilled(Dedup.clusterLabelsCached(spark, sfDir, 0.8).count())
    Memo.clearAll()
  }
}
