package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The exact-pair family's candidate budget guard: a pair-explosive
  * corpus must fail fast BEFORE the verified join runs, with an error
  * naming the conf knob and the remediations. */
class PairBudgetSpec extends SparkSpec {

  // m same-source docs all sharing one token ("zq") plus a unique
  // filler: every doc's 2-token rarity prefix contains "zq", so the
  // candidate join is m²/2-shaped while the VERIFIED output is empty
  // (jaccard = 1/3 < 0.5) — the adversarial shape where all the cost
  // is in the join the guard prices. No two docs are exact dups, so
  // the q193 collapse cannot absorb it.
  private def explosive(m: Int) = {
    import spark.implicits._
    (0 until m).map(i => (i.toLong, "src0", s"zq u$i"))
      .toDF("doc_id", "source", "text")
  }

  test("guard trips pre-join on a pair-explosive corpus, actionably") {
    spark.conf.set(Dedup.PairBudgetKey, "1000")
    try {
      val ex = intercept[IllegalStateException] {
        Dedup.jaccardPairsOf(explosive(2000), 0.5)
      }
      // actionable: the knob, the threshold lever, and the LSH route
      // must all be in the message
      assert(ex.getMessage.contains(Dedup.PairBudgetKey))
      assert(ex.getMessage.contains("threshold"))
      assert(ex.getMessage.contains("minhashLsh"))
      // pre-join: the estimate in the message is m²-shaped, far above
      // what any verified output (zero rows here) could produce
      assert(ex.getMessage.contains("estimated candidate pairs"))
    } finally spark.conf.unset(Dedup.PairBudgetKey)
  }

  test("default budget admits the same corpus; verified output is empty") {
    // the guard exists to stop m² BUILDS, not small corpora: under the
    // default budget the plan builds and the verify join (correctly)
    // returns nothing at jaccard >= 0.5
    assert(Dedup.jaccardPairsOf(explosive(200), 0.5).count() == 0L)
  }

  test("negative budget disables the guard entirely") {
    spark.conf.set(Dedup.PairBudgetKey, "-1")
    try assert(Dedup.jaccardPairsOf(explosive(2000), 0.5).count() == 0L)
    finally spark.conf.unset(Dedup.PairBudgetKey)
  }

  // m same-source docs sharing a 9-token boilerplate quote plus one
  // unique filler: at t=0.9 each 10-token doc's 2-token rarity prefix
  // is its unique filler PLUS one shared quote token, and the
  // containment join's r side is ALL tokens of ALL same-source docs —
  // so the shared prefix token alone drives an m²-shaped candidate
  // join (the boilerplate-quote-explosive shape the guard exists for).
  private def explosiveContainment(m: Int) = {
    import spark.implicits._
    val quote = "zqa zqb zqc zqd zqe zqf zqg zqh zqi"
    (0 until m).map(i => (i.toLong, "src0", s"$quote u$i"))
      .toDF("doc_id", "source", "text")
  }

  test("containment guard trips pre-join on a boilerplate-quote " +
       "corpus, actionably") {
    spark.conf.set(Dedup.PairBudgetKey, "1000")
    try {
      val ex = intercept[IllegalStateException] {
        Dedup.containmentPairsOf(explosiveContainment(2000), 0.9)
      }
      // actionable: the knob, the threshold lever, and the sketch
      // route must all be in the message
      assert(ex.getMessage.contains(Dedup.PairBudgetKey))
      assert(ex.getMessage.contains("threshold"))
      assert(ex.getMessage.contains("containmentEstimate"))
      assert(ex.getMessage.contains("estimated candidate pairs"))
    } finally spark.conf.unset(Dedup.PairBudgetKey)
  }

  test("containment default budget admits the quote cluster; the " +
       "verified output is complete") {
    // every pair shares 9 of min(10, 10) tokens -> cont = 0.9 >= t:
    // the full m-choose-2 cluster must come back
    assert(Dedup.containmentPairsOf(explosiveContainment(60), 0.9)
      .count() == 60L * 59 / 2)
  }

  test("negative budget disables the containment guard") {
    spark.conf.set(Dedup.PairBudgetKey, "-1")
    try assert(
      Dedup.containmentPairsOf(explosiveContainment(300), 0.9)
        .count() == 300L * 299 / 2)
    finally spark.conf.unset(Dedup.PairBudgetKey)
  }

  test("malformed budget value fails naming the conf key and the text") {
    // one guard parses the value for both exact families
    spark.conf.set(Dedup.PairBudgetKey, "not-a-number")
    try {
      for (family <- Seq[() => Any](
             () => Dedup.jaccardPairsOf(explosive(10), 0.5),
             () => Dedup.containmentPairsOf(explosiveContainment(10), 0.9))) {
        val ex = intercept[IllegalArgumentException](family())
        assert(ex.getMessage.contains(Dedup.PairBudgetKey))
        assert(ex.getMessage.contains("not-a-number"))
      }
    } finally spark.conf.unset(Dedup.PairBudgetKey)
  }

  test("gate corpus stays far below the default budget") {
    // the production default must never trip on a legitimate corpus:
    // the sf0.001 documents table builds and verifies under it
    assert(Dedup.jaccardPairsOf(
      graft.Tables.load(spark, sfDir, "documents"), 0.8).count() >= 0L)
  }
}
