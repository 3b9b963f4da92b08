package graft.ext

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** BPE merge training (q213) against an independent in-memory trainer:
  * same tokenization, same greedy left-to-right merge, same
  * (count desc, pair asc) tie-break. */
class BpeMergesSpec extends SparkSpec {

  // 10 merges crosses the trainer's fold-chain materialization
  // boundary (cap 4) twice — the equality test certifies the rebase
  // does not change a single learned merge
  private val NMerges = 10

  /** Reference trainer on the collected vocabulary. */
  private def model(): Seq[(Long, String, String, Long)] = {
    val vocab: Map[String, Long] = Tables.load(spark, sfDir, "documents")
      .select(col("text")).collect()
      .flatMap(_.getString(0).toLowerCase
        .replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim
        .split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    var syms: Map[Vector[String], Long] =
      vocab.groupBy(_._1.split("").toVector).map { case (s, ws) =>
        s -> ws.values.sum
      }
    (1 to NMerges).flatMap { t =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      syms.foreach { case (s, n) =>
        s.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + n
        }
      }
      if (counts.isEmpty) None
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        syms = syms.groupBy { case (s, _) =>
          s.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == l && x == r)
              acc.init :+ (l + r)
            else acc :+ x
          }
        }.map { case (s, ws) => s -> ws.values.sum }
        Some((t.toLong, l, r, c))
      }
    }
  }

  test("learned merges equal the reference trainer's, step for step") {
    val got = TextAnalysis.bpeMerges(spark, sfDir, NMerges)
      .collect().map(r => (r.getAs[Long]("step"), r.getAs[String]("lhs"),
                           r.getAs[String]("rhs"), r.getAs[Long]("n_occ")))
      .sortBy(_._1).toSeq
    assert(got == model())
  }

  test("learned table identical at any (foldChainCap, batchSize)") {
    // the memo key deliberately excludes both knobs — this is the spec
    // that makes that exclusion safe (clear the memo between runs so
    // every combination actually retrains)
    def train(cap: Int, batch: Int): Seq[String] = {
      Memo.clearAll()
      TextAnalysis.bpeMerges(spark, sfDir, NMerges,
          foldChainCap = cap, batchSize = batch)
        .collect().map(_.toString).sorted.toSeq
    }
    val ref = train(4, 1)        // sequential at the production cap
    assert(train(1, 1) == ref,   "rebase every round")
    assert(train(4, 64) == ref,  "batched production default")
    assert(train(2, 8) == ref,   "mid-size batch across rebases")
    Memo.clearAll()
  }

  test("parquet-spill rebase (the production-budget lineage cut) " +
       "changes nothing") {
    // cap=1 + batch=1 forces a rebase every round, so 20 merges cross
    // the ParquetRebaseEvery=8 spill boundary twice — training must
    // continue identically off the spilled frame (this is the path
    // that bounds the RDD object-graph depth at k >= 1024, where the
    // chained rebases used to overflow task deserialization)
    val wc = Tables.load(spark, sfDir, "documents")
      .select(explode(split(TextAnalysis.normalized(col("text")), " "))
        .as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .persist()
    try {
      val spilled = TextAnalysis.bpeTrainLoop(wc, 20, 1, 1)
      val plain = TextAnalysis.bpeTrainLoop(wc, 20, 32, 1)
      assert(spilled == plain)
      assert(spilled.size == 20)
    } finally { wc.unpersist(); () }
  }

  test("batched default equals sequential at k=32 on the corpus") {
    val wc = Tables.load(spark, sfDir, "documents")
      .select(explode(split(TextAnalysis.normalized(col("text")), " "))
        .as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .persist()
    try {
      val seq1 = TextAnalysis.bpeTrainLoop(wc, 32, 4, 1)
      val b64 = TextAnalysis.bpeTrainLoop(wc, 32, 4, 64)
      assert(b64 == seq1)
      assert(TextAnalysis.lastTrainRounds < 32,
        "the batch must actually compress rounds on this corpus")
    } finally { wc.unpersist(); () }
  }

  test("independent-pair vocabulary fills the whole batch in one round") {
    import spark.implicits._
    // 18×18 two-letter words from DISJOINT lhs/rhs alphabets with
    // strictly descending counts: no candidate's symbol can appear on
    // the other side of another, no word carries a trigram, so the
    // compatibility prefix runs to the batch cap and the created-pair
    // floor is zero — 64 merges in ONE vocab aggregation. This pins
    // that the round compression is bounded by the CORPUS (the gate
    // corpus's spelling chains), not by the selection mechanism.
    val ls = "abcdefghijklmnopqr"
    val rs = "stuvwxyz0123456789"
    val wc = (for (i <- 0 until 18; j <- 0 until 18)
      yield (s"${ls(i)}${rs(j)}", 100000L - (i * 18 + j) * 10L))
      .toDF("w", "n")
    val seq1 = TextAnalysis.bpeTrainLoop(wc, 64, 4, 1)
    val b64 = TextAnalysis.bpeTrainLoop(wc, 64, 4, 64)
    assert(b64 == seq1)
    assert(TextAnalysis.lastTrainRounds == 1,
      s"expected one round, got ${TextAnalysis.lastTrainRounds}")
  }

  test("measured trigram floor extends a batch the free floor cuts") {
    import spark.implicits._
    // (a,b)=100 accepted; the free floor then reads 95 off the slice
    // pair (x,a) and would stop before (a,c)=95 — but the word "xac"
    // carries trigram (x,a,c), NOT (x,a,b), so the measured ceiling on
    // pairs (a,b) can create is 0 and (a,c) joins the batch. Sequential
    // equality must hold (merging (a,b) cannot touch (a,c)'s count),
    // and k=4 trains in 2 rounds instead of 4.
    val wc = Seq(("ab", 100L), ("xac", 95L), ("cd", 90L)).toDF("w", "n")
    val seq1 = TextAnalysis.bpeTrainLoop(wc, 4, 4, 1)
    val b64 = TextAnalysis.bpeTrainLoop(wc, 4, 4, 64)
    assert(b64 == seq1)
    assert(TextAnalysis.lastTrainRounds == 2,
      s"expected 2 rounds, got ${TextAnalysis.lastTrainRounds}")
  }

  test("batched selection degrades safely on adversarial interacting " +
       "pairs") {
    import spark.implicits._
    // top pairs share symbols ((a,a)/(a,b)/(b,a)) and merging (a,a)
    // creates (aa,·) pairs that can outrank later candidates — every
    // batch guard (disjointness, count gap, prefix stop) fires, and
    // the batched trainer must still equal sequential step for step
    val wc = Seq(("aaab", 100L), ("aabb", 90L), ("abab", 80L),
                 ("baaa", 70L), ("ccdd", 60L), ("cdcd", 55L),
                 ("dcba", 50L))
      .toDF("w", "n")
    val seq1 = TextAnalysis.bpeTrainLoop(wc, 8, 4, 1)
    val b64 = TextAnalysis.bpeTrainLoop(wc, 8, 4, 64)
    assert(b64 == seq1)
  }

  test("merged symbols grow: a later merge can consume an earlier one") {
    // with enough steps some merge's lhs or rhs is itself multi-char —
    // the property that distinguishes a TRAINER from pair counting
    val deep = TextAnalysis.bpeMerges(spark, sfDir, 12)
      .collect().map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs")))
    assert(deep.exists { case (l, r) => l.length > 1 || r.length > 1 },
      s"no compound merge in 12 steps: ${deep.mkString(", ")}")
  }
}
