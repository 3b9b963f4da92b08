package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DSIR importance-resampling selection (q197). */
class SelectionSpec extends SparkSpec {
  import spark.implicits._

  /** Controlled corpus: target-language docs use one vocabulary,
    * off-target docs another, and one raw doc each side of the divide —
    * the importance weight must rank the target-looking doc above the
    * off-target-looking one. */
  private lazy val fixtureDir: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("dsir_fixture").toString
    Seq(
      // target distribution (lang=en): "alpha beta" bigrams
      (0L, "alpha beta alpha beta alpha beta", "en", "s0", 32L),
      (1L, "alpha beta alpha beta", "en", "s0", 21L),
      // off-target pool noise (lang=de): "gamma delta" bigrams
      (2L, "gamma delta gamma delta gamma delta", "de", "s1", 35L),
      (3L, "gamma delta gamma delta", "de", "s1", 23L),
      // scored pool probes: one target-looking, one off-target-looking
      (4L, "alpha beta alpha beta alpha", "fr", "s2", 27L),
      (5L, "gamma delta gamma delta gamma", "fr", "s2", 29L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dsirSelect ranks target-like docs above off-target docs") {
    val out = Selection.dsirSelect(spark, fixtureDir, dim = 64, k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    // every doc has features (all have >= 2 tokens)
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    // n_feats = token count - 1 per doc
    assert(out(0L)._1 == 5L && out(4L)._1 == 4L && out(5L)._1 == 4L)
    // the target-looking probe outweighs the off-target-looking one
    assert(out(4L)._2 > out(5L)._2,
      s"target-like ${out(4L)._2} should beat off-target ${out(5L)._2}")
    // target-vocabulary docs occupy the top-3; off-target not selected
    assert(out(4L)._3 == 1L && out(5L)._3 == 0L)
    assert(Seq(2L, 3L).forall(out(_)._3 == 0L))
  }

  test("dsirSelect weight matches a driver-side model recompute") {
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
      .select("doc_id", "text", "lang")
      .as[(Long, String, String)].collect()
    val dim = 64
    def bigrams(t: String): Seq[String] = {
      val ts = t.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
        .replaceAll(" +", " ").trim.split(" ").filter(_.nonEmpty)
      if (ts.length < 2) Seq.empty
      else ts.sliding(2).map(p => p(0) + " " + p(1)).toSeq
    }
    def bucket(bg: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(bg.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % dim
    }
    val feats = docs.flatMap { case (id, t, lang) =>
      bigrams(t).map(bg => (id, lang, bucket(bg))) }
    val cr = feats.groupBy(_._3).map { case (b, xs) => b -> xs.length.toLong }
    val ct = feats.filter(_._2 == "en").groupBy(_._3)
      .map { case (b, xs) => b -> xs.length.toLong }
    val nr = cr.values.sum; val nt = ct.values.sum
    def delta(b: Long): Double =
      math.log(((ct.getOrElse(b, 0L) + 1L) * (nr + dim)).toDouble /
               ((cr.getOrElse(b, 0L) + 1L) * (nt + dim)).toDouble)
    val expected = feats.groupBy(_._1).map { case (id, xs) =>
      id -> BigDecimal(xs.map(f => delta(f._3)).sum)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble }
    val got = Selection.dsirSelect(spark, fixtureDir, dim = dim, k = 3)
      .select("doc_id", "logw").as[(Long, Double)].collect().toMap
    expected.foreach { case (id, w) =>
      assert(math.abs(got(id) - w) < 5e-4, s"doc $id: got ${got(id)}, model $w")
    }
  }

  test("dsirResample: seeded Gumbel noise, k selected, overlaps-but-differs from argmax") {
    val k = 20
    val res = Selection.dsirResample(spark, sfDir, k = k).cache()
    assert(res.filter(col("selected") === 1).count() == k)
    // deterministic: same seed -> identical selection
    val again = Selection.dsirResample(spark, sfDir, k = k)
      .filter(col("selected") === 1).select("doc_id")
      .as[Long].collect().toSet
    val sel = res.filter(col("selected") === 1).select("doc_id")
      .as[Long].collect().toSet
    assert(again == sel)
    // a different seed moves the sample (overwhelmingly likely)
    val other = Selection.dsirResample(spark, sfDir, k = k, seed = "gumbel2")
      .filter(col("selected") === 1).select("doc_id")
      .as[Long].collect().toSet
    assert(other != sel, "independent Gumbel draws should differ")
    // resampling is noisy argmax: high-weight docs still favored, so the
    // overlap with the argmax top-k should be nonzero but not total
    val argmax = Selection.dsirSelect(spark, sfDir, k = k)
      .filter(col("selected") === 1).select("doc_id")
      .as[Long].collect().toSet
    assert((sel & argmax).nonEmpty, "resample ignores the weights entirely?")
    assert(sel != argmax, "resample degenerated to pure argmax")
    // gkey is logw + g where g = -ln(-ln(u)) from 48 exact hash bits:
    // recompute one row driver-side
    val row = res.filter(col("selected") === 1)
      .orderBy(col("doc_id")).head()
    val id = row.getLong(0); val logw = row.getDouble(1)
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(("gumbel1" + id).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 281474976710656.0
    val expect = BigDecimal(logw + -math.log(-math.log(u)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(row.getDouble(2) - expect) < 5e-4,
      s"doc $id gkey ${row.getDouble(2)} vs model $expect")
    res.unpersist()
  }

  test("dsirSelect on the real corpus: deterministic, k selected, plan bounded") {
    val a = Selection.dsirSelect(spark, sfDir, k = 20)
    val b = Selection.dsirSelect(spark, sfDir, k = 20)
    assert(a.collect().sortBy(_.getLong(0)).toSeq ==
           b.collect().sortBy(_.getLong(0)).toSeq)
    assert(a.filter(col("selected") === 1).count() == 20)
    // the scoring join must broadcast the bucket model (a SortMergeJoin
    // here would shuffle the corpus-sized feature table); the top-k cut
    // must be a TakeOrdered, not a global sort. collect() first — the
    // final adaptive plan is only materialized by execution.
    a.collect()
    val plan = a.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
  }

  test("heldout DSIR: target corpus shapes the model but never competes") {
    // two-corpus formulation: target = source s0 ("alpha beta" vocab),
    // pool = everything else. Pool docs with target-like vocabulary
    // must outrank off-target ones, and the target docs themselves
    // must not appear in the output at all.
    val out = Selection.dsirSelectHeldout(spark, fixtureDir, dim = 64,
        k = 1, targetSource = "s0")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(out.keySet == Set(2L, 3L, 4L, 5L),
      s"held-out target docs 0/1 must be excluded, got ${out.keySet}")
    // doc 4 carries the target's "alpha beta" bigrams — highest weight
    assert(out(4L)._1 > out(5L)._1 && out(4L)._2 == 1L)
    assert(Seq(2L, 3L, 5L).forall(out(_)._2 == 0L))
    // raw model excludes the target corpus: doc 4's weight here must
    // exceed its in-pool-formulation weight (its own bigrams no longer
    // inflate the raw model's target-bucket counts)
    val inPool = Selection.dsirSelect(spark, fixtureDir, dim = 64, k = 1)
      .filter(col("doc_id") === 4L).head().getDouble(2)
    assert(out(4L)._1 != inPool,
      "held-out and in-pool formulations must differ on the fixture")
  }

  test("another family's cold sweep cannot strand the docw memo") {
    // Memo.clearAll() is GLOBAL: a Dedup/Similarity cold sweep
    // drops the docw frame's blocks. The memo must be invalidated with
    // them — otherwise it keeps serving an unpersisted frame and every
    // later selection action silently recomputes the corpus-sized
    // feature build (the round-10 ADVICE finding).
    Selection.dsirSelect(spark, sfDir, k = 5).count()
    assert(Selection.docwCache.keys(spark).nonEmpty,
      "memo populated by the call")
    Dedup.clearMemos() // ANOTHER family's sweep
    assert(Selection.docwCache.keys(spark).isEmpty,
      "Memo.clearAll() must invalidate the docw memo it drained")
    // and a fresh call rebuilds a genuinely persisted entry
    Selection.dsirSelect(spark, sfDir, k = 5).count()
    val rebuilt = Selection.docwCache.keys(spark)
      .flatMap(Selection.docwCache.get(spark, _)).head
    assert(rebuilt.storageLevel !=
             org.apache.spark.storage.StorageLevel.NONE,
      "rebuilt docw frame must be persisted, not a stranded plan")
    Selection.clearMemos()
  }
}
