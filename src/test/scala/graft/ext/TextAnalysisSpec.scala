package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Text analysis: token counts, stats, normalization, lang-ID argmax. */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("normalized: lowercase, punct → space, collapsed, trimmed") {
    val out = Seq("  Hello,   WORLD!! 42  ").toDF("text")
      .select(TextAnalysis.normalized(col("text")).as("n"))
      .as[String].head()
    assert(out == "hello world 42")
  }

  test("textStats counts tokens/alnum/stopwords on a known string") {
    val df = Seq((1L, "The cat and the hat")).toDF("doc_id", "text")
    // inline the same expressions textStats uses, over a known string
    val row = df.select(
      expr("size(regexp_extract_all(text, '([A-Za-z0-9]+)', 1))").as("n_tokens"),
      expr("length(regexp_replace(text, '[^A-Za-z0-9]', ''))").as("n_alnum"))
      .head()
    assert(row.getInt(0) == 5)   // The | cat | and | the | hat
    assert(row.getInt(1) == 15)  // 5 words x 3 letters
  }

  test("real textStats over sf0.001: ratios well-formed") {
    val df = TextAnalysis.textStats(spark, sfDir).cache()
    assert(df.count() > 0)
    assert(df.filter(col("n_tokens") < 0).count() == 0)
    assert(df.filter(col("stop_ratio") < 0 || col("stop_ratio") > 1).count() == 0)
    df.unpersist()
  }

  test("tokenCount: BPE-ish >= word tokens, both deterministic") {
    val df = TextAnalysis.tokenCount(spark, sfDir).cache()
    assert(df.filter(col("n_bpe_tokens") < col("n_word_tokens")).count() == 0,
      "splitting digits/punct can only increase token count")
    df.unpersist()
  }

  test("langId: deterministic argmax with first-wins tie-break") {
    val df1 = TextAnalysis.langId(spark, sfDir)
      .select("doc_id", "pred_lang").orderBy("doc_id").limit(10)
      .collect().map(_.toString).toSeq
    val df2 = TextAnalysis.langId(spark, sfDir)
      .select("doc_id", "pred_lang").orderBy("doc_id").limit(10)
      .collect().map(_.toString).toSeq
    assert(df1 == df2)
    val langs = TextAnalysis.langId(spark, sfDir)
      .select("pred_lang").distinct().as[String].collect().toSet
    assert(langs.subsetOf(Set("en", "de", "es", "fr")))
  }

  test("qualityFilter keeps only docs inside the token band and ratio cap") {
    val kept = TextAnalysis.qualityFilter(spark, sfDir).cache()
    assert(kept.filter(col("n_tokens") < 20 || col("n_tokens") > 1000)
      .count() == 0)
    assert(kept.filter(col("n_stop") * 10 > col("n_tokens") * 6)
      .count() == 0)
    // it is a strict filter of the stats view
    val all = TextAnalysis.textStats(spark, sfDir).count()
    assert(kept.count() > 0 && kept.count() <= all)
    kept.unpersist()
  }

  test("fingerprint equals md5 of normalized text") {
    val fp = TextAnalysis.fingerprint(spark, sfDir)
      .orderBy("doc_id").limit(1).select("fp").as[String].head()
    assert(fp.matches("[0-9a-f]{32}"))
  }

  test("bpePairCounts equals a driver-side recount of the corpus") {
    val got = TextAnalysis.bpePairCounts(spark, sfDir, k = 20).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // brute force: normalize every doc locally, count adjacent char
    // pairs of every word occurrence
    val norm = graft.Tables.load(spark, sfDir, "documents")
      .select(TextAnalysis.normalized(col("text"))).as[String].collect()
    val counts = scala.collection.mutable.Map.empty[String, Long]
    norm.foreach(_.split(" ").filter(_.nonEmpty).foreach { w =>
      (0 until w.length - 1).foreach { i =>
        val p = w.substring(i, i + 2)
        counts(p) = counts.getOrElse(p, 0L) + 1L
      }
    })
    val want = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
      .zipWithIndex.map { case ((p, n), i) => (p, n, i + 1L) }
    assert(got.sortBy(_._3).toSeq == want)
  }

  test("bpePairCounts: ranks are 1..k with deterministic tie-breaks") {
    val rows = TextAnalysis.bpePairCounts(spark, sfDir, k = 50).collect()
      .sortBy(_.getAs[Long]("rnk"))
    assert(rows.length <= 50 && rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("rnk")).toSeq == (1L to rows.length))
    rows.sliding(2).foreach {
      case Array(a, b) =>
        val (na, nb) = (a.getAs[Long]("n_occ"), b.getAs[Long]("n_occ"))
        assert(na > nb || (na == nb &&
          a.getAs[String]("pair") < b.getAs[String]("pair")))
      case _ =>
    }
    assert(rows.forall(_.getAs[String]("pair").length == 2))
  }
  test("gram novelty: full-overlap docs score 0, unique doc scores 1") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa lambda"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gramNoveltyDf(docs, 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) == 0.0 && out(2L) == 0.0, "identical docs share all grams")
    assert(out(3L) == 1.0, "disjoint vocabulary is fully novel")
  }

  test("vocabCoverage: hand-computed OOV rates; vocab join broadcasts") {
    val dir = java.nio.file.Files.createTempDirectory("vocfix").toString
    Seq(
      (1L, "a a b c", "en", "A", 7L),
      (2L, "a d", "en", "B", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // counts: a:3 b:1 c:1 d:1 -> top-2 (n desc, tk asc) = {a, b}
    val out = TextAnalysis.vocabCoverage(spark, dir, vocabSize = 2)
    val got = out.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
                                   r.getDouble(3))).toMap
    assert(got == Map("A" -> (4L, 1L, 0.25), "B" -> (2L, 1L, 0.5)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab membership must broadcast, not shuffle:\n$plan")
  }

  test("qualityClassifier: proper sigmoid scores, keep consistent, no UDF") {
    val out = TextAnalysis.qualityClassifier(spark, sfDir)
    val rows = out.collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (s, k) = (r.getDouble(1), r.getInt(2))
      assert(s > 0.0 && s < 1.0, s"score $s outside (0,1)")
      assert(k == (if (s >= 0.5) 1 else 0))
    }
    assert(rows.map(_.getInt(2)).toSet.size == 2,
      "threshold must separate the corpus (both classes present)")
    // inference is pure expression work — nothing interpreted per row
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEval") && !plan.contains("MapPartitions"),
      s"classifier must not leave codegen:\n$plan")
  }

  test("topTermsAggregated equals the window formulation; partial agg plan") {
    val agg = TextAnalysis.topTermsAggregated(spark, sfDir)
    val win = TextAnalysis.topTerms(spark, sfDir)
      .select("source", "token", "n", "rnk")
    val a = agg.collect().map(_.toString).sorted.toSeq
    val w = win.collect().map(_.toString).sorted.toSeq
    assert(a == w)
    // the aggregator path runs as an aggregate with map-side partials,
    // not a window sort
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") ||
           plan.contains("SortAggregate"), plan)
  }

  test("hashedVectorProfile: driver-side md5 recompute + parity invariant") {
    val dir = java.nio.file.Files.createTempDirectory("fhfix").toString
    val docs = Seq((1L, "alpha beta alpha", "en", "s", 16L),
                   (2L, "gamma delta", "en", "s", 11L),
                   (3L, "Alpha, BETA!", "en", "s", 12L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def profile(words: Seq[String]): (Long, Long, Long, Long) = {
      val byDim = words.map(h60).map(h =>
        (h % 64, if ((h / 64) % 2 == 0) 1L else -1L))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      (words.size.toLong, byDim.values.count(_ != 0).toLong,
       byDim.values.map(v => v * v).sum,
       byDim.map { case (d, v) => d * v }.sum)
    }
    val expected = Map(
      1L -> profile(Seq("alpha", "beta", "alpha")),
      2L -> profile(Seq("gamma", "delta")),
      3L -> profile(Seq("alpha", "beta")))
    val got = TextAnalysis.hashedVectorProfile(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected)
    // parity: each v_d ≡ cnt_d (mod 2) ⟹ l2sq ≡ n_tokens (mod 2) —
    // check it holds on the real corpus too
    val real = TextAnalysis.hashedVectorProfile(spark, sfDir)
    assert(real.filter(expr("pmod(l2sq, 2) != pmod(n_tokens, 2)"))
      .count() == 0)
  }

  test("bigramLmScore: hand-computed add-one NLL on a controlled corpus") {
    val dir = java.nio.file.Files.createTempDirectory("lmfix").toString
    Seq(
      (1L, "A b, a B!", "en", "s", 9L),   // normalizes to "a b a b"
      (2L, "a a", "en", "s", 3L),
      (3L, "c b", "zh", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // train (en): bigrams (a,b):2 (b,a):1 (a,a):1; histories a:3 b:1; V=2
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = Map(
      1L -> (3L, r4(-(2 * math.log(3 / 5.0) + math.log(2 / 3.0)) / 3)),
      2L -> (1L, r4(-math.log(2 / 5.0))),   // (a,a): (1+1)/(3+2)
      3L -> (1L, r4(-math.log(1 / 2.0))))   // unseen history: (0+1)/(0+2)
    val got = TextAnalysis.bigramLmScore(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expected)
  }

  test("bigramLmScoreBounded: OOV remap hand-check + structural bound") {
    val dir = java.nio.file.Files.createTempDirectory("lmbnd").toString
    Seq(
      (1L, "a b a b", "en", "s", 7L),
      (2L, "a a", "en", "s", 3L),
      (3L, "c b", "zh", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // train tokens: a:4, b:2 → topV=1 vocab {a}; everything else <oov>.
    // mapped train bigrams: (a,o):2 (o,a):1 (a,a):1; histories a:3 o:1;
    // smoothing V = |voc|+1 = 2
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = Map(
      1L -> (3L, r4(-(2 * math.log(3 / 5.0) + math.log(2 / 3.0)) / 3)),
      2L -> (1L, r4(-math.log(2 / 5.0))),
      3L -> (1L, r4(-math.log(1 / 3.0)))) // (o,o): unseen, history o:1
    val got = TextAnalysis.bigramLmScoreBounded(spark, dir, topV = 1)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expected)
    // the model tables are STRUCTURALLY bounded by the vocab, not the
    // data: ≤ (V+1)² bigram rows, ≤ V+1 history rows — on the real
    // corpus too, which is the whole point of the bounded variant
    val (_, bc, hc, _) =
      TextAnalysis.bigramLmParts(spark, sfDir, "en", Some(64))
    assert(bc.count() <= 65L * 65L, "bigram model exceeds (V+1)^2")
    assert(hc.count() <= 65L, "history model exceeds V+1")
  }

  test("LM score memo: one scoring pass per corpus; sweep-safe, keyed by bound") {
    graft.ext.Memo.clearAll() // also clears lmScoreCache
    val a = TextAnalysis.bigramLmScore(spark, sfDir)
    assert(TextAnalysis.bigramLmScore(spark, sfDir) eq a,
      "second consumer must ride the memoized scored frame")
    assert(!(TextAnalysis.bigramLmScoreBounded(spark, sfDir) eq a),
      "bounded and open vocab are different models, different entries")
    // another family's cold sweep unpersists tracked frames — the memo
    // must drop its entry rather than serve an unpersisted frame that
    // silently recomputes the corpus scoring on every later action
    graft.ext.Dedup.clearMemos()
    val fresh = TextAnalysis.bigramLmScore(spark, sfDir)
    assert(!(fresh eq a), "cold sweep must invalidate the memo")
    assert(fresh.storageLevel.useMemory || fresh.storageLevel.useDisk,
      "re-memoized frame must be persisted again")
  }

  test("ccnetBucketsBounded: tercile invariants hold over the bounded LM") {
    val rows = TextAnalysis.ccnetBucketsBounded(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(1)).foreach { case (lang, rs) =>
      val n = rs.length
      val sorted = rs.sortBy(r => (r.getDouble(3), r.getLong(0)))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(4) == i + 1, s"$lang rank mismatch at $i")
        assert(r.getLong(5) == (3L * i) / n, s"$lang bucket at $i")
      }
      val sizes = (0L to 2L).map(b => rs.count(_.getLong(5) == b))
      assert(sizes.max - sizes.min <= 1, s"$lang sizes $sizes")
    }
  }

  test("source Gini: driver recompute and uniform-distribution zero") {
    val got = TextAnalysis.sourceGini(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(col("source"),
        expr("size(regexp_extract_all(text, '([A-Za-z0-9]+)', 1))")
          .cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expect = docs.groupBy(_._1).map { case (src, rows) =>
      val xs = rows.map(_._2).sorted
      val n = xs.length.toLong
      val sx = xs.sum
      val six = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      src -> BigDecimal((2 * six - (n + 1) * sx).toDouble /
                        (n * sx).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got == expect)
    // all-equal values => Gini exactly 0 (rank formula sanity)
    assert(got.values.forall(g => g >= 0.0 && g < 1.0))
  }

  test("PMI co-occurrence: df bounds and recomputed scores") {
    val rows = TextAnalysis.pmiCooccurrence(spark, sfDir, k = 20).collect()
    assert(rows.nonEmpty && rows.length <= 20 * 19 / 2)
    val nDocs = graft.Tables.load(spark, sfDir, "documents").count()
    rows.foreach { r =>
      val (dfa, dfb, dfab) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(dfab <= math.min(dfa, dfb), "co-occurrence bounded by df")
      assert(r.getString(0) < r.getString(1), "canonical pair order")
      val expect = BigDecimal(math.log(
        nDocs.toDouble * dfab / (dfa.toDouble * dfb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(5) == expect, s"pmi for ${r.getString(0)}")
    }
  }

  test("gopher rules: each rule fires on its designed violation") {
    val dir = java.nio.file.Files.createTempDirectory("gopher").toString
    val good = ("the cat sat on a mat and it was fine to be here with " +
      "everyone of them that day because they have time ") * 3
    Seq(
      (1L, good.trim, "en", "s0", good.length.toLong),            // keeps
      (2L, "too short to pass the word count rule at all",
        "en", "s0", 44L),                                         // word count
      (3L, ("a " * 60).trim, "en", "s0", 120L),                   // mean len < 3
      (4L, (("#tag " * 30) + ("the be to of word " * 6)).trim,
        "en", "s0", 200L),                                        // symbols
      (5L, (("123 456 " * 30) + "the be to of and").trim,
        "en", "s0", 200L),                                        // alpha frac
      (6L, ("zorp blix quux " * 20).trim, "en", "s0", 200L))      // stop words
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.gopherRules(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    def flags(id: Long) = (out(id).getInt(6), out(id).getInt(7),
      out(id).getInt(8), out(id).getInt(9), out(id).getInt(10),
      out(id).getInt(11))
    assert(flags(1L) == (1, 1, 1, 1, 1, 1), s"good doc: ${flags(1L)}")
    assert(flags(2L)._1 == 0 && flags(2L)._6 == 0, "word count violation")
    assert(flags(3L)._2 == 0, "mean word length violation")
    assert(flags(4L)._3 == 0, "symbol ratio violation")
    assert(flags(5L)._4 == 0, "alpha fraction violation")
    assert(flags(6L)._5 == 0 && flags(6L)._6 == 0, "stop word violation")
    // keep is exactly the conjunction, on the real corpus too
    val real = TextAnalysis.gopherRules(spark, sfDir).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      assert(r.getInt(11) == r.getInt(6) * r.getInt(7) * r.getInt(8) *
        r.getInt(9) * r.getInt(10))
    }
  }

  test("ccnet buckets: terciles per language, ordered by nll") {
    val rows = TextAnalysis.ccnetBuckets(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byLang = rows.groupBy(_.getString(1))
    byLang.foreach { case (lang, rs) =>
      val n = rs.length
      // hierarchical rank must equal the plain-window rank
      val sorted = rs.sortBy(r => (r.getDouble(3), r.getLong(0)))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(4) == i + 1, s"$lang rank mismatch at $i")
        assert(r.getLong(5) == (3L * i) / n, s"$lang bucket at $i")
      }
      // bucket sizes are balanced terciles (differ by at most 1)
      val sizes = (0L to 2L).map(b => rs.count(_.getLong(5) == b))
      assert(sizes.max - sizes.min <= 1, s"$lang sizes $sizes")
      // nll ordering respects bucket order
      val maxHead = rs.filter(_.getLong(5) == 0L).map(_.getDouble(3)).max
      val minTail = rs.filter(_.getLong(5) == 2L).map(_.getDouble(3)).min
      assert(maxHead <= minTail + 1e-9, s"$lang head > tail")
    }
  }

  test("collapseRepeats: runs collapse to one copy, in order") {
    import spark.implicits._
    val out = TextAnalysis.collapseRepeatsDf(Seq(
        (1L, "a a a b a"), (2L, "x y z"), (3L, ""),
        (4L, "w w W w. w"))   // normalization merges case/punct forms
      .toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((5L, 2L, "a b a")))
    assert(out(2L) == ((3L, 0L, "x y z")))
    assert(out(3L) == ((0L, 0L, "")))
    assert(out(4L) == ((5L, 4L, "w")))
  }

  test("collapseRepeats is map-side only and idempotent on the corpus") {
    val out = TextAnalysis.collapseRepeats(spark, sfDir).cache()
    // pure projection: no shuffle anywhere in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    // the corpus exercises it naturally
    assert(out.filter(col("n_collapsed") > 0).count() > 0)
    // re-collapsing the cleaned text collapses nothing
    val again = TextAnalysis.collapseRepeatsDf(
      out.select(col("doc_id"), col("clean_text").as("text")))
    assert(again.filter(col("n_collapsed") > 0).count() == 0)
    out.unpersist()
  }

  test("vocabPrune: OOV tokens become <unk>, in place, counts exact") {
    val out = TextAnalysis.vocabPrune(spark, sfDir).cache()
    assert(out.count() > 0)
    // rebuild conserves positions: pruned text has n_tokens tokens
    val n = when(col("pruned_text") === "", 0L)
      .otherwise(size(split(col("pruned_text"), " ")).cast("long"))
    assert(out.filter(n =!= col("n_tokens")).count() == 0)
    // n_unk counts exactly the <unk> tokens in the rebuilt text
    val unkCount = size(filter(split(col("pruned_text"), " "),
      t => t === "<unk>")).cast("long")
    assert(out.filter(col("n_unk") =!= unkCount).count() == 0)
    // the 24-cut leaves real replacements on the 31-token vocabulary
    assert(out.filter(col("n_unk") > 0).count() > 0)
    out.unpersist()
  }

  test("gopherFunnel: first-fail attribution partitions every source") {
    val rows = TextAnalysis.gopherFunnel(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val parts = (2 to 7).map(r.getLong)
      assert(parts.sum == r.getLong(1),
             s"${r.getString(0)}: $parts != ${r.getLong(1)}")
    }
    // the corpus must exercise kept AND at least two rejection rules
    assert(rows.map(_.getLong(2)).sum > 0)
    assert(rows.map(_.getLong(3)).sum > 0)
    assert(rows.map(r => (4 to 7).map(r.getLong).sum).sum > 0)
  }

  test("gopherFunnel: each rule claims its own fixture doc") {
    import spark.implicits._
    def rep(w: String) = Seq.fill(60)(w).mkString(" ")
    val docs = Seq(
      (1L, "s", "too short"),                        // word count
      (2L, "s", rep("x")),                           // mean len < 3
      (3L, "s", rep("the#tag is") + " " + rep("with extra")), // symbol
      (4L, "s", rep("the 123 45 678 with")),         // alpha < 80%
      (5L, "s", rep("hello world nothing")),         // no stop words
      (6L, "s", rep("the quick fox with runs")))     // kept
      .toDF("doc_id", "source", "text")
    val f = TextAnalysis.withGopherFlags(docs, stopMin = 1)
      .select(col("doc_id"), col("r_word_count"), col("r_mean_len"),
              col("r_symbol"), col("r_alpha"), col("r_stop"),
              col("keep"))
      .collect().map(r => r.getLong(0) ->
        (1 to 6).map(r.getInt)).toMap
    assert(f(1L)(0) == 0)                       // fails word count
    assert(f(2L)(0) == 1 && f(2L)(1) == 0)      // fails mean length
    assert(f(3L)(0) == 1 && f(3L)(1) == 1 && f(3L)(2) == 0)
    assert(f(4L)(0) == 1 && f(4L)(3) == 0)
    assert(f(5L)(4) == 0 && f(5L)(0) == 1)
    assert(f(6L)(5) == 1)                       // survives the cascade
  }
}
