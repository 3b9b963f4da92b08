package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup family: exact, fingerprint, MinHash+LSH, SimHash, Jaccard.
  * sf0.001 documents carry planted near-duplicates (suffix-perturbed
  * copies); the fuzzy operators must find them without any all-pairs
  * join in the plan. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup groups identical texts, keeps min doc_id") {
    val docs = spark.createDataFrame(Seq(
      (1L, "same text"), (2L, "same text"), (3L, "unique")))
      .toDF("doc_id", "text").createOrReplaceTempView("ignored")
    val out = Seq((1L, "same text"), (2L, "same text"), (3L, "unique"))
      .toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    val dups = out.filter(col("n_copies") > 1).collect()
    assert(dups.length == 1 && dups.head.getLong(1) == 1L &&
           dups.head.getLong(2) == 2L)
  }

  test("fingerprint dedup is case/punct/whitespace-insensitive") {
    val out = Seq((1L, "Hello, World!"), (2L, "hello   world"),
                  (3L, "different"))
      .toDF("doc_id", "text")
      .groupBy(md5(TextAnalysis.normalized(col("text"))).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    assert(out.filter(col("n_copies") === 2).count() == 1)
  }

  test("minhash-LSH finds high-Jaccard pairs and verifies exactly") {
    val pairs = Dedup.minhashLsh(spark, sfDir, threshold = 0.5).cache()
    assert(pairs.count() > 0, "sf0.001 contains planted near-dups")
    // verification is exact Jaccard — no pair below threshold survives
    assert(pairs.filter(col("jaccard") < 0.5).count() == 0)
    assert(pairs.filter(col("jaccard") > 1.0).count() == 0)
    pairs.unpersist()
  }

  test("minhash-LSH plan contains no cartesian product") {
    val plan = Dedup.minhashLsh(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "LSH banding must candidate via equi-join on (band, hash)")
  }

  test("AMS estimate drives the verify-join broadcast choice, both plans correct") {
    // the q123 estimator wired into planning: candidate volume from the
    // band-key F2 sketch decides broadcast-vs-shuffle for the verify
    // joins. Assert the DECISION flips the physical plan (AQE off, so
    // the assert sees OUR choice, not a runtime rescue) and that both
    // plans produce identical pairs.
    // disable AQE AND Spark's own auto-broadcast so the only possible
    // source of a BroadcastHashJoin is the estimator's hint
    val aqeKey = "spark.sql.adaptive.enabled"
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevAqe = spark.conf.get(aqeKey)
    val prevAuto = spark.conf.getOption(autoKey)
    spark.conf.set(aqeKey, "false")
    spark.conf.set(autoKey, "-1")
    try {
      def plan(): String = Dedup.minhashLsh(spark, sfDir)
        .queryExecution.executedPlan.toString
      // sf0.001: estimated candidate bytes are far below 10 MB ->
      // the estimator broadcasts the candidates, corpus never shuffled
      spark.conf.set(Dedup.BroadcastVerifyKey, (10L << 20).toString)
      assert(plan().contains("BroadcastHashJoin"),
        "small estimate must broadcast the verify join")
      val broadcastPairs = Dedup.minhashLsh(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq
      // force the shuffle path: threshold 0 makes every estimate too big
      spark.conf.set(Dedup.BroadcastVerifyKey, "0")
      val shuffled = plan()
      assert(!shuffled.contains("BroadcastHashJoin"),
        s"zero threshold must shuffle the verify join:\n$shuffled")
      assert(shuffled.contains("SortMergeJoin"))
      val shufflePairs = Dedup.minhashLsh(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq
      assert(broadcastPairs == shufflePairs,
        "plan choice must never change the result")
    } finally {
      spark.conf.unset(Dedup.BroadcastVerifyKey)
      prevAuto.fold(spark.conf.unset(autoKey))(v =>
        spark.conf.set(autoKey, v))
      spark.conf.set(aqeKey, prevAqe)
    }
  }

  test("AMS candidate estimate tracks the true band self-join volume") {
    val sh = Dedup.shingledOf(graft.Tables.load(spark, sfDir, "documents"))
    val est = Dedup.estimatedCandidatesOfSig(Dedup.signatures(sh))
    // apples-to-apples truth: the PRE-distinct ordered band join volume
    // (F2 - N)/2 estimates — multi-band duplicates included
    val bands = Dedup.signatures(sh).select(col("doc_id"),
      Dedup.bandKey(col("sig")))
    val actual = bands.as("l").join(bands.as("r"),
        col("l.bk") === col("r.bk") &&
        col("l.doc_id") < col("r.doc_id")).count()
    // std ~ F2/sqrt(w) ≈ F2/22: a 2x band is generous — the estimate
    // only needs order-of-magnitude accuracy to pick a join strategy
    assert(est > 0, "planted near-dups must yield candidates")
    assert(est <= actual * 2 + 100 && actual <= est * 2 + 100,
      s"estimate $est vs actual $actual out of band")
  }

  test("broadcast-disable (-1) is honored; size strings parse") {
    val aqeKey = "spark.sql.adaptive.enabled"
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevAqe = spark.conf.get(aqeKey)
    val prevAuto = spark.conf.getOption(autoKey)
    spark.conf.set(aqeKey, "false")
    try {
      def plan(): String = Dedup.minhashLsh(spark, sfDir)
        .queryExecution.executedPlan.toString
      // Spark's conventional broadcast-disable must NOT fall back to a
      // 10 MB default: with the knob unset and auto=-1, the verify join
      // must take the shuffle path
      spark.conf.unset(Dedup.BroadcastVerifyKey)
      spark.conf.set(autoKey, "-1")
      assert(!plan().contains("BroadcastHashJoin"),
        "autoBroadcastJoinThreshold=-1 must forbid the verify broadcast")
      // a Spark size string on our own knob parses instead of crashing
      spark.conf.set(Dedup.BroadcastVerifyKey, "64MB")
      assert(plan().contains("BroadcastHashJoin"),
        "64MB threshold must broadcast the tiny sf0.001 candidate set")
    } finally {
      spark.conf.unset(Dedup.BroadcastVerifyKey)
      prevAuto.fold(spark.conf.unset(autoKey))(v =>
        spark.conf.set(autoKey, v))
      spark.conf.set(aqeKey, prevAqe)
    }
  }

  test("candidate estimate is 0 (not a crash) on an empty shingle table") {
    // docs too short to shingle: shingledOf drops them all, and the
    // AMS F2 of an empty key multiset is exactly 0
    val docs = Seq((1L, "one"), (2L, "two words")).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val sh = Dedup.shingledOf(docs)
    assert(sh.count() == 0, "3-gram shingling of <3-word docs is empty")
    assert(Dedup.estimatedCandidatesOfSig(Dedup.signatures(sh)) == 0L)
  }

  test("exact-dup collapse output is row-identical to the direct path") {
    // planted corpus: 3 exact-dup groups (identical after normalize),
    // one near-dup pair across groups, short unshingleable dups, uniques
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val docs = (
      (1L to 6L).map(i => (i, base)) ++            // exact copies
      // case/punct variants normalize to the SAME fingerprint as base,
      // so ids 1-6 and 11-14 form one 10-member group
      (11L to 14L).map(i => (i, base.toUpperCase + "!")) ++
      Seq((21L, base + " with a small twist at the end here okay")) ++
      (31L to 33L).map(i => (i, "tiny doc")) ++          // unshingleable dups
      Seq((41L, "completely different text about spark catalyst " +
                "optimizer rules and physical plan strategies today"),
          (42L, "another unrelated document mentioning parquet column " +
                "pruning predicate pushdown and shuffle partitioning"))
    ).toDF("doc_id", "text")
    def run(collapse: Boolean): Seq[String] =
      Dedup.minhashLshOf(docs, 0.5, collapse = Some(collapse))
        .collect().map(_.toString).sorted.toSeq
    val collapsed = run(true)
    val direct = run(false)
    assert(collapsed.nonEmpty, "planted duplicates must yield pairs")
    assert(collapsed == direct,
      s"collapse must be exact:\ncollapsed=$collapsed\ndirect=$direct")
    // sanity on content: every intra-group pair of the 10-copy group
    // (uppercase normalizes to the same fingerprint) is present at 1.0,
    // and no pair involves the unshingleable tiny docs
    assert(!collapsed.exists(s => s.contains("[31,") || s.contains(",31,")),
      "too-short docs produce no pairs on either path")
  }

  test("collapse bounds LSH join volume linearly in duplicate count") {
    // one 80-copy boilerplate group: direct banding creates an
    // 80-member bucket in EVERY band -> 3160 candidate pairs through
    // the verify join; collapsed, the joins see ONE representative and
    // the 3160 pairs degenerate to output emission
    val boiler = "identical boilerplate header text repeated across " +
      "thousands of crawled pages with navigation and footer words"
    val docs = (
      (1L to 80L).map(i => (i, boiler)) ++
      Seq((101L, "some genuinely unique document text about databases " +
                 "query optimization and distributed execution engines"))
    ).toDF("doc_id", "text")
    def candidates(d: org.apache.spark.sql.DataFrame) =
      Dedup.candidatePairsOfSig(Dedup.signatures(Dedup.shingledOf(d)))
        .count()
    val directCand = candidates(docs)
    assert(directCand >= 80L * 79 / 2,
      s"direct banding must pay the quadratic bucket: $directCand")
    // collapsed: candidates are generated over representatives only
    val keyed = docs.select(col("doc_id"),
      md5(TextAnalysis.normalized(col("text"))).as("fp"))
    val reps = docs.join(
      keyed.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id")),
      Seq("doc_id"), "left_semi")
    val repCand = candidates(reps)
    assert(repCand <= 1L,
      s"rep banding must see at most the cross-group pair: $repCand")
    // and the full collapsed operator still emits every member pair
    val out = Dedup.minhashLshOf(docs, 0.5, collapse = Some(true))
    assert(out.count() == 80L * 79 / 2)
    assert(out.filter(col("jaccard") =!= 1.0).count() == 0)
  }

  test("forced collapse is row-identical across all four pair families") {
    // planted corpus exercising every collapse concern: a 6-copy group,
    // a 2-copy near-dup group (cross-group rep pair expands 6x2=12
    // member pairs), the SAME text under another source (must pair for
    // minhash/simhash, must NOT for the same-source jaccard/containment
    // — the source-scoped group key), a contained short doc + its dup,
    // and an unrelated doc
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val twist = base.replace("dog", "cat")
    val contained = "quick brown fox jumps lazy dog"
    val rows =
      (1L to 6L).map(i => (i, "s1", base)) ++
      Seq((7L, "s1", twist), (8L, "s1", twist)) ++
      Seq((9L, "s2", base)) ++
      Seq((10L, "s1", contained), (11L, "s1", contained)) ++
      Seq((12L, "s1", "totally different words about query engines " +
                      "and columnar storage formats here"))
    val dir = java.nio.file.Files.createTempDirectory("collapse4").toString
    rows.toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val families: Seq[(String,
                       Option[Boolean] => org.apache.spark.sql.DataFrame)] =
      Seq(
        ("minhash", c => Dedup.minhashLsh(spark, dir, collapse = c)),
        ("simhash", c => Dedup.simhashPairs(spark, dir, collapse = c)),
        ("jaccard", c => Dedup.jaccardPairs(spark, dir, 0.8, collapse = c)),
        ("containment",
          c => Dedup.containmentPairs(spark, dir, collapse = c)),
        ("containment_est",
          c => Dedup.containmentEstimate(spark, dir, collapse = c)))
    for ((name, family) <- families) {
      val d = family(Some(false)).collect().map(_.toString).sorted.toSeq
      val cDf = family(Some(true))
      // the collapsed plan is structurally distinct (intra ∪ cross
      // union); asserting it guards against the forced gate silently
      // running the direct pipeline (e.g. a probe quirk) — identical
      // output would make that invisible otherwise
      assert(cDf.queryExecution.optimizedPlan.toString.contains("Union"),
        s"$name: forced collapse must actually take the collapsed plan")
      val c = cDf.collect().map(_.toString).sorted.toSeq
      assert(d.nonEmpty, s"$name: planted corpus must yield pairs")
      assert(c == d, s"$name collapse must be exact:\n direct=$d\n collapsed=$c")
    }
    // the cross-source identical pair (1,9) exists for the corpus-wide
    // families and is absent for the same-source ones
    def has19(s: Seq[String]) = s.exists(_.startsWith("[1,9,"))
    assert(has19(Dedup.minhashLsh(spark, dir, collapse = Some(false))
      .collect().map(_.toString).sorted.toSeq))
    assert(!has19(Dedup.jaccardPairs(spark, dir, 0.8, collapse = Some(false))
      .collect().map(_.toString).sorted.toSeq))
  }

  test("simhash pairs are within the Hamming bound, found via chunks") {
    val pairs = Dedup.simhashPairs(spark, sfDir, maxHam = 3).cache()
    assert(pairs.count() > 0)
    assert(pairs.filter(col("hamming") > 3).count() == 0)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    pairs.unpersist()
  }

  test("simhash combinatorial-block pairs equal the brute-force Hamming join") {
    val sh = Dedup.simhashesOf(graft.Tables.load(spark, sfDir, "documents"))
      .cache()
    val brute = sh.as("l").join(sh.as("r"),
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
              bit_count(col("l.simhash").bitwiseXOR(col("r.simhash")))
                .as("hamming"))
      .filter(col("hamming") <= 3)
    val banded = Dedup.simhashPairs(spark, sfDir, maxHam = 3)
    // recall AND precision exactly 1: pigeonhole guarantees every
    // ham<=3 pair shares a 3-block combo key; the verify filter removes
    // everything else
    assert(banded.exceptAll(brute).count() == 0 &&
           brute.exceptAll(banded).count() == 0)
    sh.unpersist()
  }

  test("jaccard pairs: symmetric-free (a<b), all above threshold") {
    val pairs = Dedup.jaccardPairs(spark, sfDir, 0.8).cache()
    assert(pairs.filter(col("a_id") >= col("b_id")).count() == 0)
    assert(pairs.filter(col("jac") < 0.8 || col("jac") > 1.0).count() == 0)
    pairs.unpersist()
  }

  test("jaccard pairs: prefix-filter candidates match the brute-force join") {
    val t = 0.5
    // brute-force reference: same-source self-join (the old plan shape)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"),
              graft.functions.HashShingles.shingles(
                split(TextAnalysis.normalized(col("text")), " "), 1).as("ws"))
      .withColumn("n", size(col("ws")))
    val brute = docs.as("l").join(docs.as("r"),
        col("l.source") === col("r.source") &&
        col("l.doc_id") < col("r.doc_id"))
      .withColumn("inter", graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("l.ws"), col("r.ws")))
      .withColumn("jac", col("inter").cast("double") /
        (col("l.n") + col("r.n") - col("inter")))
      .filter(col("jac") >= t)
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
              col("jac"))
    val fast = Dedup.jaccardPairs(spark, sfDir, t)
    // exact candidate generation: identical result set, value for value
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty)
  }

  test("jaccard pairs plan joins on prefix tokens, never on source alone") {
    val plan = Dedup.jaccardPairs(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("token"),
      "candidate generation must join on prefix token")
    // `source` may appear in a join key only as part of the composite
    // (source, token) candidate key — never as the sole equi-key
    val sourceOnlyJoin = plan.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") ||
       l.contains("ShuffledHashJoin")) &&
      l.contains("source") && !l.contains("token"))
    assert(!sourceOnlyJoin, "no join keyed on source alone")
  }

  test("minhashLshCached returns the same persisted frame per (dir, threshold)") {
    val a = Dedup.minhashLshCached(spark, sfDir, 0.5)
    val b = Dedup.minhashLshCached(spark, sfDir, 0.5)
    assert(a eq b)
  }

  test("embedding near-dup: candidates only within cells, cos in [-1,1]") {
    val pairs = Dedup.embeddingNearDup(spark, sfDir, 0.35).cache()
    assert(pairs.count() > 0)
    assert(pairs.filter(col("cos_r") < 0.35 - 1e-4).count() == 0)
    assert(pairs.filter(abs(col("cos_r")) > 1.0 + 1e-9).count() == 0)
    pairs.unpersist()
  }

  test("clusterLabels: hash-min label propagation finds components") {
    import spark.implicits._
    // two chains (needing >1 iteration) and one pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
                    (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("a_id", "b_id")
    val labels = Dedup.clusterLabels(pairs).as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(labels(_) == 1L))
    assert(labels(10L) == 10L && labels(11L) == 10L)
    assert((20L to 22L).forall(labels(_) == 20L))
  }

  test("clusterLabels: an unconverged run leaves nothing persisted after clearMemos") {
    import spark.implicits._
    val sc = spark.sparkContext
    Dedup.clearMemos()
    val before = sc.getPersistentRDDs.size
    // a 6-node chain needs more than one iteration: maxIter = 1 throws
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      Dedup.clusterLabels(chain, maxIter = 1)
    }
    Dedup.clearMemos()
    assert(sc.getPersistentRDDs.size == before)
  }

  test("dedupedCorpus keeps one survivor per cluster plus all unpaired docs") {
    val pairs = Dedup.minhashLsh(spark, sfDir)
      .select(col("a_id"), col("b_id")).cache()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val members = pairs.select(col("a_id").as("id"))
      .union(pairs.select(col("b_id").as("id"))).distinct().count()
    val clusters = Dedup.clusterLabels(pairs)
      .select("label").distinct().count()
    val survivors = Dedup.dedupedCorpus(spark, sfDir).cache()
    assert(survivors.count() == nDocs - members + clusters)
    // a survivor is its own cluster representative
    assert(survivors.filter(col("doc_id") =!= col("cluster")).count() == 0)
    survivors.unpersist(); pairs.unpersist()
  }

  test("dedupedCorpusExact clusters the exact pair set deterministically") {
    val t = 0.8
    val pairs = Dedup.jaccardPairs(spark, sfDir, t)
      .select(col("a_id"), col("b_id")).cache()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val members = pairs.select(col("a_id").as("id"))
      .union(pairs.select(col("b_id").as("id"))).distinct().count()
    val clusters = Dedup.clusterLabels(pairs)
      .select("label").distinct().count()
    val survivors = Dedup.dedupedCorpusExact(spark, sfDir, t).cache()
    assert(survivors.count() == nDocs - members + clusters)
    assert(survivors.filter(col("doc_id") =!= col("cluster")).count() == 0)
    // deterministic: two computations agree row-for-row
    val again = Dedup.dedupedCorpusExact(spark, sfDir, t)
    assert(survivors.exceptAll(again).isEmpty &&
           again.exceptAll(survivors).isEmpty)
    survivors.unpersist(); pairs.unpersist()
  }

  test("cluster size histogram conserves paired docs and cluster counts") {
    val pairs = Dedup.jaccardPairsCached(spark, sfDir, 0.8)
    val members = pairs.select(col("a_id").as("id"))
      .union(pairs.select(col("b_id").as("id"))).distinct().count()
    val clusters = Dedup.clusterLabels(
      pairs.select(col("a_id"), col("b_id"))).select("label")
      .distinct().count()
    val hist = Dedup.clusterSizeHistogram(spark, sfDir).cache()
    // every cluster has >= 2 members (only paired docs enter)
    assert(hist.filter(col("cluster_size") < 2).count() == 0)
    // docs and clusters are conserved across the histogram
    assert(hist.agg(sum("n_docs")).head.getLong(0) == members)
    assert(hist.agg(sum("n_clusters")).head.getLong(0) == clusters)
    // n_docs = cluster_size * n_clusters per row
    assert(hist.filter(
      col("n_docs") =!= col("cluster_size") * col("n_clusters"))
      .count() == 0)
    hist.unpersist()
  }

  test("bestOfClusters keeps the fullest copy, ties to smallest id") {
    import org.apache.spark.sql.functions._
    val out = Dedup.bestOfClusters(spark, sfDir).cache()
    // covers the same clusters as the canonical-survivor variant
    val labels = Dedup.clusterLabels(
      Dedup.jaccardPairsCached(spark, sfDir, 0.8)
        .select(col("a_id"), col("b_id"))).cache()
    val nClusters = labels.select("label").distinct().count()
    assert(out.count() == nClusters)
    // every cluster is multi-doc by construction
    assert(out.filter(col("n_docs") < 2).count() == 0)
    // the keeper belongs to its cluster and carries the cluster max
    val toks = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        expr("size(regexp_extract_all(text, '([A-Za-z0-9]+)', 1))")
          .cast("long").as("n_tokens"))
    val joined = out
      .join(labels, out("keep_id") === labels("id"))
      .join(toks, col("keep_id") === toks("doc_id"))
    assert(joined.filter(col("cluster") =!= col("label")).count() == 0)
    assert(joined.filter(col("n_tokens") =!= col("best_tokens"))
      .count() == 0)
    // tie-break check: no cluster member with the same token count has
    // a smaller id than the keeper
    val members = labels.join(toks, labels("id") === toks("doc_id"))
      .select(col("label"), col("id"), col("n_tokens"))
    val better = members.join(out, col("label") === out("cluster"))
      .filter(col("n_tokens") > col("best_tokens") ||
        (col("n_tokens") === col("best_tokens") &&
         col("id") < col("keep_id")))
    assert(better.count() == 0)
    labels.unpersist(); out.unpersist()
  }

  test("containment pairs equal brute force; strictly supersets jaccard") {
    import org.apache.spark.sql.functions._
    val t = 0.9
    val got = Dedup.containmentPairs(spark, sfDir, t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over same-source pairs
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"),
        array_distinct(split(trim(regexp_replace(regexp_replace(
          lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")), " "))
          .as("ws"))
    val brute = d.as("l").join(d.as("r"),
        col("l.source") === col("r.source") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        (size(array_intersect(col("l.ws"), col("r.ws"))).cast("double") /
          least(size(col("l.ws")), size(col("r.ws")))).as("c"))
      .filter(col("c") >= t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"got ${got.size} brute ${brute.size}")
    // cont >= jac always, so jaccard pairs at the same threshold are a
    // subset — and the corpus must contain asymmetric pairs jaccard
    // misses (non-vacuity of the new semantic)
    val jac = Dedup.jaccardPairs(spark, sfDir, t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.subsetOf(got))
    assert(got.size > jac.size, "expected containment-only pairs")
  }

  test("containment estimate: deterministic, bounded, tracks the sketch") {
    import org.apache.spark.sql.functions._
    val est = Dedup.containmentEstimate(spark, sfDir).cache()
    assert(est.count() > 0)
    // m in [0, 32]; banding guarantees every candidate shares a full
    // band = 4 equal components
    assert(est.filter(col("m") < 4 || col("m") > 32).count() == 0)
    // estimate formula identity: est = m*(na+nb)/((32+m)*min) implies
    // est >= m/32 always (since (na+nb)/min >= 2 > (32+m)/32 for m<=32)
    assert(est.filter(col("est_cont") < col("m") / lit(32.0)).count() == 0)
    // deterministic across runs
    val again = Dedup.containmentEstimate(spark, sfDir)
    assert(est.collect().toSet == again.collect().toSet)
    // identical signatures (m = 32) estimate containment >= 1
    assert(est.filter(col("m") === 32 && col("est_cont") < 1.0)
      .count() == 0)
    est.unpersist()
  }

  test("jaccardPairsCached returns the same persisted frame per (session, dir, threshold)") {
    val a = Dedup.jaccardPairsCached(spark, sfDir, 0.8)
    val b = Dedup.jaccardPairsCached(spark, sfDir, 0.8)
    assert(a eq b)
  }

  test("clearMemos drains the INNER persists (signature/shingle frames), not just the memoized tables") {
    // other suites share this session and may hold their own persists —
    // assert on the DELTA this build adds, not on global emptiness
    Dedup.clearMemos()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minhashLsh(spark, sfDir).count()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty,
      "expected inner persisted frames (shingles + signatures) after an LSH build")
    Dedup.clearMemos()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    // every frame the build persisted must be gone — a 'cold'
    // measurement pass that rebuilds the identical signatures plan must
    // NOT hit warm blocks
    assert((added & after).isEmpty,
      s"inner persists survived clearMemos: ids ${(added & after).mkString(",")}")
  }

  test("minhash-LSH vs brute-force exact pairs: precision exactly 1, recall floor") {
    val t = 0.5
    val sh = Dedup.shingledOf(graft.Tables.load(spark, sfDir, "documents"))
      .cache()
    // ground truth: all-pairs exact shingle Jaccard >= t (test-only
    // O(n^2) join — never a production plan shape)
    val exact = sh.as("l").join(sh.as("r"),
        col("l.doc_id") < col("r.doc_id"))
      .withColumn("inter", graft.functions.SortedIntersectCount
        .sortedIntersectCount(col("l.shingles"), col("r.shingles")))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("l.shingles")) + size(col("r.shingles")) - col("inter")))
      .filter(col("jac") >= t)
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"))
      .cache()
    val lsh = Dedup.minhashLsh(spark, sfDir, t)
      .select("a_id", "b_id").cache()
    val nExact = exact.count(); val nLsh = lsh.count()
    assert(nExact > 0, "sf0.001 must contain planted near-dups")
    // precision = 1 BY CONSTRUCTION (candidates are verified with the
    // same exact Jaccard) — every LSH pair must be a true pair
    assert(lsh.exceptAll(exact).count() == 0,
      "minhash-LSH emitted a pair outside the exact >=t pair set")
    // banding (8 bands x 4 rows) may miss borderline-t pairs; assert the
    // recall floor rather than equality
    val recall = (nLsh - lsh.exceptAll(exact).count()).toDouble / nExact
    assert(recall >= 0.8, s"minhash-LSH recall $recall < 0.8 " +
      s"($nLsh of $nExact exact pairs)")
    sh.unpersist(); exact.unpersist(); lsh.unpersist()
  }

  test("minhash signature is stable across runs (fixed permutations)") {
    def docs = graft.Tables.load(spark, sfDir, "documents")
    val sig1 = Dedup.signatures(Dedup.shingledOf(docs))
      .orderBy("doc_id").limit(3).collect().map(_.toString).toSeq
    val sig2 = Dedup.signatures(Dedup.shingledOf(docs))
      .orderBy("doc_id").limit(3).collect().map(_.toString).toSeq
    assert(sig1 == sig2)
  }

  test("sourceGramJaccard equals a driver-side set recompute") {
    import org.apache.spark.sql.functions._
    // independent gram construction: interpreted HOF slice/concat_ws
    // (the formulation StringNGrams documents equivalence with)
    val per = graft.Tables.load(spark, sfDir, "documents")
      .withColumn("ws", split(TextAnalysis.normalized(col("text")), " "))
      .select(col("source"), expr(
        """CASE WHEN size(ws) >= 3 THEN
          |  transform(sequence(1, size(ws) - 2),
          |    i -> concat_ws(' ', slice(ws, i, 3)))
          |ELSE array() END""".stripMargin).as("gs"))
      .collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.flatMap(_.getSeq[String](1)).toSet).toMap
    val expected = (for {
      a <- per.keys; b <- per.keys if a < b
      i = (per(a) intersect per(b)).size if i > 0
    } yield (a, b) -> (i.toLong,
      BigDecimal(i.toDouble / (per(a).size + per(b).size - i))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toMap
    val got = Dedup.sourceGramJaccard(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("similarity histogram partitions the cached pair set by decile") {
    val hist = Dedup.similarityHistogram(spark, sfDir, threshold = 0.5)
      .collect()
    val pairs = Dedup.jaccardPairsCached(spark, sfDir, 0.5).collect()
      .map(_.getDouble(2))
    assert(hist.map(_.getLong(1)).sum == pairs.length)
    hist.foreach { r =>
      val (b, mn, mx) = (r.getLong(0), r.getDouble(2), r.getDouble(3))
      assert(b >= 5 && b <= 9, "threshold 0.5 => deciles 5..9")
      assert(mn <= mx)
      // bucket edges: every pair in bucket b has floor(jac*10) == b
      // (or jac == 1.0 folded into 9)
      val inB = pairs.filter(j =>
        math.min(math.floor(j * 10), 9.0).toLong == b)
      assert(inB.length == r.getLong(1))
    }
  }

  test("ONE probe pass populates every family's dup-fraction scope") {
    // the cold-start contract: the first collapse-gated operator pays
    // one corpus scan and the probe memo then serves BOTH the
    // corpus-wide scope (minhash/simhash/estimate) and the per-source
    // scope (jaccard/containment) — r10 paid two full scans per cold
    // corpus.
    Dedup.clearMemos()
    assert(Dedup.dupFracCache.keys(spark).isEmpty)
    Dedup.dupFractionDir(spark, sfDir, Nil)
    val scopes = Dedup.dupFracCache.keys(spark)
      .collect { case (d, _, _, scope) if d == sfDir => scope }
      .toSet
    assert(scopes == Set("", "source"),
      s"one probe must fill both scopes, got $scopes")
    // and the source-scope read is a pure cache hit (same map entry)
    val before = Dedup.dupFracCache.get(spark,
      (sfDir, 1.0, Dedup.ExactDistinctThreshold, "source")).get
    assert(Dedup.dupFractionDir(spark, sfDir, Seq("source")) == before)
  }

  test("sampled probe is deterministic and keeps the dup-light direct plan") {
    val prev = spark.conf.getOption(Dedup.ProbeSampleKey)
    try {
      spark.conf.set(Dedup.ProbeSampleKey, "0.5")
      Dedup.clearMemos()
      val v1 = Dedup.dupFractionDir(spark, sfDir, Nil)
      Dedup.clearMemos()
      val v2 = Dedup.dupFractionDir(spark, sfDir, Nil)
      // md5(doc_id)-keyed sampling: same rows every run, any layout
      assert(v1 == v2, "sampled probe must be deterministic")
      // the sample's bias is DOWNWARD (duplicate groups split), so a
      // dup-light corpus must stay far below the collapse threshold
      assert(v1 < 0.05, s"sf0.001's ~0.2% dup rate read as $v1")
      // the memo is keyed by the effective fraction: flipping the knob
      // back to full-scan must NOT serve the sampled (biased) value —
      // it re-probes under its own key, leaving both entries live
      spark.conf.unset(Dedup.ProbeSampleKey)
      Dedup.dupFractionDir(spark, sfDir, Nil)
      val fracs = Dedup.dupFracCache.keys(spark).collect {
        case (d, f, _, "") if d == sfDir => f
      }.toSet
      assert(fracs == Set(0.5, 1.0),
        s"probe memo must be keyed by sample fraction, got $fracs")
    } finally {
      prev.fold(spark.conf.unset(Dedup.ProbeSampleKey))(v =>
        spark.conf.set(Dedup.ProbeSampleKey, v))
      Dedup.clearMemos()
    }
  }

  test("probe hands off to exact distinct below the HLL overshoot band") {
    import spark.implicits._
    // 6,000 distinct texts × 2 copies: distinct count sits squarely in
    // the band where HLL++ (rsd 0.05) overshoots by several percent —
    // the HLL path would read 1 − est/12000 ≠ 0.5 almost surely, and
    // historically read NEGATIVE on the all-distinct variant. The
    // exact fallback must return the fraction EXACTLY.
    val dup = (1 to 6000).flatMap(i => Seq(
      (i.toLong * 2 - 1, s"unique text body number $i with padding"),
      (i.toLong * 2, s"unique text body number $i with padding")))
      .toDF("doc_id", "text")
    val fDup = Dedup.dupFractions(spark, dup, Seq(Nil)).head._2
    assert(fDup == 0.5, s"exact path must read exactly 0.5, got $fDup")
    // all-distinct variant at 5,059 docs (the console-verified HLL
    // overshoot cardinality): must be exactly 0, never negative
    val uniq = (1 to 5059)
      .map(i => (i.toLong, s"singular document $i about topic ${i % 97}"))
      .toDF("doc_id", "text")
    val fUniq = Dedup.dupFractions(spark, uniq, Seq(Nil)).head._2
    assert(fUniq == 0.0, s"all-distinct corpus must read 0.0, got $fUniq")
  }

  test("incrementalNearDedup agrees with the global pair set's cross-half slice") {
    val srcLen = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), (length(col("source")) > 4).as("is_new"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // the global verified pairs, restricted to batch×corpus, must
    // reproduce q226's counts and min-witnesses exactly (same bands,
    // same verify, same threshold)
    val cross = Dedup.minhashLshCached(spark, sfDir, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        (srcLen(a), srcLen(b)) match {
          case (true, false) => Some(a -> b)
          case (false, true) => Some(b -> a)
          case _             => None
        }
      }
    val expected = cross.groupBy(_._1).map { case (d, ps) =>
      d -> (ps.length.toLong, ps.map(_._2).min) }
    val out = Dedup.incrementalNearDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
         if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // one row per NEW doc, none for corpus docs
    assert(out.keySet == srcLen.filter(_._2).keySet)
    out.foreach { case (d, (novel, nDups, witness)) =>
      expected.get(d) match {
        case Some((n, w)) =>
          assert(novel == 0L && nDups == n && witness.contains(w), s"doc $d")
        case None =>
          assert(novel == 1L && nDups == 0L && witness.isEmpty, s"doc $d")
      }
    }
    // non-vacuity: the corpus actually has cross-half near-dups
    assert(expected.nonEmpty)
  }

  test("diversitySample: singletons survive; keep rule replays exactly") {
    val rows = Dedup.diversitySample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // every doc appears exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
    // singleton clusters always keep their doc
    assert(rows.filter(_._3 == 1L).forall(_._4 == 1L))
    // the keep bit is the documented pure function of (doc_id, size)
    def md5u(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    rows.foreach { case (id, _, sz, kept) =>
      val expect = if (md5u(id) * sz < (1L << 32)) 1L else 0L
      assert(kept == expect, s"doc $id size $sz")
    }
    // multi-doc clusters exist and each cluster keeps FAR fewer than
    // all members (the thinning is real): expected keeps/cluster ~ 1
    val multi = rows.filter(_._3 >= 2L).groupBy(_._2)
    assert(multi.nonEmpty)
    val keptMulti = multi.values.map(_.count(_._4 == 1L)).sum
    assert(keptMulti <= 2 * multi.size,
           s"$keptMulti kept across ${multi.size} multi-doc clusters")
  }
}
