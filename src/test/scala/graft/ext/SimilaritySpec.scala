package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ANN similarity search: brute-force exactness + LSH recall. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot/cosine fold matches a hand-computed value") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val d = df.select(Similarity.dot(col("a"), col("b")).as("d"))
      .as[Double].head()
    assert(math.abs(d - 32.0) < 1e-12)
    val c = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .as[Double].head()
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(c - expected) < 1e-12)
  }

  test("l2normalize yields unit vectors") {
    val df = Seq(Tuple1(Array(3.0f, 4.0f))).toDF("e")
    val norm = df.select(Similarity.dot(
      Similarity.l2normalize(col("e")), Similarity.l2normalize(col("e"))))
      .as[Double].head()
    assert(math.abs(norm - 1.0) < 1e-12)
  }

  test("brute-force top-k: k rows per query, ranks 1..k, self excluded") {
    val k = 10
    val out = Similarity.bruteForceTopK(spark, sfDir, nQueries = 5, k = k)
      .cache()
    val perQuery = out.groupBy("qid").count().as[(Long, Long)].collect().toMap
    assert(perQuery.values.forall(_ == k))
    assert(perQuery.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(out.filter(col("qid") === col("nid")).count() == 0)
    out.unpersist()
  }

  test("brute-force rank-1 neighbor agrees with a driver-side recompute") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / math.sqrt(na) / math.sqrt(nb)
    }
    val q = emb(0L)
    val expectTop = emb.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.head._1
    val got = Similarity.bruteForceTopK(spark, sfDir, nQueries = 1, k = 1)
      .select("nid").as[Long].head()
    assert(got == expectTop)
  }

  test("LSH top-k: hits within Hamming-1 of a probed table bucket; valid ranks") {
    val buckets = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), Similarity.allTableBuckets(col("embedding")).as("bks"))
      .as[(Long, Seq[Long])].collect().toMap
    val lsh = Similarity.lshTopK(spark, sfDir, nQueries = 5, k = 10).cache()
    assert(lsh.filter(col("qid") === col("nid")).count() == 0)
    assert(lsh.filter(col("rnk") < 1 || col("rnk") > 10).count() == 0)
    val hits = lsh.select("qid", "nid").as[(Long, Long)].collect()
    assert(hits.nonEmpty, "buckets must be populated at sf0.001")
    // contract: a candidate collides with the query (own bucket or one
    // flipped bit) in at least one of the L hash tables
    assert(hits.forall { case (q, n) =>
      buckets(q).zip(buckets(n)).exists { case (qb, nb) =>
        java.lang.Long.bitCount(qb ^ nb) <= 1
      }
    })
    // each (qid, nid) pair is ranked exactly once despite multi-collisions
    assert(lsh.select("qid", "nid").distinct().count() == lsh.count())
    lsh.unpersist()
  }

  test("LSH top-k: near-full result set and >=0.9 recall vs brute force") {
    val k = 10
    val bf = Similarity.bruteForceTopK(spark, sfDir, nQueries = 5, k = k)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(spark, sfDir, nQueries = 5, k = k)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(lsh.size >= (0.9 * 5 * k).toInt, s"got ${lsh.size} rows")
    val recall = (bf intersect lsh).size.toDouble / bf.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9")
  }

  test("IVF top-k with trained centroids: >=0.95 recall at nProbe=4") {
    val k = 10
    val bf = Similarity.bruteForceTopK(spark, sfDir, nQueries = 5, k = k)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(spark, sfDir, nQueries = 5, k = k,
        numCells = 16, nProbe = 4)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (bf intersect ivf).size.toDouble / bf.size
    assert(recall >= 0.95, s"IVF recall $recall < 0.95")
  }

  test("IVF cells: every vector lands in its argmax-dot centroid cell") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = Similarity.centroids(e, 8)
    assert(cents.length == 8)
    val cells = Similarity.withIvfCells(e, col("embedding"), cents)
      .select(col("vec_id"), col("cell"),
              Similarity.l2normalize(col("embedding")).as("ne"))
      .limit(50).collect()
    cells.foreach { r =>
      val ne = r.getSeq[Double](2).toArray
      val dots = cents.map(c => c.zip(ne).map { case (a, b) => a * b }.sum)
      val best = dots.indexOf(dots.max)
      assert(r.getInt(1) == best, s"vec ${r.getLong(0)}")
    }
  }

  test("IVF top-k: valid ranks, self excluded, hits only in probed cells") {
    val out = Similarity.ivfTopK(spark, sfDir, nQueries = 5, k = 10,
      numCells = 8, nProbe = 3).cache()
    assert(out.filter(col("qid") === col("nid")).count() == 0)
    assert(out.filter(col("rnk") < 1 || col("rnk") > 10).count() == 0)
    assert(out.count() > 0)
    // multi-probe must find at least as much as probing fewer cells
    val narrow = Similarity.ivfTopK(spark, sfDir, nQueries = 5, k = 10,
      numCells = 8, nProbe = 1)
    assert(out.count() >= narrow.count())
    // with all cells probed, IVF == brute force exactly
    val all = Similarity.ivfTopK(spark, sfDir, nQueries = 5, k = 10,
      numCells = 8, nProbe = 8)
    val bf = Similarity.bruteForceTopK(spark, sfDir, nQueries = 5, k = 10)
    assert(all.exceptAll(bf).isEmpty && bf.exceptAll(all).isEmpty)
    out.unpersist()
  }

  test("ivfRecall matches a driver-side intersect of brute and IVF sets") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.bruteForceTopK(spark, sfDir))
    val ivf = pairs(Similarity.ivfTopK(spark, sfDir))
    val expected = bf.groupBy(_._1)
      .map { case (q, s) => q -> s.count(ivf.contains).toLong }
    val got = Similarity.ivfRecall(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.view.mapValues(_._1).toMap == expected)
    // recall = hits / k, one row per query, bounded in [0, 1]
    assert(got.size == 5)
    assert(got.values.forall { case (h, r) => r == h / 10.0 && r >= 0 && r <= 1 })
  }

  test("label-centroid cosine matrix: full upper triangle, bounded, deterministic") {
    val rows = Similarity.labelCentroidSimilarity(spark, sfDir).collect()
    val labels = graft.Tables.load(spark, sfDir, "embeddings")
      .select("label").distinct().count().toInt
    assert(rows.length == labels * (labels - 1) / 2)
    rows.foreach { r =>
      assert(r.getInt(0) < r.getInt(1), "upper triangle only")
      val c = r.getDouble(2)
      assert(c >= -1.0001 && c <= 1.0001, s"cosine out of range: $c")
    }
    val again = Similarity.labelCentroidSimilarity(spark, sfDir).collect()
      .map(_.toString).sorted.toSeq
    assert(again == rows.map(_.toString).sorted.toSeq, "bit-deterministic")
  }

  // ---- SemDeDup (q198) ----------------------------------------------

  test("semDedup keep-farthest policy on a controlled single-cell corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("semdedup_fixture").toString
    // one cluster (numCells=1): 0 and 1 are a near-dup pair
    // (cos ~0.9998); 2 is orthogonal (isolated). After Lloyd, the
    // centroid is the normalized MEAN of all three — vec 1 sits between
    // vec 0 and vec 2, so it is CLOSER to that mean (csim ~0.8998 vs
    // ~0.8908 for vec 0, margin far above double noise).
    Seq((0L, Array(1.0f, 0.0f), 0),
        (1L, Array(0.99f, 0.02f), 0),
        (2L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity
      .semDedup(spark, dir, numCells = 1, threshold = 0.9)
      .collect().map(r =>
        r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out.values.forall(_._1 == 0), "single cell")
    // keep-farthest: the pair member closer to the centroid (vec 1) is
    // removed; the boundary example (vec 0) survives
    assert(out(0L) == ((0, 1L, 0L)), s"got ${out(0L)}")
    assert(out(1L) == ((0, 1L, 1L)), s"got ${out(1L)}")
    assert(out(2L) == ((0, 0L, 0L)), "isolated vector untouched")
  }

  test("semDedup clique theorem: a full mutual-dup clique keeps EXACTLY one survivor") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("semdedup_clique").toString
    // threshold -1 makes every same-cell pair a dup edge -> the whole
    // cell is one clique; dominance is a total order on (csim, id), so
    // exactly the argmin (farthest from centroid, tie lowest id) is
    // undominated and must be the lone survivor
    val rnd = new scala.util.Random(7)
    (0L until 8L).map(i =>
        (i, Array.fill(4)(rnd.nextFloat() * 2 - 1), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity
      .semDedup(spark, dir, numCells = 1, threshold = -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.forall(_._2 == 7L), s"all 7 neighbors are dups: $out")
    assert(out.count(_._3 == 0L) == 1, s"exactly one survivor: $out")
  }

  test("semDedup invariants on the real corpus; every dup pair loses a member") {
    val thr = 0.2 // low enough that within-cell pairs exist at sf0.001
    val out = Similarity.semDedup(spark, sfDir, threshold = thr).cache()
    val n = graft.Tables.load(spark, sfDir, "embeddings").count()
    assert(out.count() == n, "one verdict row per vector")
    val rows = out.collect().map(r =>
      r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.values.forall { case (c, _, _) => c >= 0 && c < 24 })
    assert(rows.values.forall { case (_, d, rm) => rm == 0 || d >= 1 },
      "removed implies at least one near-dup neighbor")
    // recompute within-cell pairs from the gate's own cell assignment
    // and raw embeddings: each pair >= thr must have >= 1 removed member
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])](
        org.apache.spark.sql.Encoders.product[(Long, Array[Float])])
      .collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      d / math.sqrt(na) / math.sqrt(nb)
    }
    val byCell = rows.toSeq.groupBy(_._2._1)
    var pairs = 0
    byCell.values.foreach { members =>
      val ids = members.map(_._1).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length) {
        if (cos(emb(ids(i)), emb(ids(j))) >= thr + 1e-9) {
          pairs += 1
          assert(rows(ids(i))._3 == 1 || rows(ids(j))._3 == 1,
            s"dup pair (${ids(i)}, ${ids(j)}) has no removed member")
        }
      }
    }
    assert(pairs > 0, "threshold too high to exercise the policy")
    assert(rows.values.exists(_._3 == 1L), "some vector removed")
    assert(rows.values.exists(_._3 == 0L), "not everything removed")
    out.unpersist()
  }

  test("semDedup verify join is cell-keyed — no cartesian, corpus never broadcast") {
    // collect() on the SAME QueryExecution first: under AQE the
    // pre-execution plan is only the initial one — a runtime replan
    // into a nested-loop join would be invisible without executing
    val df = Similarity.semDedup(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(600))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
  }

  test("hard negatives: top-k similar with a strictly different label") {
    val k = 10
    val out = Similarity.hardNegatives(spark, sfDir, nQueries = 5, k = k)
      .collect()
    val labels = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to k), s"ranks q$q")
      rs.foreach(r => assert(labels(r.getLong(1)) != labels(q),
        s"same-label negative q$q -> ${r.getLong(1)}"))
    }
    // the mined set is the brute top-k RESTRICTED to other labels:
    // every hard negative must rank at least as high among other-label
    // docs as the unrestricted brute ranking implies (spot-check via
    // recompute on q0)
    val q0 = Similarity.hardNegatives(spark, sfDir, nQueries = 1, k = k)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(q0.sortBy(_._2).toSeq == out.filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2).toSeq,
      "deterministic across calls")
  }

  test("crossModalAudit: one row per near-dup pair, cosine recomputed") {
    val out = Similarity.crossModalAudit(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
                 r.getDouble(3)))
    assert(out.nonEmpty)
    // exactly the cached pair set, each pair once
    val pairs = Dedup.jaccardPairsCached(spark, sfDir, 0.8)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.map(t => (t._1, t._2)).toSet == pairs)
    assert(out.length == pairs.size)
    // cosines are valid and, on this corpus, prove the embeddings are
    // NOT text-derived (no text-dup pair reaches 0.9)
    assert(out.forall(t => t._4 >= -1.0001 && t._4 <= 1.0001))
    assert(out.forall(_._4 < 0.9))
    // driver-side recompute of a few cosines against the gate values
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    out.take(5).foreach { case (a, b, _, cosR) =>
      val (ea, eb) = (emb(a), emb(b))
      val d = ea.zip(eb).map { case (x, y) => x * y }.sum
      val c = d / math.sqrt(ea.map(x => x * x).sum) /
        math.sqrt(eb.map(x => x * x).sum)
      assert(math.abs(c - cosR) < 5e-4, s"pair ($a,$b)")
    }
  }

  test("crossModalAgree: text-derived embeddings make the audit PASS") {
    // the agreeing direction q230 cannot show on this corpus: with
    // embeddings DERIVED from the text (hashed bag-of-words), exact
    // word-set dups get cosine EXACTLY 1 and near-dups cluster near 1
    val out = Similarity.crossModalAgree(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
                 if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    assert(out.nonEmpty)
    // same pair universe as the audit
    assert(out.map(t => (t._1, t._2)).toSet ==
      Similarity.crossModalAudit(spark, sfDir)
        .select(col("a_id"), col("b_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    // a NULL cosine is legitimate under crossModalAgree's contract
    // (zero-norm vector); it must only ever occur for one, and the
    // clustering/exact assertions run over the finite rows
    val finite = out.filter(t => !t._4.isNaN)
    assert(finite.nonEmpty)
    val exact = finite.filter(_._3 == 1.0)
    assert(exact.nonEmpty, "corpus carries exact word-set dups")
    assert(exact.forall(_._4 == 1.0),
      "identical word sets => identical vectors => cosine exactly 1")
    assert(finite.forall(t => t._4 >= 0.6),
      "jaccard >= 0.8 pairs cluster high under text-derived vectors")
    val mean = finite.map(_._4).sum / finite.length
    assert(mean >= 0.85, s"mean cosine $mean — should cluster near 1" +
      " (q230's label-clustered embeddings max out at 0.41)")
  }
}
