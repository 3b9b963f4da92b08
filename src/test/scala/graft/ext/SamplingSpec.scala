package graft.ext

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic mixture sampling: reproducibility and rate shape. */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  /** Reference semantics for [[Sampling.reservoirSample]]: the naive
    * global window (single task per source at scale). */
  private def reservoirSampleNaive(k: Int): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("skey"), col("doc_id"))
    Tables.load(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"),
              md5(col("doc_id").cast("string")).as("skey"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("source"), col("doc_id"), col("rnk"))
  }

  test("mixture sample is deterministic across runs") {
    val a = Sampling.mixtureSample(spark, sfDir)
      .as[(Long, String)].collect().toSet
    val b = Sampling.mixtureSample(spark, sfDir)
      .as[(Long, String)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("per-source rates match the mixture policy within md5 tolerance") {
    val rates = Sampling.mixtureRates(spark, sfDir)
      .as[(String, Long, Long)].collect()
    assert(rates.nonEmpty)
    rates.foreach { case (source, total, kept) =>
      val expect = if (source.length <= 4) 0.75 else 0.25
      val got = kept.toDouble / total
      // md5 digits are uniform; small per-source corpora wander a bit
      assert(math.abs(got - expect) < 0.2,
        s"$source: got $got, expected ~$expect")
    }
  }

  test("sample is a subset of the corpus with source preserved") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source")).as[(Long, String)]
      .collect().toMap
    val kept = Sampling.mixtureSample(spark, sfDir)
      .as[(Long, String)].collect()
    assert(kept.forall { case (id, src) => docs.get(id).contains(src) })
    assert(kept.length < docs.size)
  }

  test("temperatureRates: normalized, small sources upweighted") {
    val rows = Sampling.temperatureRates(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length > 1)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4,
      "rates must normalize to ~1")
    // alpha=0.5 compresses the spread: rate ratio < count ratio for
    // any two sources with different sizes
    for (Seq(a, b) <- rows.sortBy(_._2).combinations(2).map(_.toSeq)
         if a._2 < b._2) {
      assert(b._3 / a._3 < b._2.toDouble / a._2 + 1e-9,
        s"${a._1} vs ${b._1}: temperature must compress the ratio")
    }
  }

  test("reservoirSample: heap-partial result equals the naive window") {
    val got = Sampling.reservoirSample(spark, sfDir, k = 7)
    val naive = reservoirSampleNaive(k = 7)
    assert(got.count() > 0)
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
  }

  test("reservoirSample: exactly min(k, source size) rows per source") {
    val sizes = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val perSource = Sampling.reservoirSample(spark, sfDir, k = 20)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSource.keySet == sizes.keySet)
    perSource.foreach { case (s, n) =>
      assert(n == math.min(20L, sizes(s)), s"$s: $n")
    }
  }

  test("reservoirSample is deterministic across runs and repartitionings") {
    val a = Sampling.reservoirSample(spark, sfDir, k = 5).collect()
      .map(_.toString).sorted.toSeq
    val b = Sampling.reservoirSample(spark, sfDir, k = 5).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("reservoirSample rejects non-positive k") {
    intercept[IllegalArgumentException] {
      Sampling.reservoirSample(spark, sfDir, k = 0)
    }
  }

  test("lengthCurriculum: distributed rank equals the plain-window bins") {
    import org.apache.spark.sql.expressions.Window
    val got = Sampling.lengthCurriculum(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
                                  r.getLong(3), r.getLong(4)))).toMap
    // reference: the naive single-window formulation of the same formula
    val nTok = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
              expr("size(regexp_extract_all(text, '([A-Za-z0-9]+)', 1))")
                .cast("long").as("n_tokens"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_tokens"), col("doc_id"))).cast("long"))
    val n = nTok.count()
    val expected = nTok.withColumn("bucket", expr(s"(10 * (rk - 1)) div $n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), min("n_tokens"), max("n_tokens"),
           sum("n_tokens"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
                                  r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected)
    assert(got.size == 10)
    // bins are monotone: decile d's max <= decile d+1's min
    (0L to 8L).foreach(d => assert(got(d)._3 <= got(d + 1)._2))
  }

  test("mixture plan: integer allocation invariants and recompute") {
    val rows = Sampling.mixturePlan(spark, sfDir,
      budgetTokens = 50000L, capTokens = 5000L).collect()
    val total = rows.map(_.getLong(2)).sum
    rows.foreach { r =>
      val (tokens, target, epochs) =
        (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(target == math.min(5000L, tokens * 50000L / total))
      assert(epochs == (target + tokens - 1) / tokens)
      assert(target <= 5000L)
      if (target > 0) assert(epochs >= 1L) else assert(epochs == 0L)
    }
    // capped sources exist OR every share fits — either way the plan
    // never exceeds budget + one cap per source
    assert(rows.map(_.getLong(3)).sum <= 50000L + 5000L * rows.length)
  }

  test("epochExpand: hand fixture replays the allocation exactly") {
    // two sources: srcA 30 tokens (3 docs × 10), srcB 10 tokens
    // (2 docs × 5); total 40. budgetX=2, cap=1/2 → cap 20.
    //   srcA: target min(20, 60) = 20 → 20 div 30 = 0 full epochs,
    //     rem 20 → the partial epoch keeps docs while start+n ≤ 20:
    //     docs 1 (0..10) and 2 (10..20) kept, doc 3 dropped.
    //   srcB: target min(20, 20) = 20 → 2 full epochs, rem 0.
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val five = (1 to 5).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (1L, "srcA", ten), (2L, "srcA", ten), (3L, "srcA", ten),
      (4L, "srcB", five), (5L, "srcB", five))
      .toDF("doc_id", "source", "text")
    val out = Sampling.epochExpandOf(docs, budgetX = 2,
        capNum = 1, capDen = 2)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(out == Set(
      (1L, "srcA", 0L, 10L), (2L, "srcA", 0L, 10L),
      (4L, "srcB", 0L, 5L), (5L, "srcB", 0L, 5L),
      (4L, "srcB", 1L, 5L), (5L, "srcB", 1L, 5L)))
  }

  test("epochExpand: corpus invariants — budget respected per source") {
    val out = Sampling.epochExpand(spark, sfDir).cache()
    assert(out.count() > 0)
    // delivered tokens per source never exceed the target =
    // min(total/10, 2·n_tokens), and miss it by less than one doc
    // (the prefix rule drops at most the first non-fitting doc's worth)
    val delivered = out.groupBy(col("source"))
      .agg(sum(col("n_toks")).as("got"),
           max(col("epoch")).as("max_epoch"))
    val plan = graft.ext.Packing.packedDocs(spark, sfDir)
      .groupBy(col("source")).agg(sum(col("n_toks")).as("n_tokens"))
    val total = plan.agg(sum(col("n_tokens"))).head.getLong(0)
    val joined = delivered.join(plan, "source").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (got, maxEpoch, n) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      val target = math.min(total / 10, 2L * n)
      assert(got <= target)
      // highest epoch index: full epochs − 1, +1 when the partial
      // epoch materialized at least one doc
      assert(maxEpoch >= target / n - 1 && maxEpoch <= target / n)
    }
    // both shapes must occur at this corpus: a source with 2 full
    // epochs (uncapped) and a source with a partial epoch (capped)
    val fulls = joined.count(r => r.getLong(2) == 1L &&
      math.min(total / 10, 2L * r.getLong(3)) == 2L * r.getLong(3))
    val capped = joined.count(r =>
      math.min(total / 10, 2L * r.getLong(3)) < 2L * r.getLong(3))
    assert(fulls > 0 && capped > 0)
    out.unpersist()
  }

  test("epochOrder: schedule replays the md5 total order, epochs mix") {
    val rows = Sampling.epochOrder(spark, sfDir, topK = 200).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(rows.length == 200)
    assert(rows.map(_._1).toSeq == (1L to 200L))
    // positions follow the documented pure key exactly
    def key(id: Long, e: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$e".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val keys = rows.map(r => (key(r._2, r._4), r._2, r._4)).toSeq
    assert(keys == keys.sorted)
    // the head of the schedule interleaves epochs (per-epoch reshuffle:
    // repeat copies are not clustered)
    assert(rows.map(_._4).distinct.length >= 2)
  }

  test("epochExpand is deterministic across repartitionings") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val a = Sampling.epochExpandOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    val b = Sampling.epochExpandOf(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(a == b)
  }
}
