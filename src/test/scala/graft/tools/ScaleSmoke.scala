package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only 10x scale smoke: replicate sf0.1 documents/embeddings/events
  * 10x under target/scale10 (seeded, deterministic, throwaway — NEVER
  * touches /root/testdata), then time the dedup/ANN/packing/reservoir
  * families at 1x and 10x and print the growth ratios for SCALE.md.
  *
  * Replication is structure-preserving, not copy-pasting:
  *   - documents: every word gets a per-replica suffix, so WITHIN-replica
  *     near-dup structure is identical to sf0.1 while CROSS-replica
  *     Jaccard is 0 — true pair volume grows exactly linearly, which is
  *     what a real 10x corpus (new content, same dup rate) looks like.
  *     Cross-replica exact/fingerprint dups would otherwise explode the
  *     pair count quadratically and measure the synthetic corpus, not
  *     the operator.
  *   - embeddings: dimensions circularly shifted per replica (norms
  *     preserved, cross-replica cosine decorrelated) and labels offset
  *     so cell populations stay sf0.1-sized while cell COUNT grows 10x —
  *     the IVF/cell scaling story (more data -> more cells, bounded
  *     cell size).
  *   - events: id/user offsets only; per-user session structure repeats.
  *   - TPC-H tables (round 9): per-replica key offsets applied
  *     CONSISTENTLY across fact and dimension (orderkey in orders AND
  *     lineitem, custkey in customer AND orders, part/supp keys in
  *     part/supplier AND lineitem), so every FK edge stays intact
  *     within its replica and join selectivity is exactly sf0.1's —
  *     cross-replica keys are disjoint, so joins grow linearly, the
  *     honest 10× for the relational family. region/nation stay
  *     constant (real dimensions don't grow with the fact tables).
  *     The fuzzy NAME gates (q144/q169) are excluded: replicated
  *     names are byte-identical across replicas, which would
  *     fabricate quadratic cross-replica edit-distance matches the
  *     real corpus doesn't have.
  *
  * Usage: Test/runMain graft.tools.ScaleSmoke
  */
object ScaleSmoke {
  private val Base = "/root/testdata/sf0.1"
  private val Out = "target/scale10"
  private val Out100 = "target/scale100"

  /** The five cost drivers from the round-8 bench tail (output-bound
    * pair families + the IVF-PQ index) — the operators whose sub-
    * linearity claim needs TWO decades of evidence, not one. Only
    * these run at 100×. */
  private val Top5 = Seq(
    "q28_jaccard_pairs", "q63_clean_corpus", "q107_ivfpq_adc",
    "q120_source_overlap", "q125_export_manifest")

  private val Families = Seq(
    "q24_dedup_exact", "q25_dedup_fingerprint", "q26_dedup_minhash",
    "q27_dedup_simhash", "q28_jaccard_pairs", "q29_emb_neardup",
    "q30_knn_brute", "q31_knn_lsh", "q37_knn_ivf", "q39_dedup_clusters",
    "q63_clean_corpus", "q64_seq_packing", "q74_reservoir",
    "q81_hash_split", "q82_incremental_dedup", "q83_winnowing",
    "q84_gram_novelty", "q85_pq_codes", "q86_winnow_matches",
    "q89_substr_dup", "q90_split_leakage", "q92_dup_pagerank",
    "q93_cluster_sizes", "q95_image_resize", "q100_shuffle_shards",
    "q101_best_of_cluster", "q102_dup_triangles", "q103_containment",
    "q104_containment_est",
    // round-8 additions
    "q105_session_window", "q107_ivfpq_adc", "q108_ivfpq_rerank",
    "q109_hll_distinct", "q110_cms_heavy_hitters", "q112_mix_order",
    "q113_cc_altstar", "q114_phrase_search", "q115_jl_projection",
    "q117_ann_recall", "q118_bigram_lm", "q119_cdc_chunks",
    "q120_source_overlap",
    // round-8 late additions (q123/q127 excluded: they read the
    // lineitem/orders tables the replica does not generate)
    "q121_stream_minhash", "q122_vocab_coverage", "q124_video_frames",
    "q125_export_manifest", "q126_length_curriculum", "q128_stream_hll",
    "q129_feature_hashing", "q130_topk_aggregator",
    // round-8 wave q138+ (docs/embeddings/events-based only — the
    // TPC-H-table gates q140/q144/q145/q147/q149/q154/q156/q158 read
    // tables the replica does not generate)
    "q138_snapshot_diff", "q139_posting_lists", "q141_centroid_similarity",
    "q142_ks_drift", "q143_journey_trigrams", "q146_dup_curve",
    "q148_incremental_view", "q150_gap_fill", "q151_cumulative_reach",
    "q152_source_gini", "q153_lambda_handoff", "q155_quantile_sketch",
    "q157_pmi_cooccurrence",
    // round-8 tail q159+ (docs/embeddings/events-based only — the
    // TPC-H-table gates q158/q166/q169/q173/q174/q175 read tables the
    // replica does not generate)
    "q159_stream_histogram", "q160_latest_per_key", "q161_trending",
    "q162_mixture_plan", "q163_sim_histogram", "q164_schema_evolution",
    "q165_rolling_anomalies", "q167_basket_pairs", "q168_week_over_week",
    "q170_stickiness", "q171_chi_square", "q172_time_to_convert",
    "q176_cohort_retention", "q177_corrupt_ingest",
    // round-10: data selection + semantic dedup
    "q197_dsir_select", "q198_semdedup", "q199_dsir_resample",
    // round-11: held-out DSIR, Gopher rules, CCNet terciles, hard negs
    "q200_dsir_heldout", "q201_gopher_rules", "q202_ccnet_buckets",
    "q203_hard_negatives",
    // round-12: bounded-vocab CCNet (model tables flat across decades)
    "q205_ccnet_bounded",
    // round-13: paragraph dedup, source token cap, BPE trainer
    // (documents-based)
    "q211_paragraph_dedup", "q212_source_token_cap", "q213_bpe_merges",
    "q214_bpe_encode", "q216_substr_remove", "q217_epoch_expand",
    "q218_stream_cms", "q219_collapse_repeats", "q220_gopher_funnel",
    "q221_diversity_sample", "q222_vocab_prune", "q223_stream_ingest",
    "q224_image_dhash", "q226_incr_near_dedup", "q227_epoch_order",
    "q228_stratified_split", "q229_stream_anomalies",
    "q230_crossmodal_audit",
    // round-14: agreeing-direction audit, forced-collapse incremental
    // probe, two-batch standing-index maintenance (documents-based)
    "q231_crossmodal_agree", "q232_incr_near_dedup_collapsed",
    "q233_neardup_index_2batch",
    // round-15: durable on-disk index lifecycle (documents-based),
    // within-cluster spectrum probe (embeddings-based)
    "q234_neardup_index_durable", "q235_cluster_spectrum",
    // round-9: the relational/TPC-H family over the FK-consistent
    // replica (generateTpch). Excluded on purpose:
    //   q02 (dims-only cross join — constant at any factor),
    //   q18 (the decorrelation guardrail CORRECTLY rejects its 10×
    //        6e10-pair nested loop at the default cap — by design),
    //   q144/q169 (replicated names are identical across replicas →
    //        fabricated quadratic fuzzy matches),
    //   q149 (single-slot bucket memo means the 10× sample would pay
    //        the one-time layout write — its scale claim is the
    //        plan-asserted zero-exchange join, not a wall-clock ratio)
    "q01_filter_project", "q03_inner_join", "q04_left_join",
    "q05_groupby_agg", "q06_having", "q07_global_agg",
    "q08_corr_subquery", "q09_scalar_subquery", "q11_topk",
    "q15_star_join", "q16_sqlfront_join_group", "q17_sqlfront_corr_subq",
    "q19_sqlfront_on_subq", "q40_window_funcs", "q47_asof_join",
    "q48_salted_join", "q49_salted_agg", "q50_rollup", "q54_percentile",
    "q60_bloom_join", "q61_range_join", "q65_semi_join", "q66_anti_join",
    "q67_full_outer_join", "q140_shipping_priority",
    "q147_segment_conversion",
    "q158_local_supplier_volume", "q166_returned_revenue",
    "q173_events_last_order", "q174_nation_volume", "q175_benford",
    "q178_min_cost_supplier", "q179_waiting_orders", "q180_revenue_band",
    "q181_priority_lines", "q182_order_count_dist", "q183_promo_share",
    "q184_supplier_census", "q185_large_orders", "q186_blocking_suppliers",
    "q187_dormant_customers", "q189_small_qty_revenue",
    "q190_top_supplier", "q191_disjunctive_revenue",
    "q192_dynamic_pruning")

  def generate(spark: SparkSession, out: String = Out, factor: Int = 10,
               withEvents: Boolean = true): Unit = {
    // events.ts unit has changed across driver rounds (nanos → micros);
    // the legacy conf makes a nanos file read as long (which the
    // replica then stores as long), a micros file reads as timestamp —
    // Tables.loadEvents type-branches on either, so the replica is
    // valid whichever unit the source had
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val reps = explode(array((0 until factor).map(lit): _*)).as("rep")

    val docs = spark.read.parquet(s"$Base/documents.parquet")
    // Per-replica word suffix decorrelates near-dup structure across
    // replicas, but STOP WORDS must pass through unsuffixed: the
    // quality rules (withGopherFlags stopMin, the q45/q63 stop-ratio
    // band) key on the exact stop-word vocabulary, and a replica that
    // suffixes "the" -> "thex3" flunks every replicated document out
    // of the q223 ingest pipeline — the 10× row then measures a
    // 0-survivor trivial plan (the round-14 verdict's q223 finding).
    // Cross-replica Jaccard stays ~0: a shared word-3-gram shingle now
    // needs THREE consecutive stop words in both docs, and a verified
    // pair needs threshold-level overlap — unreachable from stop-word
    // trigrams alone.
    val stopArr = array(
      graft.ext.TextAnalysis.stopwords.map(lit): _*)
    docs.select(col("*"), reps)
      .select(
        (col("doc_id") + col("rep") * 10000000L).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => when(array_contains(stopArr, lower(w)), w)
            .otherwise(concat(w, lit("x"), col("rep")))), " ")
          .as("text"),
        col("lang"), col("source"),
        col("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val embs = spark.read.parquet(s"$Base/embeddings.parquet")
    // per-replica decorrelation: circular shift by rep mod dim; beyond
    // one full cycle of shifts (factor > dim, the 100× case) also
    // sign-flip alternate dimensions, so no two replicas of the same
    // vector are near-parallel (a reused bare shift would make exact
    // cross-replica duplicates and quadratic candidate volume — the
    // synthetic corpus, not the operator, would be measured)
    val dim = embs.select(size(col("embedding"))).head.getInt(0)
    // the (shift, flip) transform cycles after 2*dim replicas — rep and
    // rep − 2·dim would be EXACT duplicates, silently reintroducing the
    // quadratic cross-replica pathology this construction prevents
    require(factor <= 2 * dim,
      s"replication factor $factor exceeds the ${2 * dim} distinct " +
        "(shift, sign-flip) embedding transforms for dim=" + dim +
        " — add a third decorrelation axis before scaling further")
    val sh = col("rep") % dim
    val shifted =
      concat(slice(col("embedding"), sh + 1, size(col("embedding"))),
             slice(col("embedding"), lit(1), sh))
    embs.select(col("*"), reps)
      .select(
        (col("vec_id") + col("rep") * 10000000L).as("vec_id"),
        when(col("rep") < dim, shifted)
          .otherwise(zip_with(shifted,
            sequence(lit(0), lit(dim - 1)),
            (x, i) => when(i % 2 === 0, -x).otherwise(x)))
          .as("embedding"),
        (col("label") + col("rep") * 100000).as("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    if (withEvents) {
      val events = spark.read.parquet(s"$Base/events.parquet")
      events.select(col("*"), reps)
        .select(
          (col("event_id") + col("rep") * 100000000L).as("event_id"),
          col("ts"),
          // SAME offset as customer.c_custkey in generateTpch: events
          // users reference customers, and a mismatched offset would
          // silently break the events⋈customer/orders FK at 10×
          (col("user_id") + col("rep") * 10000000L).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
  }

  /** FK-consistent TPC-H replication (10× smoke only): the same
    * per-replica key offset is applied to a key EVERYWHERE it appears,
    * so every foreign-key edge survives within its replica and join
    * selectivity equals sf0.1's; cross-replica keys are disjoint.
    * region/nation copy through unscaled (dimensions don't grow). */
  def generateTpch(spark: SparkSession, out: String = Out,
                   factor: Int = 10): Unit = {
    val reps = explode(array((0 until factor).map(lit): _*)).as("rep")
    val offK = col("rep") * 10000000L   // cust/supp/part keys
    val offO = col("rep") * 100000000L  // order keys

    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$Base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    spark.read.parquet(s"$Base/customer.parquet").select(col("*"), reps)
      .select((col("c_custkey") + offK).as("c_custkey"), col("c_name"),
              col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    spark.read.parquet(s"$Base/supplier.parquet").select(col("*"), reps)
      .select((col("s_suppkey") + offK).as("s_suppkey"), col("s_name"),
              col("s_nationkey"), col("s_acctbal"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")

    spark.read.parquet(s"$Base/part.parquet").select(col("*"), reps)
      .select((col("p_partkey") + offK).as("p_partkey"), col("p_name"),
              col("p_brand"), col("p_type"), col("p_size"),
              col("p_retailprice"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/part.parquet")

    spark.read.parquet(s"$Base/orders.parquet").select(col("*"), reps)
      .select((col("o_orderkey") + offO).as("o_orderkey"),
              (col("o_custkey") + offK).as("o_custkey"),
              col("o_orderstatus"), col("o_totalprice"),
              col("o_orderdate"), col("o_orderpriority"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    spark.read.parquet(s"$Base/lineitem.parquet").select(col("*"), reps)
      .select((col("l_orderkey") + offO).as("l_orderkey"),
              (col("l_partkey") + offK).as("l_partkey"),
              (col("l_suppkey") + offK).as("l_suppkey"),
              col("l_linenumber"), col("l_quantity"),
              col("l_extendedprice"), col("l_discount"), col("l_tax"),
              col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
  }

  /** Events-only replication (same offsets as [[generate]]'s events
    * block) — the third decade for the streaming-state certification:
    * an events.parquet-only dir is all the dedup stream gates read. */
  private def replicateEvents(spark: SparkSession, out: String,
                              factor: Int): Unit =
    if (!new java.io.File(s"$out/events.parquet").isDirectory) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val reps = explode(array((0 until factor).map(lit): _*)).as("rep")
      spark.read.parquet(s"$Base/events.parquet").select(col("*"), reps)
        .select(
          (col("event_id") + col("rep") * 100000000L).as("event_id"),
          col("ts"),
          (col("user_id") + col("rep") * 10000000L).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }

  /** Replicate a documents corpus VERBATIM `reps`× (id offsets only) —
    * the exact-duplicate-heavy corpus shape the collapse and the probe
    * defend against. Shared by the dupscale and probebias modes. */
  private def dupify(spark: SparkSession, src: String, out: String,
                     reps: Int): Unit =
    if (!new java.io.File(s"$out/documents.parquet").isDirectory) {
      spark.read.parquet(s"$src/documents.parquet")
        .select(col("*"),
          explode(array((0 until reps).map(lit): _*)).as("rep"))
        .select((col("doc_id") + col("rep") * 100000000L).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

  /** Mean recall@k of the COMPOSED widened-probe + exact-rerank plan
    * (q107's ADC shortlist at `depth`, re-scored by exact cosine —
    * the q108 architecture with the metric matched to the brute-force
    * cosine ground truth): the corpus-wide scan stays in the 2-byte
    * code domain even at a widened nProbe, and full vectors are read
    * for only nQ×depth rows. */
  private def rerankRecall(spark: SparkSession, dir: String, nQ: Int,
                           k: Int, cells: Int, nProbe: Int,
                           depth: Int, pqM: Int = 4,
                           pqK: Int = 16): Double = {
    import org.apache.spark.sql.expressions.Window
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val brute = graft.ext.Similarity.bruteForceTopK(spark, dir, nQ, k)
      .select(col("qid"), col("nid"))
    val shortlist = graft.ext.Similarity
      .ivfPqTopK(spark, dir, nQ, depth, cells, nProbe, pqM = pqM,
                 pqK = pqK)
      .select(col("qid"), col("nid"))
    val queries = emb.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val rer = shortlist
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne")),
            "nid")
      .join(broadcast(queries), "qid")
      .withColumn("cs", graft.ext.Similarity.cosine(col("qe"), col("ne")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cs").desc, col("nid"))))
      .filter(col("rnk") <= k)
      .select(col("qid").as("aqid"), col("nid").as("anid"))
    brute
      .join(rer, brute("qid") === col("aqid") &&
                 brute("nid") === col("anid"), "left_outer")
      .groupBy(brute("qid"))
      .agg((count(col("anid")) / k.toDouble).as("recall"))
      .agg(avg(col("recall"))).head().getDouble(0)
  }

  /** The annhard corpus generator — 24-component ISOTROPIC Gaussian
    * mixture (seed-13 centers, xxhash64 Box-Muller noise), shared by
    * the annhard and spectrum modes so the two can never silently
    * measure different geometries. No-op if `out` already exists. */
  /** Independent in-memory sequential BPE trainer (same tokenization,
    * same greedy leftmost fold, same (count desc, pair asc) tie-break
    * as the distributed trainer) — the equality reference for
    * `bpekprod` and the single-machine contender in the `bpecross`
    * crossover ladder. `deadlineNanos` time-boxes the ladder's big
    * decades: a round that STARTS past the deadline stops the run
    * (the returned table is truncated — callers distinguish DNF from
    * natural exhaustion by the elapsed clock). */
  private def bpeModelTrain(vocab: Seq[(String, Long)], nMerges: Int,
                            deadlineNanos: Long = Long.MaxValue)
      : Seq[(Long, String, String, Long)] = {
    var syms: Map[Vector[String], Long] =
      vocab.groupBy(_._1.split("").toVector)
        .map { case (s, ws) => s -> ws.map(_._2).sum }
    (1 to nMerges).iterator.map { t =>
      if (System.nanoTime() > deadlineNanos) None
      else {
        val counts =
          scala.collection.mutable.Map.empty[(String, String), Long]
        syms.foreach { case (s, n) =>
          s.sliding(2).filter(_.size == 2).foreach { p =>
            counts((p(0), p(1))) =
              counts.getOrElse((p(0), p(1)), 0L) + n
          }
        }
        if (counts.isEmpty) None
        else {
          val ((l, r), c) = counts.toSeq
            .minBy { case ((a, b), n) => (-n, a, b) }
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
    }.takeWhile(_.isDefined).flatten.toSeq
  }

  private def genAnnhard(spark: SparkSession, sigma: Double,
                         out: String, n: Long,
                         dim: Int = 64, comps: Int = 24): Unit =
    if (!new java.io.File(s"$out/embeddings.parquet").isDirectory) {
      val rnd = new scala.util.Random(13)
      val centers = Array.fill(comps, dim)(rnd.nextGaussian())
      val centersCol = array(centers.map(c =>
        array(c.map(v => lit(v)): _*)): _*)
      val two40 = (1L << 40).toDouble
      def unif(salt: Int)(i: org.apache.spark.sql.Column) =
        (pmod(xxhash64(col("vec_id"), lit(salt), i), lit(1L << 40))
          .cast("double") + lit(0.5)) / lit(two40)
      val noise = transform(sequence(lit(0), lit(dim - 1)), i =>
        sqrt(lit(-2.0) * log(unif(1)(i))) *
          cos(lit(2.0 * math.Pi) * unif(2)(i)))
      spark.range(n).select(col("id").as("vec_id"))
        .withColumn("comp",
          pmod(xxhash64(col("vec_id"), lit(3)), lit(comps)).cast("int"))
        .select(col("vec_id"),
          zip_with(element_at(centersCol, col("comp") + 1), noise,
            (c, z) => (c + lit(sigma) * z).cast("float"))
            .as("embedding"),
          col("comp").as("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

  /** The annaniso corpus generator — 24-component rank-4 ANISOTROPIC
    * mixture (seed-29 centers/bases, xxhash64 Box-Muller latents),
    * shared by the annaniso and spectrum modes. No-op if `out`
    * exists. */
  private def genAnnaniso(spark: SparkSession, sigma: Double,
                          out: String, n: Long,
                          dim: Int = 64, comps: Int = 24): Unit =
    if (!new java.io.File(s"$out/embeddings.parquet").isDirectory) {
      val rank = 4
      val rnd = new scala.util.Random(29)
      val centers = Array.fill(comps, dim)(rnd.nextGaussian())
      val bases = Array.fill(comps, rank, dim)(rnd.nextGaussian() /
        math.sqrt(dim.toDouble))
      val centersCol = array(centers.map(c =>
        array(c.map(v => lit(v)): _*)): _*)
      val basesCol = array(bases.map(b => array(b.map(u =>
        array(u.map(v => lit(v)): _*)): _*)): _*)
      val two40 = (1L << 40).toDouble
      def unif(salt: Int) =
        (pmod(xxhash64(col("vec_id"), lit(salt)), lit(1L << 40))
          .cast("double") + lit(0.5)) / lit(two40)
      val zs = (0 until rank).map(j =>
        sqrt(lit(-2.0) * log(unif(2 * j + 1))) *
          cos(lit(2.0 * math.Pi) * unif(2 * j + 2)))
      spark.range(n).select(col("id").as("vec_id"))
        .withColumn("comp",
          pmod(xxhash64(col("vec_id"), lit(99)), lit(comps)).cast("int"))
        .select(col("vec_id") +: (zs.zipWithIndex.map { case (z, j) =>
          z.as(s"z$j") } :+ col("comp")): _*)
        .select(col("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)), i => {
            val cent = element_at(
              element_at(centersCol, col("comp") + 1), i + 1)
            val basis = element_at(basesCol, col("comp") + 1)
            val drift = (0 until rank).map(j =>
              element_at(element_at(basis, j + 1), i + 1) *
                col(s"z$j")).reduce(_ + _)
            (cent + lit(sigma) * drift).cast("float")
          }).as("embedding"),
          col("comp").as("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Versioned replica marker: a generation-scheme change (round 9
    // changed events' user offset to align with the TPC-H customer
    // offset) must regenerate EVERYTHING — a per-table marker would
    // let old-offset events coexist with new-offset customers and
    // silently break the cross-table FK joins the alignment exists
    // for. Bump ReplicaVersion whenever any offset/transform changes.
    // v3: stop words pass through the documents replica unsuffixed
    // (the q223 10× fix) — regenerates everything
    val ReplicaVersion = "v3"
    val marker = new java.io.File(s"$Out/_replica_$ReplicaVersion")
    if (!marker.isFile) {
      val t0 = System.nanoTime()
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      val outDir = new java.io.File(Out)
      if (outDir.exists) rm(outDir)
      generate(spark)
      generateTpch(spark)
      outDir.mkdirs()
      java.nio.file.Files.write(marker.toPath, Array.empty[Byte])
      println(f"[scale] generated $Out ($ReplicaVersion) in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    for (t <- Seq("documents", "embeddings", "events", "lineitem", "orders"))
      println(s"[scale] $t rows 10x = " +
        spark.read.parquet(s"$Out/$t.parquet").count())

    def time(name: String, dir: String): (Double, Long) = {
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val rows = fn(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    // Cached operators (minhashLshCached / jaccardPairsCached / IVF
    // centroid memos) would make the 1x side a cache HIT while the 10x
    // side computes cold — clear every memo/persist before each timed
    // run so both sides measure a full recompute.
    def coldStart(): Unit = {
      graft.ext.Memo.clearAll()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // streaming gates leave their memory-sink row buffers behind the
      // graft_stream_* temp views — additive across a sweep (the 100×
      // leg OOMed the driver before this drop existed)
      graft.streaming.Streams.dropBoundedSinks(spark)
    }
    // rewrite mode: FULL-materialization timing for the rewrite gates
    // (one output row per input row). The default count() action lets
    // Catalyst prune the rebuilt text columns and even eliminate the
    // final outer joins (unique join keys), so a count-based sample
    // times the PRUNED plan, not the operator — q216 read "0.44 s at
    // 100×" under count(), which is how this mode was discovered. The
    // noop sink forces every column of every row to materialize.
    // Test/runMain graft.tools.ScaleSmoke rewrite [gateprefix...]
    if (args.headOption.contains("rewrite")) {
      val defaults = Seq("q216_substr_remove", "q219_collapse_repeats",
        "q222_vocab_prune", "q58_chunking", "q59_pii_redact",
        "q81_hash_split")
      val names =
        if (args.length > 1)
          graft.SparkEntry.queries.keys.toSeq
            .filter(n => args.drop(1).exists(n.startsWith)).sorted
        else defaults
      if (!new java.io.File(s"$Out100/documents.parquet").isDirectory) {
        val t0 = System.nanoTime()
        generate(spark, Out100, factor = 100, withEvents = false)
        println(f"[scale] generated $Out100 in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      def timeFull(name: String, dir: String): Double = {
        val fn = graft.SparkEntry.queries(name)
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[scale] ${"query"}%-22s ${"t1x"}%8s ${"t10x"}%8s ${"t100x"}%8s ${"r10"}%5s ${"r100"}%6s  (noop sink)")
      for (n <- names) {
        timeFull(n, Base)
        coldStart()
        val t1 = timeFull(n, Base)
        coldStart()
        val t10 = timeFull(n, Out)
        coldStart()
        val t100 = timeFull(n, Out100)
        println(f"[scale] $n%-22s $t1%7.2fs $t10%7.2fs $t100%7.2fs ${t10 / math.max(t1, 1e-9)}%5.1f ${t100 / math.max(t1, 1e-9)}%6.1f")
      }
      spark.stop()
      return
    }
    // stream mode: the bounded streaming family at 1× and 10×, with the
    // state each gate's bounded run ended with (total rows and memory of
    // its state operators, from the run's last query progress) —
    // Test/runMain graft.tools.ScaleSmoke stream
    if (args.headOption.contains("stream")) {
      val allGates = Seq(
        "q35_stream_hourly", "q36_stream_sessionize", "q42_stream_enrich",
        "q46_stream_funnel", "q68_stream_dedup", "q96_stream_dedup_hourly",
        "q106_stream_session_window", "q116_stream_funnel_outer",
        "q121_stream_minhash", "q128_stream_hll", "q159_stream_histogram",
        "q206_stream_dedup_bloom", "q207_stream_doc_dedup",
        "q210_stream_dedup_windowed", "q215_stream_para_dedup_multibatch",
        "q223_stream_ingest")
      // optional gate-prefix filter: ScaleSmoke stream q68 q206
      // add literal "x100" to also run the SELECTED gates at a third
      // decade (events-only 100× replica, 10M rows) — only gates that
      // read NOTHING but events (the dedup pair q68/q206) qualify
      val gates =
        if (args.length <= 1) allGates
        else allGates.filter(g => args.drop(1).exists(g.startsWith))
      // (state rows, state memory bytes) of the last bounded run
      def state(): (Long, Long) =
        graft.streaming.Streams.lastRunProgress.fold((0L, 0L)) { p =>
          (p.stateOperators.map(_.numRowsTotal).sum,
           p.stateOperators.map(_.memoryUsedBytes).sum)
        }
      println(f"[scale] ${"query"}%-26s ${"t1x"}%8s ${"t10x"}%8s ${"ratio"}%6s ${"rows1x"}%9s ${"rows10x"}%9s ${"mem1x"}%9s ${"mem10x"}%9s ${"mratio"}%6s")
      for (name <- gates) {
        time(name, Base) // warm the streaming machinery + JIT
        coldStart()
        val (t1, _) = time(name, Base)
        val (r1, m1) = state()
        coldStart()
        val (t10, _) = time(name, Out)
        val (r10, m10) = state()
        val r = t10 / math.max(t1, 1e-9)
        val mr = m10.toDouble / math.max(m1, 1L)
        println(f"[scale] $name%-26s $t1%7.2fs $t10%7.2fs $r%6.1f $r1%9d $r10%9d ${m1 / 1024}%8dK ${m10 / 1024}%8dK $mr%6.1f")
      }
      if (args.contains("x100")) {
        val ev100 = "target/scale100ev"
        replicateEvents(spark, ev100, 100)
        println(f"[scale] ${"query"}%-26s ${"t100x"}%8s ${"rows100x"}%10s ${"mem100x"}%10s")
        for (name <- gates) {
          coldStart()
          val (t, _) = time(name, ev100)
          val (rs, ms) = state()
          println(f"[scale] $name%-26s $t%7.2fs $rs%10d ${ms / 1024}%9dK")
        }
      }
      spark.stop()
      return
    }
    // bloomfp mode: MEASURED Bloom false-positive rate at the third
    // decade (10M distinct event keys) under two sizings — the default
    // gate allocation (32×2^21 bits) and the FP-budget knob
    // (log2BitsPerShardFor at 10 bits/key). Every input key is distinct
    // and false negatives are impossible, so the survivor deficit is
    // EXACTLY the false-drop count; fp_formula is the per-check rate at
    // final fill (the measured average over the stream sits below it
    // because early checks probe an emptier filter).
    // Test/runMain graft.tools.ScaleSmoke bloomfp
    if (args.headOption.contains("bloomfp")) {
      val ev100 = "target/scale100ev"
      replicateEvents(spark, ev100, 100)
      val distinct = spark.read.parquet(s"$ev100/events.parquet")
        .select("event_id").distinct().count()
      val autoLog2 =
        graft.streaming.Streams.log2BitsPerShardFor(distinct, 10, 32)
      println(s"[scale] bloomfp: n=$distinct distinct keys; " +
        s"sizings: default 2^21, budget 2^$autoLog2 (10 bits/key)")
      println(f"[scale] ${"sizing"}%-14s ${"alloc"}%7s ${"survivors"}%10s ${"false_drops"}%11s ${"fp_measured"}%12s ${"fp_formula"}%11s ${"t"}%7s")
      for ((label, log2) <- Seq("default_2^21" -> 21,
                                s"budget_2^$autoLog2" -> autoLog2)) {
        coldStart()
        val t0 = System.nanoTime()
        val survivors = graft.streaming.Streams.runBounded(
          graft.streaming.Streams.bloomDedupStream(
            graft.streaming.Streams.readEventsStream(spark, ev100),
            shards = 32, log2BitsPerShard = log2),
          org.apache.spark.sql.streaming.OutputMode.Update()).count()
        val t = (System.nanoTime() - t0) / 1e9
        val drops = distinct - survivors
        val mBits = 32.0 * (1L << log2)
        val fpFinal = math.pow(1 - math.exp(-4.0 * distinct / mBits), 4)
        val allocMb = 32L * (1L << log2) / 8 / 1024 / 1024
        println(f"[scale] $label%-14s $allocMb%5dMB $survivors%10d $drops%11d ${drops.toDouble / distinct}%12.6f $fpFinal%11.6f $t%6.1fs")
      }
      spark.stop()
      return
    }
    // dup10 mode: the collapse-value measurement. The standard replica
    // is DELIBERATELY dup-free across replicas (cross-replica jaccard
    // 0), so the adaptive exact-duplicate collapse never engages there;
    // this mode replicates every document VERBATIM 10× (id offsets
    // only — ~91% exact-dup rate, 10-member groups), the corpus shape
    // the collapse defends, and times each pair family direct vs
    // collapsed on it. Row counts must match exactly (the collapse is
    // an exact factoring). Test/runMain graft.tools.ScaleSmoke dup10
    if (args.headOption.contains("dup10")) {
      val out = "target/dup10"
      if (!new java.io.File(s"$out/documents.parquet").isDirectory) {
        spark.read.parquet(s"$Base/documents.parquet")
          .select(col("*"),
            explode(array((0 until 10).map(lit): _*)).as("rep"))
          .select((col("doc_id") + col("rep") * 10000000L).as("doc_id"),
            col("text"), col("lang"), col("source"), col("n_chars"))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$out/documents.parquet")
      }
      println(s"[scale] dup10 docs = " +
        spark.read.parquet(s"$out/documents.parquet").count())
      val fams: Seq[(String, Boolean => org.apache.spark.sql.DataFrame)] =
        Seq(
          ("minhash", c => graft.ext.Dedup.minhashLsh(spark, out,
            collapse = Some(c))),
          ("simhash", c => graft.ext.Dedup.simhashPairs(spark, out,
            collapse = Some(c))),
          ("jaccard", c => graft.ext.Dedup.jaccardPairs(spark, out, 0.8,
            collapse = Some(c))),
          ("containment", c => graft.ext.Dedup.containmentPairs(spark, out,
            collapse = Some(c))))
      println(f"[scale] ${"family"}%-14s ${"t_direct"}%9s ${"t_collapsed"}%12s ${"speedup"}%8s ${"rows"}%10s")
      for ((name, fn) <- fams) {
        def timed(collapse: Boolean): (Double, Long) = {
          coldStart()
          val t0 = System.nanoTime()
          val rows = fn(collapse).count()
          ((System.nanoTime() - t0) / 1e9, rows)
        }
        timed(true) // warm JIT/codegen on the cheap side
        val (tc, rc) = timed(true)
        val (td, rd) = timed(false)
        assert(rd == rc, s"$name: direct $rd != collapsed $rc rows")
        println(f"[scale] $name%-14s $td%8.2fs $tc%11.2fs ${td / math.max(tc, 1e-9)}%7.1fx $rd%10d")
      }
      spark.stop()
      return
    }
    // incrdup mode: the q226 collapse certification AT SCALE (round-13
    // verdict item 1) — on the verbatim-10× dup-heavy corpus
    // (dupscale_a, 10-member exact-dup groups on BOTH the standing and
    // batch sides), the collapsed index probe's band-candidate count
    // must track DISTINCT fingerprints while the direct join's tracks
    // raw copy products (k·m ≈ 100× per boilerplate band), and the two
    // plans must return row-identical output (xor checksum).
    // Test/runMain graft.tools.ScaleSmoke incrdup
    if (args.headOption.contains("incrdup")) {
      if (!new java.io.File(s"$Out/documents.parquet").isDirectory)
        generate(spark)
      dupify(spark, Out, "target/dupscale_a", 10)
      val dir = "target/dupscale_a"
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val isNew = length(col("source")) > 4
      val corpus = docs.filter(!isNew).select(col("doc_id"), col("text"))
      val batch = docs.filter(isNew).select(col("doc_id"), col("text"))
      val fp = md5(graft.ext.TextAnalysis.normalized(col("text")))
      val (nC, dC) = (corpus.count(), corpus.select(fp).distinct().count())
      val (nB, dB) = (batch.count(), batch.select(fp).distinct().count())
      coldStart()
      // the two plans' own candidate stages: batch×corpus doc pairs vs
      // batch-rep × index-row fingerprint pairs
      val candRaw = graft.ext.Dedup.directProbeCandidates(
        graft.ext.Dedup.shingledOf(batch),
        graft.ext.Dedup.shingledOf(corpus)).count()
      val candRep = graft.ext.Dedup.probeCandidates(
        graft.ext.Dedup.nearDupIndexOf(corpus), batch)._3.count()
      println(s"[scale] incrdup corpus=$nC (distinct $dC) " +
        s"batch=$nB (distinct $dB)")
      println(f"[scale] incrdup candidates: direct=$candRaw collapsed=$candRep ratio=${candRaw.toDouble / math.max(candRep, 1L)}%.1f (copy product ${nC.toDouble / dC * nB / dB}%.0f)")
      def timed(collapse: Boolean): (Double, Long, Long) = {
        coldStart()
        val t0 = System.nanoTime()
        val r = graft.ext.Dedup
          .incrementalNearDedup(spark, dir, collapse = Some(collapse))
          .agg(count(lit(1)), expr(
            "bit_xor(xxhash64(doc_id, novel, n_dups, match_id))"))
          .head()
        ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1))
      }
      timed(true) // warm JIT/codegen on the cheap side
      val (tc, rowsC, chkC) = timed(true)
      val (td, rowsD, chkD) = timed(false)
      assert(rowsD == rowsC && chkD == chkC,
        s"direct ($rowsD, $chkD) != collapsed ($rowsC, $chkC)")
      println(f"[scale] incrdup t_direct=$td%.1fs t_collapsed=$tc%.1fs speedup=${td / math.max(tc, 1e-9)}%.1fx rows=$rowsD checksums_match=true")
      spark.stop()
      return
    }
    // probebias mode: measured-vs-true duplicate fraction under the
    // sampled probe (ProbeSampleKey) at p = 1.0 / 0.1 / 0.01, on a
    // dup-LIGHT corpus (the 10× replica, ~0.2% dups) and the dup-HEAVY
    // dupscale corpus (~90% dups, 10-member groups). The sample splits
    // each size-g dup group Binomial(g, p), so the bias is DOWNWARD and
    // largest where groups are small and p is low — the numbers certify
    // the documented direction and that the collapse DECISION (≥5%)
    // never flips on the corpus shape it matters for.
    // Test/runMain graft.tools.ScaleSmoke probebias
    if (args.headOption.contains("probebias")) {
      if (!new java.io.File(s"$Out/documents.parquet").isDirectory)
        generate(spark)
      dupify(spark, Out, "target/dupscale_a", 10)
      val key = graft.ext.Dedup.ProbeSampleKey
      println(f"[scale] ${"corpus"}%-12s ${"p"}%6s ${"measured"}%9s ${"t"}%7s")
      for ((tag, dir) <- Seq(("duplight10x", Out),
                             ("dupheavy", "target/dupscale_a"))) {
        for (p <- Seq("1.0", "0.1", "0.01")) {
          coldStart()
          if (p != "1.0") spark.conf.set(key, p)
          try {
            val t0 = System.nanoTime()
            val f = graft.ext.Dedup.dupFractionDir(spark, dir, Nil)
            val t = (System.nanoTime() - t0) / 1e9
            println(f"[scale] $tag%-12s $p%6s $f%9.4f $t%6.2fs")
          } finally if (p != "1.0") spark.conf.unset(key)
        }
      }
      spark.stop()
      return
    }
    // probecost mode: the dup-probe exact-fallback CROSSOVER (round-13
    // verdict item 6) — wall-clock of the probe at four distinct-count
    // decades (≈500 / 5k / 50k / 500k fingerprints) under three
    // threshold settings: HLL-only (fallback disabled), the production
    // default (exact below 100k), and exact-always. The 100k bound is
    // justified (or moved) by where the exact column's added scan
    // stops being noise. Test/runMain graft.tools.ScaleSmoke probecost
    if (args.headOption.contains("probecost")) {
      if (!new java.io.File(s"$Out/documents.parquet").isDirectory)
        generate(spark)
      if (!new java.io.File(s"$Out100/documents.parquet").isDirectory)
        generate(spark, Out100, factor = 100, withEvents = false)
      val key = graft.ext.Dedup.ExactProbeThresholdKey
      println(f"[scale] ${"corpus"}%-12s ${"mode"}%-13s ${"fraction"}%9s ${"t"}%8s")
      for ((tag, dir) <- Seq(("sf0.01_500", "/root/testdata/sf0.01"),
                             ("sf0.1_5k", Base), ("10x_50k", Out),
                             ("100x_500k", Out100))) {
        for ((mode, thr) <- Seq(("hll_only", Some("0")),
                                ("default_100k", None),
                                ("exact_always", Some("1000000000000")))) {
          coldStart()
          thr.foreach(v => spark.conf.set(key, v))
          try {
            val t0 = System.nanoTime()
            val f = graft.ext.Dedup.dupFractionDir(spark, dir, Nil)
            val t = (System.nanoTime() - t0) / 1e9
            println(f"[scale] $tag%-12s $mode%-13s $f%9.4f $t%7.2fs")
          } finally thr.foreach(_ => spark.conf.unset(key))
        }
      }
      spark.stop()
      return
    }
    // dupscale mode: the collapse certification AT SCALE (round-11
    // verdict item 5). Two corpora with the SAME raw size but 10×
    // different distinct-doc counts:
    //   A = scale10 documents replicated 10× verbatim (10% distinct)
    //   B = sf0.1   documents replicated 100× verbatim (1% distinct)
    // The collapsed verify join's candidate volume must track DISTINCT
    // docs (A ≈ 10× B's rep-side candidates); the direct plan's must
    // track Σ group² (B ≫ A despite equal raw size). Timings compare
    // minhash direct vs collapsed on both.
    // Test/runMain graft.tools.ScaleSmoke dupscale
    if (args.headOption.contains("dupscale")) {
      // corpus A needs the scale10 replica's documents
      if (!new java.io.File(s"$Out/documents.parquet").isDirectory)
        generate(spark)
      dupify(spark, Out, "target/dupscale_a", 10)
      dupify(spark, Base, "target/dupscale_b", 100)
      println(f"[scale] ${"corpus"}%-10s ${"raw"}%9s ${"distinct"}%9s ${"candRep"}%9s ${"candRaw"}%12s ${"t_coll"}%8s ${"t_dir"}%8s")
      for ((tag, dir) <- Seq(("A_10pct", "target/dupscale_a"),
                             ("B_1pct", "target/dupscale_b"))) {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val raw = docs.count()
        // representatives: one doc per distinct normalized text — the
        // exact rep set the collapse runs the family over
        val fp = md5(graft.ext.TextAnalysis.normalized(col("text")))
        val reps = docs.withColumn("fp", fp)
          .withColumn("keep",
            col("doc_id") === min(col("doc_id")).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
          .filter(col("keep"))
          .select(col("doc_id"), col("text"))
          .persist()
        val distinct = reps.count()
        // the LSH band join's own candidate stage, over each side
        def lshCandidates(d: DataFrame): Long =
          graft.ext.Dedup.candidatePairsOfSig(graft.ext.Dedup.signatures(
            graft.ext.Dedup.shingledOf(d))).count()
        val candRep = lshCandidates(reps)
        val candRaw = lshCandidates(docs)
        reps.unpersist(blocking = false)
        def timedMinhash(collapse: Boolean): Double = {
          coldStart()
          val t0 = System.nanoTime()
          graft.ext.Dedup.minhashLsh(spark, dir, collapse = Some(collapse))
            .count()
          (System.nanoTime() - t0) / 1e9
        }
        timedMinhash(true) // warm
        val tColl = timedMinhash(true)
        val tDir = timedMinhash(false)
        println(f"[scale] $tag%-10s $raw%9d $distinct%9d $candRep%9d $candRaw%12d $tColl%7.1fs $tDir%7.1fs")
      }
      spark.stop()
      return
    }
    // annrecall mode: the ANN quality-vs-scale certification — mean
    // recall@k of the IVF index against exact brute force, swept over
    // nProbe, at 1×/10×/100× (the scale100 replica carries embeddings).
    // "A 100 TB corpus is searchable from the index" needs a recall
    // curve as the corpus grows, not just a latency one: the replica
    // grows by ADDING cells (cell populations stay sf0.1-sized), so a
    // fixed-nProbe search probes a shrinking FRACTION of the corpus —
    // recall holding up across decades is the claim under test.
    // Test/runMain graft.tools.ScaleSmoke annrecall
    if (args.headOption.contains("annrecall")) {
      if (!new java.io.File(s"$Out/embeddings.parquet").isDirectory)
        generate(spark)
      if (!new java.io.File(s"$Out100/embeddings.parquet").isDirectory)
        generate(spark, Out100, factor = 100, withEvents = false)
      val nQ = 20
      println(f"[scale] ${"corpus"}%-6s ${"cells"}%5s ${"nAsg"}%4s ${"k"}%3s ${"nProbe"}%6s ${"recall@k"}%9s ${"t_sweep"}%8s")
      // rows: the default index (nAssign=3) across decades, a scaled-
      // cells variant per decade, and single-assign stress rows (no
      // boundary overlap — the config where straddling shows first)
      val rows = Seq(
        ("1x", Base, 24, 3, 10), ("10x", Out, 24, 3, 10),
        ("10x", Out, 76, 3, 10), ("100x", Out100, 24, 3, 10),
        ("100x", Out100, 240, 3, 10),
        ("10x", Out, 76, 1, 10), ("100x", Out100, 240, 1, 10),
        ("100x", Out100, 240, 1, 50))
      for ((tag, dir, cells, nAsg, k) <- rows) {
        for (nProbe <- Seq(1, 2, 4, 8)) {
          coldStart()
          val t0 = System.nanoTime()
          val mean = graft.ext.Similarity
            .ivfRecall(spark, dir, nQueries = nQ, k = k,
                       numCells = cells, nProbe = nProbe, nAssign = nAsg)
            .agg(avg(col("recall"))).head().getDouble(0)
          val t = (System.nanoTime() - t0) / 1e9
          println(f"[scale] $tag%-6s $cells%5d $nAsg%4d $k%3d $nProbe%6d $mean%9.4f $t%7.2fs")
        }
      }
      spark.stop()
      return
    }
    // pipeline mode: the END-TO-END 100× dress rehearsal — the
    // q63/q193/q197/q100 chain (quality clean → minhash near-dup
    // removal → DSIR select → deterministic shard) composed as ONE run
    // over the 500k-doc replica, with a REAL parquet materialization
    // at every stage boundary (the production shape: each stage's
    // output is the next stage's input table, so every dir-based
    // operator runs unchanged on its predecessor's output). Reports
    // wall-clock, rows in→out, boundary bytes, and the cached-storage
    // peak per stage, plus the composed total.
    // Test/runMain graft.tools.ScaleSmoke pipeline
    // bpek mode: the trainer-linearity measurement — wall-clock for k
    // BPE merges with the production fold-chain cap (4) vs effectively
    // uncapped (the pre-fix O(k²) shape, where iteration t re-evaluates
    // all t folds from the raw character split AND Catalyst re-analyzes
    // a t-deep nested-aggregate expression). Same learned merges either
    // way (BpeMergesSpec pins equality); this measures cost only.
    // Test/runMain graft.tools.ScaleSmoke bpek
    if (args.headOption.contains("bpek")) {
      graft.ext.TextAnalysis.bpeMerges(spark, Base, 2).count() // JIT warmup
      println(f"[scale] ${"k"}%4s ${"t_seq"}%8s ${"rounds"}%7s ${"t_b64"}%8s ${"rounds"}%7s ${"t_uncapped"}%11s ${"speedup_b64"}%12s")
      for (k <- Seq(8, 16, 32, 64)) {
        def timed(batch: Int, cap: Int = 4): (Double, Int, Seq[String]) = {
          coldStart()
          val t0 = System.nanoTime()
          val table = graft.ext.TextAnalysis
            .bpeMerges(spark, Base, k, foldChainCap = cap,
                       batchSize = batch)
            .collect().map(_.toString).toSeq
          ((System.nanoTime() - t0) / 1e9,
           graft.ext.TextAnalysis.lastTrainRounds, table)
        }
        val (tSeq, rSeq, tabSeq) = timed(1)
        val (tB, rB, tabB) = timed(64)
        val (tUn, _, _) = timed(1, cap = 1 << 20)
        // batched selection must learn the IDENTICAL table (the
        // empirical per-corpus certification of the skip rule)
        assert(tabB == tabSeq,
          s"k=$k: batched table diverged from sequential")
        println(f"[scale] $k%4d $tSeq%7.1fs $rSeq%7d $tB%7.1fs $rB%7d $tUn%10.1fs ${tSeq / math.max(tB, 1e-9)}%11.1fx")
      }
      spark.stop()
      return
    }
    // bpekprod mode: the batched trainer at a PRODUCTION merge budget
    // (k ≥ 1024). The sf0.1 corpus vocabulary is tail-bound by
    // sequentially-dependent spelling chains (the bpek table), so the
    // rounds ≪ k claim is measured on a wide-count-band synthetic
    // vocabulary: 20k distinct words over a 288-syllable (consonant+
    // vowel) inventory with Zipf counts — syllable-structured words
    // give each round many instance-disjoint high-count candidates,
    // the shape a real large corpus's vocabulary has and the gate
    // corpus lacks. Equality is asserted step-for-step against an
    // independent in-memory sequential trainer (the BpeMergesSpec
    // model generalized), so the batch guards are re-certified AT the
    // measured budget, not assumed from small k.
    // Test/runMain graft.tools.ScaleSmoke bpekprod [k]
    if (args.headOption.contains("bpekprod")) {
      val k = args.drop(1).headOption.flatMap(_.toIntOption)
        .getOrElse(1024)
      // corpus 1 — zipf_syllable: 20k distinct words over a
      // 288-syllable (consonant+vowel) inventory with Zipf counts, the
      // "natural-ish" wide-band shape. Its batch width is bound by the
      // created-pair floor: merging a high-count boundary pair creates
      // pairs whose measured trigram ceilings sit only a small factor
      // below the next candidates, so sequential order genuinely
      // constrains batching — the honest corpus-bound row.
      val zipfSyllable: Seq[(String, Long)] = {
        val rnd = new scala.util.Random(17)
        val cons = "bcdfghjklmnpqrstvwxz0123"
        val vows = "aeiouy456789"
        val sylls = for (c <- cons; v <- vows) yield s"$c$v"
        def word(): String = {
          val n = 4 + rnd.nextInt(5)
          (0 until n).map { _ =>
            val u = rnd.nextDouble()
            sylls(math.min(((u * u) * sylls.length).toInt,
                           sylls.length - 1))
          }.mkString
        }
        val vocab =
          scala.collection.mutable.LinkedHashMap.empty[String, Long]
        var rank = 1
        while (vocab.size < 20000) {
          val w = word()
          if (!vocab.contains(w)) {
            vocab(w) = math.max(1L, 400000L / rank)
            rank += 1
          }
        }
        vocab.toSeq
      }
      // corpus 2 — blocked_band: the mechanism's CAPABILITY ceiling. A
      // vocabulary whose merge queue consists of class-disjoint blocks
      // (lhs and rhs drawn from disjoint symbol classes → every pair in
      // a block is instance-disjoint from every other) with distinct,
      // well-separated count bands: 972 two-char words over six
      // (L,R)/(R,L)/(L1,L2)/… blocks plus 64 four-char words whose
      // level-2 created-symbol pairs surface once their halves merge.
      // Two-char words create NO pairs after merging (and have no
      // trigrams), so the count-gap floor reads the measured ceilings
      // at ~the four-char word counts, far below every block band —
      // each round accepts a full batch.
      val blockedBand: Seq[(String, Long)] = {
        val all = "abcdefghijklmnopqrstuvwxyz0123456789"
        val L = all.substring(0, 18); val R = all.substring(18)
        val words =
          scala.collection.mutable.LinkedHashMap.empty[String, Long]
        def block(ls: String, rs: String, base: Long): Unit = {
          var idx = 0
          for (l <- ls; r <- rs) {
            words(s"$l$r") = base - idx * 37L
            idx += 1
          }
        }
        block(L, R, 90000L)                              // 324
        block(R, L, 70000L)                              // 324
        block(L.substring(0, 9), L.substring(9), 50000L) // 81
        block(L.substring(9), L.substring(0, 9), 45000L) // 81
        block(R.substring(0, 9), R.substring(9), 40000L) // 81
        block(R.substring(9), R.substring(0, 9), 35000L) // 81
        for (i <- 0 until 64) {                          // level-2: 64
          val w = "" + L(i % 9) + R(i % 18) +
            L(9 + i % 9) + R((i / 9 + 7) % 18)
          words(w) = words.getOrElse(w, 0L) + 1000L + i
        }
        words.toSeq
      }
      println(f"[scale] ${"corpus"}%-14s ${"k"}%5s ${"vocab"}%6s ${"rounds"}%6s ${"rounds/k"}%8s ${"t_spark_b64"}%11s ${"t_model_seq"}%11s eq")
      for ((tag, vocab) <- Seq(("zipf_syllable", zipfSyllable),
                               ("blocked_band", blockedBand))) {
        val wcDf = spark.createDataFrame(vocab).toDF("w", "n")
          .repartition(8)
        coldStart()
        val t0 = System.nanoTime()
        val got = graft.ext.TextAnalysis.bpeTrainOnWordCounts(wcDf, k)
        val tB = (System.nanoTime() - t0) / 1e9
        val rounds = graft.ext.TextAnalysis.lastTrainRounds
        val t1 = System.nanoTime()
        val want = bpeModelTrain(vocab, k)
        val tM = (System.nanoTime() - t1) / 1e9
        assert(got == want,
          s"$tag k=$k: batched table diverged from the sequential " +
          s"model (got ${got.size} merges, want ${want.size})")
        println(f"[scale] $tag%-14s $k%5d ${vocab.size}%6d $rounds%6d ${rounds.toDouble / k}%8.3f $tB%10.1fs $tM%10.1fs OK")
      }
      spark.stop()
      return
    }
    // bpecross mode: the distributed-vs-in-memory crossover bpekprod's
    // honest table implied but did not price (Spark 178.9 s vs 71.4 s
    // in-memory on a 20k vocabulary — at gate scale the cluster
    // trainer loses; this mode finds where that flips). Vocabulary
    // decade ladder of DISTINCT words (deterministic base-288
    // syllable encoding of the word index, so the driver and cluster
    // generators agree word for word; Zipf counts 10V/rank), k merges
    // each decade:
    //   - Spark `bpeTrainOnWordCounts` wall + batched round count
    //   - the in-memory sequential model's wall, TIME-BOXED (300 s) —
    //     past the box it reports DNF with the measured rounds;
    //     equality vs the Spark merge table is asserted whenever the
    //     model finishes. OOM on the big decade is caught and
    //     reported as the row (that wall is the measurement: ~10M
    //     char-vector map entries ≈ 4+ GB driver state on an 8g heap,
    //     rescanned and rebuilt once per merge).
    // Test/runMain graft.tools.ScaleSmoke bpecross [k]
    if (args.headOption.contains("bpecross")) {
      val k = args.drop(1).headOption.flatMap(_.toIntOption)
        .getOrElse(64)
      val sylls: IndexedSeq[String] = {
        val cons = "bcdfghjklmnpqrstvwxz0123"
        val vows = "aeiouy456789"
        for (c <- cons; v <- vows) yield s"$c$v"
      }
      def wordOf(id: Long): String =
        (3 to 0 by -1).map(j =>
          sylls(((id / math.pow(288, j).toLong) % 288).toInt)).mkString
      val modelBudgetSec = 300
      println(s"[scale] bpecross: k=$k, Zipf 10V/rank, 8-char words, " +
        s"model time-box ${modelBudgetSec}s")
      println(f"[scale] ${"vocab"}%9s ${"t_spark"}%8s ${"rounds"}%6s ${"t_model"}%8s  eq / model outcome")
      for (v <- Seq(10000L, 100000L, 1000000L, 10000000L)) {
        val syllArr = array(sylls.map(lit): _*)
        val wcDf = spark.range(v)
          .withColumn("sy", syllArr)
          .select(
            concat_ws("", (3 to 0 by -1).map(j =>
              expr(s"element_at(sy, cast((id div " +
                s"${math.pow(288, j).toLong}L) % 288 as int) + 1)"))
              : _*).as("w"),
            expr(s"greatest(cast(1 as bigint), ${10L * v}L div (id + 1))")
              .as("n"))
          .repartition(32)
        coldStart()
        val t0 = System.nanoTime()
        val got = graft.ext.TextAnalysis.bpeTrainOnWordCounts(wcDf, k)
        val tSpark = (System.nanoTime() - t0) / 1e9
        val rounds = graft.ext.TextAnalysis.lastTrainRounds
        val (tModel, outcome) =
          try {
            val t1 = System.nanoTime()
            val vocab = (0L until v).map(id =>
              (wordOf(id), math.max(1L, (10L * v) / (id + 1))))
            val deadline = System.nanoTime() + modelBudgetSec * 1000000000L
            val want = bpeModelTrain(vocab, k, deadline)
            val tM = (System.nanoTime() - t1) / 1e9
            if (want.size == got.size) {
              assert(got == want,
                s"V=$v k=$k: batched table diverged from the model")
              (tM, "OK (equal merge tables)")
            } else
              (tM, s"DNF: time-box hit after ${want.size}/$k merges")
          } catch {
            case e: OutOfMemoryError =>
              (Double.NaN, s"OOM building/rescanning the driver map " +
                s"(${e.getMessage})")
          }
        println(f"[scale] $v%9d $tSpark%7.1fs $rounds%6d ${if (tModel.isNaN) "  OOM" else f"$tModel%7.1fs"}%8s  $outcome")
      }
      spark.stop()
      return
    }
    if (args.headOption.contains("pipeline")) {
      if (!new java.io.File(s"$Out100/documents.parquet").isDirectory)
        generate(spark, Out100, factor = 100, withEvents = false)
      val base = "target/pipeline100"
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
        f.delete(); ()
      }
      rmrf(new java.io.File(base)) // fresh rehearsal every invocation
      def du(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(du).sum)
        else f.length
      coldStart()
      println(f"[scale] ${"stage"}%-8s ${"rows_out"}%9s ${"bytes_out"}%10s ${"storage_pk"}%10s ${"t"}%8s")
      var totalT = 0.0
      def stage(name: String, outDir: String)(build: => DataFrame): Long = {
        val t0 = System.nanoTime()
        build.repartition(32).write.mode("overwrite")
          .parquet(s"$outDir/documents.parquet")
        val rows = spark.read.parquet(s"$outDir/documents.parquet").count()
        val t = (System.nanoTime() - t0) / 1e9
        totalT += t
        val bytes = du(new java.io.File(outDir))
        val pk = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
        println(f"[scale] $name%-8s $rows%9d ${bytes / 1024 / 1024}%8dMB ${pk / 1024 / 1024}%8dMB $t%7.1fs")
        rows
      }
      val nIn = spark.read.parquet(s"$Out100/documents.parquet").count()
      // 1. clean: the q45/q63 quality front (token-count + stopword
      //    rules), survivors carry the full documents schema forward
      val cleanDir = s"$base/clean"
      stage("clean", cleanDir) {
        spark.read.parquet(s"$Out100/documents.parquet")
          .join(graft.ext.TextAnalysis.qualityFilter(spark, Out100)
                  .select("doc_id"),
                Seq("doc_id"), "left_semi")
      }
      // 2. paradedup: q211's cross-corpus paragraph dedup over the
      //    cleaned table — boilerplate removed BEFORE near-dup
      //    detection (the CCNet ordering: shared boilerplate otherwise
      //    inflates minhash similarity between unrelated docs).
      //    Surviving docs carry their reassembled text forward.
      val paraDir = s"$base/paradedup"
      stage("paradedup", paraDir) {
        spark.read.parquet(s"$cleanDir/documents.parquet")
          .drop("text", "n_chars")
          .join(graft.ext.Dedup.paragraphDedup(spark, cleanDir)
                  .select(col("doc_id"), col("text_kept").as("text")),
                Seq("doc_id"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
      // 2b. substr: q216's ExactSubstr removal over the para-deduped
      //     table — the Lee et al. ordering (strip cross-doc
      //     duplicated runs BEFORE near-dup detection, so residual
      //     boilerplate does not inflate minhash similarity between
      //     otherwise-unrelated docs); fully-duplicated docs drop out
      val substrDir = s"$base/substr"
      stage("substr", substrDir) {
        spark.read.parquet(s"$paraDir/documents.parquet")
          .drop("text", "n_chars")
          .join(graft.ext.SubstrDup.substrRemove(spark, paraDir)
                  .filter(col("clean_text") =!= "")
                  .select(col("doc_id"), col("clean_text").as("text")),
                Seq("doc_id"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
      // 3. dedup: q193's minhash-LSH near-dup removal (collapse-gated
      //    pair pipeline → cluster-min survivors) over the
      //    substring-cleaned table
      val dedupDir = s"$base/dedup"
      stage("dedup", dedupDir) {
        spark.read.parquet(s"$substrDir/documents.parquet")
          .join(graft.ext.Dedup.dedupedCorpus(spark, substrDir)
                  .select("doc_id"),
                Seq("doc_id"), "left_semi")
      }
      // 4. select: q197's DSIR importance selection over the DEDUPED
      //    pool — keep the top 10% by importance weight
      val selDir = s"$base/select"
      val poolN = spark.read.parquet(s"$dedupDir/documents.parquet").count()
      val selK = math.max(1L, poolN / 10L).toInt
      stage("select", selDir) {
        spark.read.parquet(s"$dedupDir/documents.parquet")
          .join(graft.ext.Selection.dsirSelect(spark, dedupDir, k = selK)
                  .filter(col("selected") === 1L).select("doc_id"),
                Seq("doc_id"), "left_semi")
      }
      // 5. cap: q212's per-source token-budget enactment over the
      //    SELECTED pool — the mixture-flattening delivery step: every
      //    source keeps its docs in doc_id order while they fit ONE
      //    shared budget (half the median source's token mass, so
      //    heavy sources get trimmed and light ones ride free).
      //    Replayable on any partitioning (q64's hierarchical prefix
      //    sum underneath).
      val capDir = s"$base/cap"
      val medianSrc = graft.ext.Sampling
        .sourceTokenCap(spark, selDir, capTokens = Long.MaxValue)
        .groupBy(col("source")).agg(sum(col("n_toks")).as("t"))
        .agg(expr("percentile_approx(t, 0.5, 10000)")).collect()(0).getLong(0)
      val budget = math.max(1L, medianSrc / 2L)
      stage("cap", capDir) {
        spark.read.parquet(s"$selDir/documents.parquet")
          .join(graft.ext.Sampling.sourceTokenCap(spark, selDir, budget)
                  .filter(col("kept") === 1L).select("doc_id"),
                Seq("doc_id"), "left_semi")
      }
      // 6. fertility: q214's per-source token accounting under the
      //    corpus-trained BPE — the number a training run budgets by.
      //    Output is bounded by the source dimension (no stage write).
      val t0f = System.nanoTime()
      val fert = graft.ext.TextAnalysis.bpeEncode(spark, capDir)
        .agg(sum(col("n_docs")), sum(col("n_words")), sum(col("n_tokens")))
        .collect()(0)
      val tF = (System.nanoTime() - t0f) / 1e9
      totalT += tF
      println(f"[scale] fertility: budget/src=$budget%d tokens; delivered " +
        f"docs=${fert.getLong(0)}%d words=${fert.getLong(1)}%d " +
        f"bpe_tokens=${fert.getLong(2)}%d " +
        f"(fertility ${fert.getLong(2).toDouble / fert.getLong(1)}%.3f), " +
        f"$tF%.1f s")
      // 7. shard: q100's deterministic shuffle-shard of the CAPPED
      //    corpus (the delivery step) — the output is the per-shard
      //    manifest, bounded by the shard count
      val t0s = System.nanoTime()
      val shards = graft.ext.Splits
        .shuffleShards(spark, capDir, nShards = 32).collect()
      val tS = (System.nanoTime() - t0s) / 1e9
      totalT += tS
      val chk = shards.map(_.getLong(2)).sum
      println(f"[scale] shard    ${shards.length}%9d ${"-"}%10s ${"-"}%10s $tS%7.1fs")
      println(f"[scale] pipeline: $nIn%d docs in → ${shards.map(_.getLong(1)).sum}%d sharded out, " +
        f"order_chk=$chk%d, total ${totalT}%.1f s, boundary bytes ${du(new java.io.File(base)) / 1024 / 1024}%d MB")
      spark.stop()
      return
    }
    // pairbudget mode: the candidate-budget guard's measured price on
    // the exact-pair gates — same JVM, alternating guard-off (-1
    // disables) and guard-on (default budget) cold runs of q28
    // (jaccard self-join pricing) and q103 (containment asymmetric-
    // join pricing). Both guards share the free sound pre-check, so
    // at gate scale the sketch never runs and the deltas must be
    // noise; this mode keeps that price pinned.
    // Test/runMain graft.tools.ScaleSmoke pairbudget
    if (args.headOption.contains("pairbudget")) {
      for (gate <- Seq("q28_jaccard_pairs", "q103_containment")) {
        def run(budget: String): Double = {
          spark.conf.set(graft.ext.Dedup.PairBudgetKey, budget)
          coldStart()
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(gate)(spark, Base).count()
          (System.nanoTime() - t0) / 1e9
        }
        run("-1"); run("2000000000") // warm JIT on both plan shapes
        val offs = (1 to 3).map(_ => run("-1"))
        val ons = (1 to 3).map(_ => run("2000000000"))
        spark.conf.unset(graft.ext.Dedup.PairBudgetKey)
        println(f"[scale] pairbudget $gate(sf0.1): guard_off min ${offs.min}%.2f s (all ${offs.map(t => f"$t%.2f").mkString("/")}) guard_on min ${ons.min}%.2f s (all ${ons.map(t => f"$t%.2f").mkString("/")}) delta ${ons.min - offs.min}%+.2f s")
      }
      spark.stop()
      return
    }
    // indexmaint mode: N-batch durable-index maintenance — the q234
    // lifecycle folded over N daily batches against the sf0.1 corpus.
    // Batch k carries (a) VERBATIM copies of the new-source documents
    // (for k ≥ 2 these are exact dups of batch-1 ADMISSIONS — caught
    // only if the admit append really wrote durable state) and (b) a
    // fresh per-batch-suffixed variant (novel every batch, so the
    // index KEEPS GROWING while per-batch cost must stay flat — the
    // delta-scaling contract). Compaction runs every second batch and
    // must keep the table's file count bounded while changing nothing.
    // Test/runMain graft.tools.ScaleSmoke indexmaint [nBatches]
    // r16: `indexmaint [nBatches] [10x]` — the second arg folds the
    // maintenance over the 10× replica corpus instead of sf0.1; at
    // N=16 the index ends ≥10× its starting rows (each batch admits a
    // fresh per-batch-suffixed variant of every new-source doc), the
    // decade the delta-scaling contract must hold across.
    if (args.headOption.contains("indexmaint")) {
      val nBatches = args.drop(1).headOption.flatMap(_.toIntOption)
        .getOrElse(4)
      val srcDir = if (args.contains("10x")) Out else Base
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
        f.delete(); ()
      }
      val root = "target/indexmaint"
      rmrf(new java.io.File(root))
      val idxPath = s"$root/index"
      def files() = Option(new java.io.File(idxPath).listFiles)
        .fold(0)(_.count(_.getName.endsWith(".parquet")))
      def idxRows() = spark.read.parquet(idxPath).count()
      val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      val corpus = docs.filter(length(col("source")) <= 4)
        .select(col("doc_id"), col("text"))
      val newDocs = docs.filter(length(col("source")) > 4)
        .select(col("doc_id"), col("text")).persist()
      val nNew = newDocs.count()
      coldStart()
      val t0 = System.nanoTime()
      graft.ext.Dedup.nearDupIndexWrite(corpus, idxPath)
      println(f"[scale] indexmaint($srcDir): corpus indexed in ${(System.nanoTime() - t0) / 1e9}%.1f s (rows=${idxRows()}, files=${files()}); batch size=${2 * nNew} (copies+fresh)")
      println(f"[scale] ${"batch"}%5s ${"cand"}%7s ${"novel"}%7s ${"matched"}%8s ${"via_admit"}%9s ${"t_admit"}%8s ${"idx_rows"}%9s ${"files"}%6s")
      for (k <- 1 to nBatches) {
        val off = k * 1000000000L
        val copies = newDocs
          .select((col("doc_id") + off).as("doc_id"), col("text"))
        val fresh = newDocs
          .select((col("doc_id") + off + 500000000L).as("doc_id"),
            array_join(transform(split(col("text"), " "),
              w => concat(w, lit("b"), lit(k))), " ").as("text"))
        val batch = copies.unionByName(fresh)
        coldStart()
        val cand = graft.ext.Dedup
          .probeCandidates(spark.read.parquet(idxPath), batch)._3.count()
        coldStart()
        val tb = System.nanoTime()
        val probe = graft.ext.Dedup
          .nearDupIndexAdmit(spark, idxPath, batch, 0.5, s"$root/probe$k")
        val novel = probe.filter(col("novel") === 1L).count()
        val t = (System.nanoTime() - tb) / 1e9
        val matched = probe.filter(col("novel") === 0L).count()
        // matched via a batch-1+ ADMISSION (witness id carries the
        // batch offset) vs via the standing corpus
        val viaAdmit = probe.filter(col("match_id") >= 1000000000L)
          .count()
        println(f"[scale] $k%5d $cand%7d $novel%7d $matched%8d $viaAdmit%9d $t%7.1fs ${idxRows()}%9d ${files()}%6d")
        if (k % 2 == 0) {
          val tc = System.nanoTime()
          graft.ext.Dedup.nearDupIndexCompact(spark, idxPath,
            targetFileBytes = 8L * 1024 * 1024)
          println(f"[scale] $k%5d compact in ${(System.nanoTime() - tc) / 1e9}%5.1f s -> rows=${idxRows()} files=${files()}")
        }
      }
      newDocs.unpersist()
      spark.stop()
      return
    }
    // spectrum mode: the within-cluster spectrum probe run the way an
    // operator would run it BEFORE choosing an ANN architecture — on
    // the index's own trained cells of the two certification corpora.
    // The decision rule the annhard/annaniso tables ended with
    // ("measure your corpus's within-cluster spectrum") becomes one
    // measured scalar per corpus: participation ratio pr ≈ effective
    // dimensionality of the within-cell spread. Isotropic mixture
    // (annhard σ=2) must read pr near dim → buy recall with probes
    // (ADC is distribution-bound there); rank-4 anisotropic (annaniso)
    // must read pr near 4 with a dominant top eigenvalue → codes
    // capture the spread (ADC read 1.0000 recall at 8 B).
    // Test/runMain graft.tools.ScaleSmoke spectrum [sampleMod]
    if (args.headOption.contains("spectrum")) {
      val sampleMod = args.drop(1).headOption.flatMap(_.toIntOption)
        .getOrElse(4)
      val cells = 240
      // corpora = the SHARED annhard/annaniso generators (same seeds,
      // same dirs — reuses the tables if those modes built them)
      genAnnhard(spark, 2.0, "target/annhard_2.0_100x", 200000L)
      genAnnaniso(spark, 8.0, "target/annaniso_8.0_100x", 200000L)
      println(s"[scale] spectrum: probe over trained IVF cells " +
        s"(cells=$cells, sampleMod=$sampleMod, normalized layout)")
      println(f"[scale] ${"corpus"}%-22s ${"cells"}%5s ${"n_spl"}%6s ${"pr_wmean"}%8s ${"top_share"}%9s ${"t"}%7s  measured-best (prior tables)")
      for ((tag, dir, best) <- Seq(
             ("isotropic_sigma2", s"target/annhard_2.0_100x",
              "probes (nProbe=24 -> 0.99; ADC capped 0.69-0.82)"),
             ("aniso_rank4", s"target/annaniso_8.0_100x",
              "codes (ADC 8B depth200 -> 1.0000)"))) {
        coldStart()
        val t0 = System.nanoTime()
        val rows = graft.ext.Similarity
          .clusterSpectrumIvf(spark, dir, numCells = cells,
                              sampleMod = sampleMod)
          .collect()
        val t = (System.nanoTime() - t0) / 1e9
        val nTot = rows.map(_.getLong(1)).sum
        def wmean(idx: Int) = rows.map(r =>
          r.getDouble(idx) * r.getLong(1)).sum / nTot
        println(f"[scale] $tag%-22s $cells%5d $nTot%6d ${wmean(4)}%8.2f ${wmean(5)}%9.3f $t%6.1fs  $best")
      }
      println("[scale] rule: pr >> code dims available (>=16) -> " +
        "isotropic spread, buy recall with nProbe; pr ~ a few -> " +
        "low-rank spread, PQ/ADC codes capture it")
      spark.stop()
      return
    }
    // spectrumhd mode: the projected probe's HIGH-DIM certification —
    // the regime the escape hatch exists for. dim=512 versions of both
    // regime corpora (isotropic sigma=2 / rank-4 aniso, same seeded
    // generators, 8 components so the direct probe's K×dim²/2 driver
    // state stays inside the 8g heap), probed per LABEL cell two ways:
    // direct at dim 512 (the 131,328-term explode being avoided) and
    // JL-projected 512 → 64 (64 map-side dots + a 2,080-term explode;
    // outDim = 4×r_code so the PR cap keeps headroom over the
    // isotropy threshold — at outDim=32 the cap EQUALS 2·r_code and
    // the isotropic call flips, measured 28.49 < 32 in the first
    // window). Certifies the decision is UNCHANGED (iso pr ≈ cap ≫
    // r_code; aniso pr ≈ 4 ≪ cap) and the projected probe ≥5× cheaper.
    // Test/runMain graft.tools.ScaleSmoke spectrumhd [dim] [outDim]
    if (args.headOption.contains("spectrumhd")) {
      val dim = args.drop(1).headOption.flatMap(_.toIntOption)
        .getOrElse(512)
      val outDim = args.drop(2).headOption.flatMap(_.toIntOption)
        .getOrElse(64)
      val comps = 8; val n = 20000L; val sampleMod = 4; val rCode = 16
      val isoDir = s"target/spectrumhd_iso_$dim"
      val anisoDir = s"target/spectrumhd_aniso_$dim"
      genAnnhard(spark, 2.0, isoDir, n, dim, comps)
      genAnnaniso(spark, 8.0, anisoDir, n, dim, comps)
      println(s"[scale] spectrumhd: dim=$dim outDim=$outDim " +
        s"comps=$comps n=$n sampleMod=$sampleMod (label cells)")
      println(f"[scale] ${"corpus"}%-12s ${"probe"}%-10s ${"pr_wmean"}%8s ${"top_share"}%9s ${"t"}%8s  decision (pr vs r_code=$rCode)")
      for ((tag, dir) <- Seq(("isotropic", isoDir),
                             ("aniso_r4", anisoDir))) {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val times = scala.collection.mutable.Map.empty[String, Double]
        for (probe <- Seq("direct", "projected")) {
          coldStart()
          val t0 = System.nanoTime()
          val rows = (if (probe == "direct")
              graft.ext.Similarity.clusterSpectrum(
                emb, col("label"), sampleMod, dim)
            else
              graft.ext.Similarity.clusterSpectrumProjected(
                emb, col("label"), dim, outDim,
                sampleMod = sampleMod)).collect()
          val t = (System.nanoTime() - t0) / 1e9
          times(probe) = t
          val nTot = rows.map(_.getLong(1)).sum
          def wmean(idx: Int) = rows.map(r =>
            r.getDouble(idx) * r.getLong(1)).sum / nTot
          val pr = wmean(4)
          val call = if (pr >= 2.0 * rCode) "probes (isotropic)"
                     else "codes (low-rank)"
          println(f"[scale] $tag%-12s $probe%-10s $pr%8.2f ${wmean(5)}%9.3f ${t}%7.1fs  $call")
        }
        println(f"[scale] $tag%-12s speedup direct/projected = ${times("direct") / times("projected")}%.1fx")
      }
      spark.stop()
      return
    }
    // annaniso mode: the ADC-shortlist architecture on an ANISOTROPIC
    // mixture — the geometry real embeddings have (annhard's isotropic
    // σ=2 noise is the worst case for PQ: within-cluster cosine gaps
    // sit below quantization error at any code budget). Here
    // within-cluster variance is LOW-RANK (r=4 latent dims through a
    // fixed per-cluster basis), so candidate distances are a
    // 4-dimensional signal that 16 correlated PQ blocks can rank —
    // the regime where a code-domain scan + bounded exact rerank beats
    // probing more cells with full vectors. Deterministic (seeded
    // centers/bases, xxhash64 Box-Muller latents).
    // Test/runMain graft.tools.ScaleSmoke annaniso [sigma]
    if (args.headOption.contains("annaniso")) {
      val dim = 64; val comps = 24; val rank = 4
      val sigma = args.drop(1).headOption.flatMap(_.toDoubleOption)
        .getOrElse(8.0)
      val n = 200000L; val cells = 240
      val dir = s"target/annaniso_${sigma}_100x"
      genAnnaniso(spark, sigma, dir, n)
      println(s"[scale] annaniso: $comps-component rank-$rank mixture, " +
        s"dim=$dim, sigma=$sigma, n=$n, cells=$cells")
      println(f"[scale] ${"mode"}%-18s ${"nProbe"}%6s ${"depth"}%6s ${"recall@10"}%9s ${"t"}%7s")
      for (nProbe <- Seq(1, 4, 16, 24, 32)) {
        coldStart()
        val t0 = System.nanoTime()
        val mean = graft.ext.Similarity
          .ivfRecall(spark, dir, nQueries = 20, k = 10,
                     numCells = cells, nProbe = nProbe, nAssign = 3)
          .agg(avg(col("recall"))).head().getDouble(0)
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[scale] ${"pure_exact"}%-18s $nProbe%6d ${"-"}%6s $mean%9.4f $t%6.2fs")
      }
      for ((pqM, pqK, nProbe, depth) <- Seq((4, 16, 32, 200),
                                            (16, 16, 32, 200),
                                            (16, 16, 32, 400))) {
        coldStart()
        val t0 = System.nanoTime()
        val r = rerankRecall(spark, dir, 20, 10, cells, nProbe, depth,
                             pqM, pqK)
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[scale] ${s"adc_${pqM}x$pqK+rerank"}%-18s $nProbe%6d $depth%6d $r%9.4f $t%6.2fs")
      }
      spark.stop()
      return
    }
    // annhard mode: ANN recall on a HARD distribution. The standard
    // replica decorrelates by circular shift, which makes cells cleanly
    // separable — recall 1.0 at nAssign=3 says as much about the
    // replica geometry as about the index (round-12 verdict). This
    // corpus is a 24-component Gaussian MIXTURE with shared boundary
    // mass (σ=1 noise on N(0,1)^64 centers → ~45° angular cluster
    // radius vs ~90° center separation): growing the corpus ADDS
    // POINTS to the same mixture (more data, same distribution — the
    // production shape), while the index's cell count grows with the
    // decade, so cells subdivide true clusters and a query's true
    // neighbors straddle cell boundaries. Recall must start below 1.0
    // at nProbe=1 and be RECOVERED by the nProbe lever.
    // Deterministic: fixed-seed centers, xxhash64 Box-Muller noise.
    // Test/runMain graft.tools.ScaleSmoke annhard [sigma]
    if (args.headOption.contains("annhard")) {
      val dim = 64; val comps = 24
      val sigma = args.drop(1).headOption.flatMap(_.toDoubleOption)
        .getOrElse(1.0)
      def gen(out: String, n: Long): Unit =
        genAnnhard(spark, sigma, out, n)
      println(s"[scale] annhard: $comps-component mixture, dim=$dim, " +
        s"sigma=$sigma, cells scale with decade")
      println(f"[scale] ${"corpus"}%-6s ${"n"}%7s ${"cells"}%5s ${"nAsg"}%4s ${"nProbe"}%6s ${"recall@10"}%9s ${"t"}%7s")
      val decades = Seq(("1x", 2000L, 24), ("10x", 20000L, 76),
                        ("100x", 200000L, 240))
      for ((tag, n, cells) <- decades) {
        val dir = s"target/annhard_${sigma}_$tag"
        gen(dir, n)
        for (nAsg <- Seq(3); nProbe <- Seq(1, 2, 4, 8, 16)) {
          coldStart()
          val t0 = System.nanoTime()
          val mean = graft.ext.Similarity
            .ivfRecall(spark, dir, nQueries = 20, k = 10,
                       numCells = cells, nProbe = nProbe, nAssign = nAsg)
            .agg(avg(col("recall"))).head().getDouble(0)
          val t = (System.nanoTime() - t0) / 1e9
          println(f"[scale] $tag%-6s $n%7d $cells%5d $nAsg%4d $nProbe%6d $mean%9.4f $t%6.2fs")
        }
      }
      // the stated recovery lever, DEMONSTRATED (round-13 verdict
      // item 3): widened ADC probe + exact rerank of a bounded
      // shortlist on the 100× mixture. Widening nProbe is cheap in
      // the code domain (pqM bytes/vector vs 256 B raw), and the
      // exact reads are nQ×depth rows — so high recall costs a
      // fraction of the pure-nProbe full-vector scan. pqM=4 is the
      // gate shape (2 B codes); pqM=16 is the production shape for
      // 64-dim (16 B codes, still 16× under raw) — within-cluster ADC
      // resolution is what separates them on an overlapping mixture.
      val (tag100, _, cells100) = decades.last
      val dir100 = s"target/annhard_${sigma}_$tag100"
      // pure-nProbe ladder extension: where exact in-cell scoring
      // crosses 0.99 — the full-vector-scan alternative being priced
      for (nProbe <- Seq(24, 32, 48)) {
        coldStart()
        val t0 = System.nanoTime()
        val mean = graft.ext.Similarity
          .ivfRecall(spark, dir100, nQueries = 20, k = 10,
                     numCells = cells100, nProbe = nProbe, nAssign = 3)
          .agg(avg(col("recall"))).head().getDouble(0)
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[scale] 100x   ${200000}%7d $cells100%5d ${3}%4d $nProbe%6d $mean%9.4f $t%6.2fs")
      }
      // normalized twin of the 100× corpus: a cosine deployment stores
      // L2-NORMALIZED vectors (FAISS inner-product layout), which makes
      // ADC's L2 ordering equivalent to cosine; the cosine ground truth
      // is scale-invariant, so recall stays comparable to the raw rows.
      // On the RAW layout the ADC shortlist is metric-mismatched
      // (L2 vs cosine under dominant-noise norms) — kept as the first
      // row pair to show the failure the normalized layout removes.
      val dir100n = s"target/annhardn_${sigma}_$tag100"
      if (!new java.io.File(s"$dir100n/embeddings.parquet").isDirectory) {
        spark.read.parquet(s"$dir100/embeddings.parquet")
          .select(col("vec_id"),
            transform(graft.ext.Similarity.l2normalize(col("embedding")),
              x => x.cast("float")).as("embedding"),
            col("label"))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$dir100n/embeddings.parquet")
      }
      println(f"[scale] ${"rerank"}%-6s ${"layout"}%-6s ${"pq"}%7s ${"nProbe"}%6s ${"depth"}%6s ${"recall@10"}%9s ${"exact_reads/q"}%13s ${"cell_frac"}%9s ${"t"}%7s")
      // 256-entry codebooks (8-bit codes) GC-thrash the single-JVM
      // harness (2048+ distance expressions per row) — measured ONCE
      // at 8x256 (recall 0.73 @ depth 200, SCALE.md) and excluded from
      // the repeatable row set; 16x16 (8 B, 4-bit) is the largest
      // sustainable shape, and the recall ceiling is already visible
      // there (distribution-bound, not budget-bound)
      for ((layout, dir, pqM, pqK, nProbe, depth) <- Seq(
             ("raw", dir100, 4, 16, 32, 1000),    // gate shape, 2 B
             ("norm", dir100n, 4, 16, 32, 1000),
             ("norm", dir100n, 16, 16, 32, 400))) { // 8 B, 4-bit codes
        coldStart()
        val t0 = System.nanoTime()
        val r = rerankRecall(spark, dir, 20, 10, cells100, nProbe,
                             depth, pqM, pqK)
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[scale] 100x   $layout%-6s ${s"${pqM}x$pqK"}%7s $nProbe%6d $depth%6d $r%9.4f $depth%13d ${nProbe.toDouble / cells100}%9.3f $t%6.2fs")
      }
      spark.stop()
      return
    }
    // lmvocab mode: the CCNet model-table decade probe — row counts of
    // the bigram/history model tables for the open-vocab q118 LM vs the
    // bounded top-V+OOV q205 LM at 1×/10×/100×. The open tables grow
    // with the (suffixed) replica vocabulary; the bounded tables must
    // stay FLAT. Test/runMain graft.tools.ScaleSmoke lmvocab
    if (args.headOption.contains("lmvocab")) {
      // optional topV (default 512): a smaller cap saturates at an
      // earlier decade, showing the constant tail sooner
      val topV = args.drop(1).headOption.flatMap(_.toIntOption)
        .getOrElse(512)
      if (!new java.io.File(s"$Out100/documents.parquet").isDirectory) {
        val t0 = System.nanoTime()
        generate(spark, Out100, factor = 100, withEvents = false)
        println(f"[scale] generated $Out100 in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      println(f"[scale] ${"corpus"}%-6s ${"open_bc"}%9s ${"open_hc"}%9s ${"bnd_bc"}%8s ${"bnd_hc"}%7s ${"t_q202"}%8s ${"t_q205"}%8s")
      for ((tag, dir) <- Seq(("1x", Base), ("10x", Out), ("100x", Out100))) {
        if (tag == "10x" &&
            !new java.io.File(s"$Out/documents.parquet").isDirectory)
          generate(spark)
        coldStart()
        val (_, obc, ohc, _) =
          graft.ext.TextAnalysis.bigramLmParts(spark, dir, "en", None)
        val (openBc, openHc) = (obc.count(), ohc.count())
        coldStart()
        val (_, bbc, bhc, _) =
          graft.ext.TextAnalysis.bigramLmParts(spark, dir, "en", Some(topV))
        val (bndBc, bndHc) = (bbc.count(), bhc.count())
        def timeBuckets(bounded: Boolean): Double = {
          coldStart()
          val t0 = System.nanoTime()
          (if (bounded)
             graft.ext.TextAnalysis.ccnetBucketsBounded(spark, dir,
               topV = topV)
           else graft.ext.TextAnalysis.ccnetBuckets(spark, dir)).count()
          (System.nanoTime() - t0) / 1e9
        }
        val tOpen = timeBuckets(bounded = false)
        val tBnd = timeBuckets(bounded = true)
        println(f"[scale] $tag%-6s $openBc%9d $openHc%9d $bndBc%8d $bndHc%7d $tOpen%7.2fs $tBnd%7.2fs")
      }
      spark.stop()
      return
    }
    // x100 mode: two-decade smoke for the Top5 cost drivers only —
    // Test/runMain graft.tools.ScaleSmoke x100 [pN] [gateprefix...]
    // pN (e.g. p128) re-sizes the SESSION shuffle partitions for the
    // 100× runs. Since round 10 the pair families self-size from input
    // bytes (graft.ops.Partitioning, SCALE.md "data-derived per-
    // operator partition sizing"), so pN is only needed for
    // experiments outside those families.
    if (args.headOption.contains("x100")) {
      args.drop(1).find(_.matches("p\\d+")).map(_.drop(1)).foreach(p =>
        spark.conf.set("spark.sql.shuffle.partitions", p))
      if (!new java.io.File(s"$Out100/embeddings.parquet").isDirectory) {
        val t0 = System.nanoTime()
        generate(spark, Out100, factor = 100, withEvents = false)
        println(f"[scale] generated $Out100 in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      for (t <- Seq("documents", "embeddings"))
        println(s"[scale] $t rows 100x = " +
          spark.read.parquet(s"$Out100/$t.parquet").count())
      println(f"[scale] ${"query"}%-22s ${"t1x"}%8s ${"t10x"}%8s ${"t100x"}%8s ${"r10"}%5s ${"r100"}%6s")
      val top = {
        val prefixes = args.drop(1).filterNot(_.matches("p\\d+"))
        // default: the Top5 cost drivers; explicit prefixes may pull in
        // any docs/embeddings-based family gate (scale100 generates no
        // events/TPC-H tables)
        if (prefixes.isEmpty) Top5
        else (Top5 ++ Families).distinct
          .filter(f => prefixes.exists(f.startsWith))
      }
      for (name <- top) {
        time(name, Base)                   // warms JIT/codegen paths
        coldStart()
        val (t1, _) = time(name, Base)
        coldStart()
        val (t10, _) = time(name, Out)
        coldStart()
        val (t100, r100) = time(name, Out100)
        println(f"[scale] $name%-22s $t1%7.2fs $t10%7.2fs $t100%7.2fs ${t10 / math.max(t1, 1e-9)}%5.1f ${t100 / math.max(t1, 1e-9)}%6.1f  rows100x=$r100")
      }
      spark.stop()
      return
    }
    // optional gate-name filter: Test/runMain graft.tools.ScaleSmoke q107 q113
    val selected =
      if (args.isEmpty) Families
      else Families.filter(f => args.exists(f.startsWith))
    println(f"[scale] ${"query"}%-22s ${"t1x"}%8s ${"t10x"}%8s ${"ratio"}%6s ${"rows1x"}%8s ${"rows10x"}%9s")
    for (name <- selected) {
      // warm JIT/codegen AND one-time fixture writes at BOTH dirs —
      // the layout-building gates (q154/q164/q177/q192) memoize their
      // fixture per (session, dir), and without the Out-side warm-up
      // the 10× sample would time the fixture build, not the query
      // (q192 read 10.9× before this; 1.6× after)
      time(name, Base)
      time(name, Out)
      coldStart()
      val (t1, r1) = time(name, Base)      // cold-data warm-code 1x
      coldStart()
      val (t10, r10) = time(name, Out)     // cold-data warm-code 10x
      val ratio = t10 / math.max(t1, 1e-9)
      println(f"[scale] $name%-22s $t1%7.2fs $t10%7.2fs $ratio%6.1f $r1%8d $r10%9d")
    }
    spark.stop()
  }
}
