package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (vec_id, embedding array<float>, label).
  *
  * Two paths:
  *   - brute-force cosine top-k: the exact baseline. Query set broadcast
  *     against the corpus — one scan of the corpus per batch of queries,
  *     no corpus self-join. Correct at any corpus size; cost linear in
  *     |corpus| x |queries|.
  *   - sign-LSH (random hyperplanes) bucketing: the scale path. Corpus
  *     bucketed once by sign pattern in several hash tables; queries
  *     probe their bucket and its Hamming-1 neighbours in each table.
  *     Shuffle keyed on bucket id; recall tuned by table and plane count.
  *
  * Cosine is a sequential left-to-right double accumulation (codegen'd
  * VectorOps kernel) — deterministic across runs. Oracle comparisons use
  * ranks or 4-decimal-rounded values only: engines' cosine kernels agree
  * to ~1e-8 while top-k sim gaps are ~1e-4 (validated empirically), so
  * rankings cannot flip.
  */
object Similarity {

  /** Cosine similarity of two array<float> columns, computed in double. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))

  /** Sequential double dot product of two array columns — the codegen'd
    * [[graft.functions.VectorOps.DotProduct]] kernel (the HOF
    * aggregate-over-zip_with it replaces is evaluated interpreted,
    * per-element, and dominated every per-pair similarity stage). */
  def dot(x: Column, y: Column): Column = graft.functions.VectorOps.dot(x, y)

  /** L2-normalized double copy of an embedding column. Pre-normalizing
    * each side once before a pair join turns per-pair cosine (three array
    * folds) into a single dot product — the folds run per ROW, not per
    * PAIR. */
  def l2normalize(emb: Column): Column =
    graft.functions.VectorOps.l2normalize(emb)

  /** Cross-modal agreement audit — the joint (text-similarity,
    * embedding-similarity) table over the exact near-dup pair set:
    * for every same-source pair at word-jaccard ≥ `jacThreshold`, the
    * cosine of the two documents' embedding vectors (vec_id aligns
    * with doc_id in the corpus contract). This is the consistency
    * check a multimodal pipeline runs before trusting either signal
    * for dedup: text-near-dup pairs whose embeddings disagree mean the
    * embedding table is stale, mis-keyed, or not derived from this
    * text — on the synthetic corpus the audit PROVES exactly that (max
    * cosine 0.41 across 1,506 verbatim-level text dups; the embeddings
    * are label-clustered, not text-derived), which is the deviation
    * the audit exists to surface.
    *
    * Scale: rides the shared exact-pair persist (output-bound pair
    * volume); two id-keyed joins carry the embedding vectors to the
    * pairs (at 100 TB the pair side is ≪ corpus — broadcast-able);
    * cosine is the codegen'd sequential-fold kernel, 4-dp-rounded in
    * the output (the q29 cross-engine contract). */
  def crossModalAudit(spark: SparkSession, dir: String,
                      jacThreshold: Double = 0.8): DataFrame = {
    val pairs = Dedup.jaccardPairsCached(spark, dir, jacThreshold)
      .select(col("a_id"), col("b_id"), col("jac"))
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    pairs
      .join(emb.select(col("vec_id").as("a_id"),
                       col("embedding").as("ea")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"),
                       col("embedding").as("eb")), "b_id")
      .select(col("a_id"), col("b_id"),
              round(col("jac"), 4).as("jac_r"),
              round(cosine(col("ea"), col("eb")), 4).as("cos_r"))
  }

  /** DuckDB oracle for [[crossModalAudit]]: the exact-pair CTE joined
    * to a `list_reduce` replay of the engine kernel's SEQUENTIAL
    * double dot product (float elements cast to double, left-to-right
    * accumulation from the first product — `dotOrNull`'s exact fold,
    * so the cosine is bit-identical and the 4-dp rounding cannot tie
    * apart; DuckDB's own `list_cosine_similarity` accumulates
    * differently and flipped 4 half-ULP rounding ties at sf0.1). */
  def crossModalAuditOracleSql(jacThreshold: Double = 0.8): String = {
    def dotSql(a: String, b: String): String =
      s"""list_reduce([CAST($a.embedding[i] AS DOUBLE) *
         |      CAST($b.embedding[i] AS DOUBLE)
         |    for i in range(1, len($a.embedding) + 1)],
         |    (x, y) -> x + y)""".stripMargin
    s"""WITH d AS (SELECT doc_id, source,
       |  list_distinct(string_split(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
       |    AS ws
       | FROM documents),
       |p AS (SELECT a_id, b_id, jac FROM (
       | SELECT l.doc_id AS a_id, r.doc_id AS b_id,
       |  CAST(len(list_intersect(l.ws, r.ws)) AS DOUBLE) /
       |   (len(l.ws) + len(r.ws) - len(list_intersect(l.ws, r.ws))) AS jac
       | FROM d l, d r
       | WHERE l.source = r.source AND l.doc_id < r.doc_id) q
       | WHERE jac >= $jacThreshold)
       |SELECT p.a_id, p.b_id, round(p.jac, 4) AS jac_r,
       |  round(${dotSql("ea", "eb")}
       |    / sqrt(${dotSql("ea", "ea")})
       |    / sqrt(${dotSql("eb", "eb")}), 4) AS cos_r
       |FROM p JOIN embeddings ea ON ea.vec_id = p.a_id
       |       JOIN embeddings eb ON eb.vec_id = p.b_id""".stripMargin
  }

  /** The [[crossModalAudit]]'s AGREEING direction (q231): the same
    * joint (text-jaccard, embedding-cosine) table, but over embeddings
    * DERIVED from the text itself — a 16-dim signed hashed
    * bag-of-words (word w adds ±1 to dimension md5(w)[0], sign from
    * md5(w)[1] parity; exact integer sums, so the vector is
    * order-independent and both engines compute it bit-identically).
    * On text-derived embeddings the audit must PASS: exact text dups
    * get identical vectors (cosine exactly 1) and near-dups cluster
    * near 1 — the outcome q230 certifies the absence of on the
    * synthetic label-clustered embeddings. Zero-norm vectors (a doc
    * whose word signs cancel) yield NULL cosine rather than a
    * division-by-zero artifact.
    *
    * Scale: the embedding is a row-local codegen'd expression over the
    * word set — no extra shuffle; the audit itself rides the shared
    * exact-pair persist exactly as q230 does. */
  def crossModalAgree(spark: SparkSession, dir: String,
                      jacThreshold: Double = 0.8): DataFrame = {
    val pairs = Dedup.jaccardPairsCached(spark, dir, jacThreshold)
      .select(col("a_id"), col("b_id"), col("jac"))
    // two projections on purpose: the (bucket, sign) terms are hashed
    // ONCE per word and then read by all 16 per-dimension aggregates —
    // a single-projection form would inline the md5 tree into every
    // dimension (16× the hashing on this gate's hot path)
    val emb = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), bowTerms(col("text")).as("bs"))
      .select(col("doc_id"), bowFromTerms(col("bs")).as("e"))
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    pairs
      .join(emb.select(col("doc_id").as("a_id"), col("e").as("ea")), "a_id")
      .join(emb.select(col("doc_id").as("b_id"), col("e").as("eb")), "b_id")
      .withColumn("na", idot(col("ea"), col("ea")))
      .withColumn("nb", idot(col("eb"), col("eb")))
      .select(col("a_id"), col("b_id"),
              round(col("jac"), 4).as("jac_r"),
              when(col("na") === 0L || col("nb") === 0L, lit(null))
                .otherwise(round(idot(col("ea"), col("eb")).cast("double") /
                  sqrt(col("na").cast("double")) /
                  sqrt(col("nb").cast("double")), 4)).as("cos_r"))
  }

  /** The (bucket, sign) term array of the 16-dim signed hashed
    * bag-of-words — md5 evaluated ONCE per distinct word; the
    * embedding [[bowFromTerms]] then reads these precomputed fields
    * per dimension. Exact long arithmetic end to end; every engine
    * with md5 reproduces it value-for-value. */
  private[ext] def bowTerms(textCol: Column): Column = {
    val ws = array_distinct(filter(
      split(TextAnalysis.normalized(textCol), " "), w => w =!= lit("")))
    transform(ws, w => {
      val h = md5(w)
      struct(
        conv(substring(h, 1, 1), 16, 10).cast("long").as("b"),
        when(conv(substring(h, 2, 1), 16, 10).cast("long") % 2 === 0,
             lit(1L)).otherwise(lit(-1L)).as("sg"))
    })
  }

  /** The 16-dim embedding from a [[bowTerms]] array (deterministic,
    * order-independent integer sums). */
  private[ext] def bowFromTerms(terms: Column): Column =
    transform(sequence(lit(0), lit(15)), d =>
      aggregate(terms, lit(0L), (acc, e) =>
        acc + when(e.getField("b") === d.cast("long"), e.getField("sg"))
          .otherwise(lit(0L))))

  /** DuckDB oracle for [[crossModalAgree]]: the exact-pair CTE joined
    * to a list-comprehension replay of the hashed bag-of-words (md5
    * hex digits are engine-portable; sums are exact BIGINTs, so the
    * doubles entering the cosine are identical). */
  def crossModalAgreeOracleSql(jacThreshold: Double = 0.8): String = {
    val bow =
      """[coalesce(list_sum([CASE
        |      WHEN strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1 = dd
        |      THEN (CASE WHEN (strpos('0123456789abcdef',
        |                              substr(md5(w), 2, 1)) - 1) % 2 = 0
        |            THEN 1 ELSE -1 END)
        |      ELSE 0 END for w in ws]), 0)
        |    for dd in range(0, 16)]""".stripMargin
    def dotSql(a: String, b: String): String =
      s"list_sum([$a.e[i] * $b.e[i] for i in range(1, 17)])"
    s"""WITH d AS (SELECT doc_id, source,
       |  list_distinct(string_split(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
       |    AS ws
       | FROM documents),
       |p AS (SELECT a_id, b_id, jac FROM (
       | SELECT l.doc_id AS a_id, r.doc_id AS b_id,
       |  CAST(len(list_intersect(l.ws, r.ws)) AS DOUBLE) /
       |   (len(l.ws) + len(r.ws) - len(list_intersect(l.ws, r.ws))) AS jac
       | FROM d l, d r
       | WHERE l.source = r.source AND l.doc_id < r.doc_id) q
       | WHERE jac >= $jacThreshold),
       |e AS (SELECT doc_id, $bow AS e FROM (
       |  SELECT doc_id, list_distinct(list_filter(string_split(trim(
       |    regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ',
       |    'g'), ' +', ' ', 'g')), ' '), w -> w != '')) AS ws
       |  FROM documents) t)
       |SELECT p.a_id, p.b_id, round(p.jac, 4) AS jac_r,
       |  CASE WHEN ${dotSql("ea", "ea")} = 0 OR ${dotSql("eb", "eb")} = 0
       |    THEN NULL
       |    ELSE round(CAST(${dotSql("ea", "eb")} AS DOUBLE)
       |      / sqrt(CAST(${dotSql("ea", "ea")} AS DOUBLE))
       |      / sqrt(CAST(${dotSql("eb", "eb")} AS DOUBLE)), 4) END AS cos_r
       |FROM p JOIN e ea ON ea.doc_id = p.a_id
       |       JOIN e eb ON eb.doc_id = p.b_id""".stripMargin
  }

  /** Brute-force cosine top-k: for each query vector (vec_id < nQueries),
    * rank the whole corpus (self excluded). The query side is broadcast;
    * the corpus is scanned once. Output: (qid, nid, rank). */
  def bruteForceTopK(spark: SparkSession, dir: String,
                     nQueries: Int = 5, k: Int = 10): DataFrame = {
    val corpus = Tables.load(spark, dir, "embeddings")
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), l2normalize(col("embedding")).as("qe"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    corpus.select(col("vec_id").as("nid"), l2normalize(col("embedding")).as("ne"))
      .join(broadcast(queries), col("qid") =!= col("nid"))
      .withColumn("sim", dot(col("qe"), col("ne")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"))
  }

  /** Hard-negative mining for contrastive training — the DPR/Contriever
    * data-prep step (Karpukhin et al. 2020 §4.2: the strongest
    * negatives are the retriever's own top-ranked NON-matching
    * passages): for each query vector, the k most-similar corpus
    * vectors with a DIFFERENT label. Identical plan shape to
    * [[bruteForceTopK]] — broadcast query batch, one corpus scan, the
    * label exclusion rides the join condition so mismatched pairs are
    * dropped before scoring; at index scale the same exclusion composes
    * onto the IVF cell-pruned join (the filter is a per-row predicate,
    * indifferent to which candidate generator feeds it). Output:
    * (qid, nid, rnk) — ranks deterministic (sim desc, nid tie-break). */
  def hardNegatives(spark: SparkSession, dir: String,
                    nQueries: Int = 5, k: Int = 10): DataFrame = {
    val corpus = Tables.load(spark, dir, "embeddings")
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
              l2normalize(col("embedding")).as("qe"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    corpus.select(col("vec_id").as("nid"), col("label").as("nlabel"),
                  l2normalize(col("embedding")).as("ne"))
      .join(broadcast(queries),
            col("qid") =!= col("nid") && col("qlabel") =!= col("nlabel"))
      .withColumn("sim", dot(col("qe"), col("ne")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"))
  }

  def hardNegativesOracleSql(nQueries: Int = 5, k: Int = 10): String =
    s"""SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk FROM (
       | SELECT q.vec_id AS qid, e.vec_id AS nid,
       |  row_number() OVER (PARTITION BY q.vec_id
       |   ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
       |            e.vec_id) AS rnk
       | FROM embeddings q, embeddings e
       | WHERE q.vec_id < $nQueries AND e.vec_id != q.vec_id
       |   AND e.label != q.label) t
       |WHERE rnk <= $k""".stripMargin

  // ---- multi-table LSH with 1-bit multi-probe -----------------------
  //
  // A single 8-plane table collapses recall (most queries find < k — or
  // zero — candidates in their one bucket). Standard fixes, both applied:
  //   - OR-amplification: L independent hash tables of fewer planes each;
  //     a candidate surfaces if it collides in ANY table.
  //   - multi-probe: each query also probes every bucket at Hamming
  //     distance 1 from its own (planes-per-table extra buckets/table),
  //     catching neighbors that flipped one low-margin sign bit.
  // Parameter choice is data-dependent. The synthetic embeddings are
  // near-random (measured top-10 neighbor cosine ≈0.29 → per-bit sign
  // agreement p≈0.59, barely above the 0.5 of a random pair), which is
  // the worst case for sign-LSH: 6 tables x 4 planes with 1-bit probes
  // puts per-table hit probability ≈0.46 and 6-table miss ≈2% (recall
  // ≥0.9 asserted in SimilaritySpec vs the brute-force ranking), at the
  // cost of a wide candidate set. On a real near-dup corpus (neighbor
  // sim ≥0.85 → p≥0.82, per-table hit ≥0.9) the same structure prunes
  // aggressively — raise planes-per-table there to shrink buckets.

  /** Width of the `embeddings` vectors. */
  private val Dim = 64
  private val NumTables = 6
  private val PlanesPerTable = 4
  private[ext] val tablePlanes: Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(11)
    Array.fill(NumTables, PlanesPerTable, Dim)(rnd.nextGaussian())
  }

  /** Sign-pattern bucket of `emb` in hash table `t` (codegen'd dots). */
  private def tableBucket(emb: Column, t: Int): Column =
    tablePlanes(t).zipWithIndex.map { case (p, i) =>
      when(dot(emb, typedlit(p)) >= 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Array of the row's bucket in each of the L tables. */
  private[ext] def allTableBuckets(emb: Column): Column =
    array((0 until NumTables).map(t => tableBucket(emb, t)): _*)

  // ---- IVF (coarse quantizer + multi-probe) -------------------------

  /** Deterministic k-means seeds: the first `k` corpus vectors by vec_id,
    * L2-normalized. Refined by [[trainCentroids]]. */
  private[ext] def centroids(corpus: DataFrame, k: Int): Array[Array[Double]] =
    corpus.orderBy(col("vec_id")).limit(k)
      .select(l2normalize(col("embedding")).as("c")).collect()
      .map(_.getSeq[Double](0).toArray)

  /** Spherical k-means (Lloyd iterations on the unit sphere): assign each
    * vector to its argmax-dot centroid, recompute centroids as the
    * L2-normalized cell mean, repeat `iters` times. Empty cells keep
    * their previous centroid (deterministic — no reseeding).
    *
    * DETERMINISTIC despite distributed training: the per-cell element
    * sums accumulate in DECIMAL (exact, order-independent — the q76
    * fixed-point trick), so partial-aggregation order can never perturb
    * the centroids; the single decimal→double rounding per element is
    * a deterministic function of the data. That makes the trained
    * centroids reproducible, which is what lets the q37 oracle embed
    * them as literals. The 1e-18 quantization is far below any k-means
    * assignment margin.
    *
    * Scale: per iteration, one map-side cell assignment plus one shuffle
    * of (cell, pos, value) skinny rows; only the K x dim per-cell sums
    * reach the driver. `sampleMod > 1` trains on a deterministic
    * hash-sample of the corpus (vec_id hash-mod) so training cost is
    * bounded at 100 TB while the full corpus is still indexed. */
  private[ext] def trainCentroids(corpus: DataFrame, k: Int, iters: Int = 2,
                                  sampleMod: Int = 1): Array[Array[Double]] = {
    val train = (if (sampleMod > 1)
        corpus.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
      else corpus)
      .select(l2normalize(col("embedding")).as("ne"))
      .cache()
    var cents = centroids(corpus, k)
    for (_ <- 1 to iters) {
      // r16 (guide §2.3): the per-cell element sums were a
      // posexplode of dim rows per vector into a (cell, pos) decimal
      // hash aggregation — one corpus-wide explode + exchange per
      // Lloyd iteration. The same sums now accumulate partition-
      // locally: each element is quantized with the engine Cast's
      // exact semantics (shortest-repr BigDecimal of the double,
      // HALF_UP to scale 18 — value-identical to
      // CAST(v AS DECIMAL(30,18)) for |v| ≤ 1 normalized elements),
      // then summed as scale-18 BigIntegers —
      // order-free integer addition, so the trained centroids are
      // bit-identical to the aggregation this replaces. Cell
      // assignment stays the Catalyst argmax ([[withIvfCells]]), THE
      // home of the tie-break contract.
      val assigned = withIvfCells(train, col("ne"), cents)
        .select(col("cell"), col("ne"))
      val dim = cents.head.length
      val partials = assigned.rdd.mapPartitions { rows =>
        val sums = new java.util.HashMap[Int, Array[java.math.BigInteger]]()
        rows.foreach { row =>
          // degenerate embeddings keep the OLD explode path's drop
          // semantics: a null embedding (null ne) or null cell produced
          // no posexplode rows, and a non-finite element (NaN from a
          // zero-norm vector) cast to DECIMAL(30,18) as null and was
          // skipped by the sum — getInt/ne(i)/BigDecimal.valueOf would
          // instead throw on them here
          if (!row.isNullAt(0) && !row.isNullAt(1)) {
            val cell = row.getInt(0)
            var acc = sums.get(cell)
            if (acc == null) {
              acc = Array.fill(dim)(java.math.BigInteger.ZERO)
              sums.put(cell, acc)
            }
            val ne = row.getSeq[Any](1)
            var i = 0
            while (i < dim) {
              ne(i) match {
                case v: Double if !java.lang.Double.isNaN(v) &&
                                  !java.lang.Double.isInfinite(v) =>
                  acc(i) = acc(i).add(
                    java.math.BigDecimal.valueOf(v)
                      .setScale(18, java.math.RoundingMode.HALF_UP)
                      .unscaledValue())
                case _ => ()
              }
              i += 1
            }
          }
        }
        scala.jdk.CollectionConverters.MapHasAsScala(sums).asScala
          .iterator.map { case (c, a) => (c.intValue, a) }
      }
      // merge the per-partition partials EXECUTOR-side (guide §5: the
      // driver should do almost no data work — collecting one K×dim
      // BigInteger map per partition scales with the task count at
      // 100 TB). reduceByKey ships K skinny rows per partition and
      // merges with order-free integer addition, so the totals are
      // bit-identical to the driver-side merge this replaces; only the
      // K merged rows reach the driver.
      val totals = partials.reduceByKey { (a, b) =>
        val out = new Array[java.math.BigInteger](a.length)
        var i = 0
        while (i < a.length) { out(i) = a(i).add(b(i)); i += 1 }
        out
      }.collect()
      val next = cents.map(_.clone())
      totals.foreach { case (cell, tot) =>
        val vec = Array.tabulate(dim)(i =>
          new java.math.BigDecimal(tot(i), 18).doubleValue())
        val norm = math.sqrt(vec.map(x => x * x).sum)
        if (norm > 0) next(cell) = vec.map(_ / norm)
      }
      cents = next
    }
    train.unpersist()
    cents
  }

  /** Cell id = argmax-dot centroid (map-side; ties → lowest index). */
  private[ext] def withIvfCells(df: DataFrame, emb: Column,
                                cents: Array[Array[Double]]): DataFrame =
    withIvfCellsCsim(df, emb, cents).drop("csim")

  /** [[withIvfCells]] plus the winning dot itself as `csim` — THE
    * single home of the argmax/tie-to-lowest-index semantics (the
    * oracles replay it as row_number over (d DESC, idx); a second
    * inline copy could silently drift from that contract). */
  private[ext] def withIvfCellsCsim(df: DataFrame, emb: Column,
                                    cents: Array[Array[Double]]): DataFrame = {
    val dots = array(cents.map(c =>
      dot(l2normalize(emb), typedlit(c))): _*)
    df.withColumn("__d", dots)
      .withColumn("cell",
        expr("array_position(__d, array_max(__d))").cast("int") - 1)
      .withColumn("csim", expr("array_max(__d)"))
      .drop("__d")
  }

  /** Redundant assignment: each vector is indexed in its `nAssign`
    * best cells (spill-tree-style overlap — the standard lever for IVF
    * recall when neighbors straddle cell boundaries). One exploded row
    * per (vector, cell); built from codegen'd collection expressions
    * (array_max / array_remove / array_position chains), no interpreted
    * per-row lambda. */
  private[ext] def withIvfCellsMulti(df: DataFrame, emb: Column,
                                     cents: Array[Array[Double]],
                                     nAssign: Int): DataFrame = {
    val dots = array(cents.map(c =>
      dot(l2normalize(emb), typedlit(c))): _*)
    // peel off the top-n maxima: cells_i = argmax of __d with the
    // previous maxima removed (continuous dots — value ties negligible)
    val cellCols = (1 to nAssign).map { i =>
      val remaining = (1 until i).foldLeft("__d")((d, _) =>
        s"array_remove($d, array_max($d))")
      expr(s"array_position(__d, array_max($remaining))").cast("int") - 1
    }
    df.withColumn("__d", dots)
      .withColumn("cell", explode(array(cellCols: _*)))
      .drop("__d")
  }

  /** IVF ANN top-k: corpus vectors are indexed in their `nAssign`
    * nearest-centroid cells (trained spherical k-means); each query
    * probes its `nProbe` nearest cells only. Shuffle keyed on cell id;
    * recall tuned by nProbe x nAssign (and centroid count) — the
    * standard IVF trade. Candidates are deduplicated on (qid, nid)
    * before exact cosine ranking. Output shape matches bruteForceTopK.
    * Defaults hit ≥0.95 recall vs brute force on the synthetic
    * near-random embeddings (asserted in SimilaritySpec); on real
    * clustered corpora the same recall needs fewer probes. */
  /** Per-(session, dir, numCells) memo of the trained centroids — the
    * index-build-once pattern: an IVF index is a model artifact built
    * when the corpus is ingested, not retrained per query. Centroids are
    * K×dim driver-side doubles (bounded), so the memo holds no executor
    * state. */
  private val centroidCache =
    Memo.table[(String, Int), Array[Array[Double]]]("similarity.centroids")

  /** Drop memoized centroids and every other operator memo and block
    * (benchmark harness hook — lets a measurement pass retrain from the
    * same cold state as a fresh session; the drain is [[Memo.clearAll]]). */
  def clearMemos(): Unit = Memo.clearAll()

  /** Probe hook (SCALE.md IVF-PQ cost anatomy): run ONLY the training
    * stage (coarse centroids + PQ codebooks), populating the memos the
    * query path reads — lets a measurement separate train / encode /
    * query without touching private plan builders. */
  private[graft] def probeTrainIvfPq(spark: SparkSession, dir: String,
                                     numCells: Int = 24): Unit = {
    val corpus = Tables.load(spark, dir, "embeddings")
    trainedCentroidsCached(spark, corpus, dir, numCells)
    Quantize.trainedBooksCached(spark, corpus, dir)
    ()
  }

  private def trainedCentroidsCached(spark: SparkSession, corpus: DataFrame,
                                     dir: String, k: Int): Array[Array[Double]] =
    centroidCache.getOrElseUpdate(spark, (dir, k))(trainCentroids(corpus, k))

  private def centroidsAt(key: (SparkSession, String, Int))
      : Option[Array[Array[Double]]] =
    centroidCache.get(key._1, (key._2, key._3))

  /** Cache key of the most recent [[ivfTopK]] call — the oracle dump
    * (written by Verify after the queries ran) reads the trained
    * centroids from the AUTHORITATIVE per-(session, dir, k)
    * `centroidCache` entry under this key and embeds them as literals
    * (same contract as Quantize). Last-call-wins is inherent in the
    * dir-less oracle contract; sourcing through the keyed cache keeps
    * the literals consistent with the run that populated them instead
    * of a second bare copy of the arrays. Training is deterministic
    * (decimal accumulation, see [[trainCentroids]]), so the literals
    * are a reproducible function of the table. */
  @volatile private var lastIvfKey: (SparkSession, String, Int) = null

  def ivfTopK(spark: SparkSession, dir: String, nQueries: Int = 5,
              k: Int = 10, numCells: Int = 24, nProbe: Int = 4,
              nAssign: Int = 3): DataFrame = {
    val corpus = Tables.load(spark, dir, "embeddings")
    val cents = trainedCentroidsCached(spark, corpus, dir, numCells)
    lastIvfKey = (spark, dir, numCells)
    val corpusCells = withIvfCellsMulti(corpus, col("embedding"), cents, nAssign)
      .select(col("vec_id").as("nid"), l2normalize(col("embedding")).as("ne"),
              col("cell"))
    // per query: dots to every centroid, take the nProbe best cells.
    // (HOF sort is interpreted but runs on the bounded query batch only.)
    val qDots = array(cents.map(c =>
      dot(l2normalize(col("embedding")), typedlit(c))): _*)
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), l2normalize(col("embedding")).as("qe"),
              qDots.as("__d"))
      .select(col("qid"), col("qe"), explode(expr(
        s"""slice(transform(
           |  array_sort(
           |    transform(sequence(0, ${cents.length - 1}),
           |      i -> named_struct('d', element_at(__d, i + 1), 'idx', i)),
           |    (l, r) -> CASE WHEN l.d > r.d THEN -1
           |                   WHEN l.d < r.d THEN 1
           |                   WHEN l.idx < r.idx THEN -1 ELSE 1 END),
           |  s -> s.idx), 1, $nProbe)""".stripMargin)).as("cell"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    corpusCells.join(broadcast(queries),
        corpusCells("cell") === queries("cell") && col("qid") =!= col("nid"))
      // a pair may meet in several (assign, probe) cells — rank each once
      .dropDuplicates("qid", "nid")
      .withColumn("sim", dot(col("qe"), col("ne")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"))
  }

  // ---- IVF-PQ (coarse quantizer + asymmetric distance) --------------

  /** Cache key of the most recent [[ivfPqTopK]] call (oracle-literal
    * sourcing contract as [[lastIvfKey]]). */
  @volatile private var lastIvfPqKey: (SparkSession, String, Int) = null

  /** Per-(session, dir, numCells, nAssign) memo of the ENCODED corpus
    * index — (nid, cell, code_0..code_{M-1}) — the second half of the
    * index-build-once pattern: the centroids/codebooks memos made
    * TRAINING once-per-corpus, but each IVF-PQ gate still re-ran the
    * corpus-sized cell-assign + PQ-encode projection (q108's shortlist
    * runs the whole q107 pipeline again, so one bench pass paid the
    * encode twice; a production system pays it per query batch).
    * 2-byte codes per vector: the persisted frame is the RAM-resident
    * code index FAISS keeps — tiny relative to the raw vectors.
    * Frames go through [[Memo.persist]], so the cold drain that
    * unpersists them also clears this table. */
  private val ivfPqIndexCache =
    Memo.table[(String, Int, Int, Int), DataFrame]("similarity.ivfPqIndex")

  private def ivfPqIndexCached(spark: SparkSession, dir: String,
                               corpus: DataFrame,
                               cents: Array[Array[Double]],
                               books: Array[Array[Array[Double]]],
                               numCells: Int, nAssign: Int): DataFrame =
    ivfPqIndexCache.getOrElseUpdate(spark,
        (dir, numCells, nAssign, books.length * 100000 + books.head.length)) {
      val codeParts = Quantize.pqCodeCols(books, Dim)
      val df = withIvfCellsMulti(corpus, col("embedding"), cents, nAssign)
        .select(col("vec_id").as("nid") +: col("cell") +:
          codeParts.zipWithIndex.map { case ((c, _), m) =>
            c.as(s"code_$m") }: _*)
        .transform(Memo.persist)
      df.count() // materialize eagerly: consumers reuse, never rebuild
      df
    }

  /** IVF-PQ ANN top-k — the FAISS `IVFx,PQy` architecture, the standard
    * big-corpus ANN layout: the IVF coarse quantizer prunes the search
    * to `nProbe` cells, and candidates are scored by ASYMMETRIC DISTANCE
    * COMPUTATION (Jégou, Douze, Schmid, "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): the query computes one
    * M×K distance table to the PQ codebooks, and each candidate costs M
    * table lookups on its stored codes — the candidate's raw vector is
    * NEVER touched at query time, which is what makes a 100 TB corpus
    * searchable from a RAM-resident code index (m=4, k=16 → 2 bytes a
    * vector here; 1000× smaller than the float rows).
    *
    * Plan shape: index side is ONE map-side projection over the corpus
    * (cells + codes — no join between the cell assignment and the
    * encode); query side broadcasts the bounded query batch with its
    * distance-table arrays; the join is keyed on cell id. Shuffle
    * volume = candidate codes, not vectors.
    *
    * Deterministic end to end: centroids and codebooks are the
    * deterministically-trained q37/q85 artifacts (memoized — index
    * built once per (session, dir)); ADC sums are fixed-order double
    * folds; rank ties (two candidates sharing all M codes score
    * IDENTICAL adc_d — genuinely common, unlike continuous cosine)
    * break by nid. The oracle replays every step bit-exactly from the
    * literal centroids + codebooks. */
  def ivfPqTopK(spark: SparkSession, dir: String, nQueries: Int = 5,
                k: Int = 10, numCells: Int = 24, nProbe: Int = 4,
                nAssign: Int = 3, pqM: Int = Quantize.pqShape._1,
                pqK: Int = Quantize.pqShape._2): DataFrame = {
    val corpus = Tables.load(spark, dir, "embeddings")
    val cents = trainedCentroidsCached(spark, corpus, dir, numCells)
    val books = Quantize.trainedBooksCached(spark, corpus, dir, pqM, pqK)
    lastIvfPqKey = (spark, dir, numCells)
    // index side: multi-assigned cell + the M code columns, one
    // projection (everything is a codegen'd expression over embedding),
    // memoized + persisted per corpus — q107/q108 (and any later query
    // batch) search ONE built code index instead of re-encoding
    val indexed = ivfPqIndexCached(spark, dir, corpus, cents, books,
                                   numCells, nAssign)
    // query side: nProbe best cells (same HOF as ivfTopK) + the ADC
    // distance tables dt_m[k] = ||q_sub_m - codebook[m][k]||²
    val qDots = array(cents.map(c =>
      dot(l2normalize(col("embedding")), typedlit(c))): _*)
    val dts = Quantize.pqDistTables(books, Dim)
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid") +: qDots.as("__d") +:
        dts.zipWithIndex.map { case (dt, m) => dt.as(s"dt_$m") }: _*)
      .select(col("qid") +: explode(expr(
        s"""slice(transform(
           |  array_sort(
           |    transform(sequence(0, ${cents.length - 1}),
           |      i -> named_struct('d', element_at(__d, i + 1), 'idx', i)),
           |    (l, r) -> CASE WHEN l.d > r.d THEN -1
           |                   WHEN l.d < r.d THEN 1
           |                   WHEN l.idx < r.idx THEN -1 ELSE 1 END),
           |  s -> s.idx), 1, $nProbe)""".stripMargin)).as("cell") +:
        (0 until pqM).map(m => col(s"dt_$m")): _*)
    val adc = (0 until pqM).map(m =>
      element_at(col(s"dt_$m"), col(s"code_$m") + 1)).reduce(_ + _)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc_d").asc, col("nid"))
    indexed.join(broadcast(queries),
        indexed("cell") === queries("cell") && col("qid") =!= col("nid"))
      // a pair may meet in several (assign, probe) cells — score once
      .dropDuplicates("qid", "nid")
      .withColumn("adc_d", adc)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), col("adc_d"))
  }

  /** Exact squared L2 distance between two array<float> columns as one
    * codegen'd fold (cast to double per element — same tree the PQ
    * encode uses). */
  private def sqL2(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, d) => acc + d)

  /** IVF-PQ with EXACT RE-RANKING — the production completion of
    * [[ivfPqTopK]]: ADC scores are 16-bit-code approximations (recall@10
    * ≈ 0.36 on the near-random synthetic embeddings, measured), so the
    * standard architecture takes a `rerank`-deep ADC shortlist and
    * re-scores just those pairs with exact distances on the raw vectors
    * (FAISS's IVFPQR / two-stage search). Cost model at 100 TB: the
    * expensive full-vector reads happen for `nQueries × rerank` rows
    * only — the corpus-wide work stays in the 2-byte code domain; the
    * shortlist join is a broadcast (bounded by the query batch).
    *
    * Deterministic: the shortlist is q107's bit-exact output; exact
    * re-scores are fixed-order folds; ties break by nid. */
  def ivfPqRerankTopK(spark: SparkSession, dir: String, nQueries: Int = 5,
                      k: Int = 10, rerank: Int = 50, numCells: Int = 24,
                      nProbe: Int = 4, nAssign: Int = 3,
                      pqM: Int = Quantize.pqShape._1): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val shortlist = ivfPqTopK(spark, dir, nQueries, rerank, numCells,
                              nProbe, nAssign, pqM)
      .select(col("qid"), col("nid"))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("d").asc, col("nid"))
    shortlist
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne")),
            "nid")
      .join(broadcast(queries), "qid")
      .withColumn("d", sqL2(col("qe"), col("ne")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"), col("d"))
  }

  /** DuckDB oracle for [[ivfPqRerankTopK]]: the q107 oracle computes
    * the ADC shortlist (depth `rerank`), then exact squared L2 on the
    * raw embeddings replays the engine's fold bit-exactly. */
  def ivfPqRerankOracleSql(nQueries: Int = 5, k: Int = 10,
                           rerank: Int = 50, nProbe: Int = 4,
                           nAssign: Int = 3): String = {
    val inner = ivfPqOracleSql(nQueries, rerank, nProbe, nAssign)
    if (inner.startsWith("SELECT '"))
      "SELECT 'q108 oracle requires ivfPqRerankTopK to run first' AS err"
    else
      s"""WITH shortlist AS (
         |$inner
         |),
         |ex AS (
         |  SELECT s.qid, s.nid,
         |    list_reduce([0.0] || [
         |      (CAST(q.embedding[j] AS DOUBLE) - CAST(n.embedding[j] AS DOUBLE)) *
         |      (CAST(q.embedding[j] AS DOUBLE) - CAST(n.embedding[j] AS DOUBLE))
         |      for j in range(1, ${Dim + 1})], (a, t) -> a + t) AS d
         |  FROM shortlist s
         |  JOIN embeddings q ON q.vec_id = s.qid
         |  JOIN embeddings n ON n.vec_id = s.nid),
         |rr AS (
         |  SELECT qid, nid, d,
         |    row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rnk
         |  FROM ex)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk, d FROM rr
         |WHERE rnk <= $k""".stripMargin
  }

  /** DuckDB oracle for [[ivfPqTopK]]: centroids AND codebooks embedded
    * as literals (both trainings are deterministic); cell assignment /
    * probing replays the q37 oracle, the candidate encode replays the
    * q85 oracle, and ADC is the same left-associated M-term sum of
    * distance-table entries — bit-exact, so even the raw double
    * `adc_d` column is hash-comparable. */
  def ivfPqOracleSql(nQueries: Int = 5, k: Int = 10, nProbe: Int = 4,
                     nAssign: Int = 3): String = {
    val cents = Option(lastIvfPqKey).flatMap(centroidsAt).orNull
    val books = Option(lastIvfPqKey)
      .flatMap(key => Quantize.booksFor(key._1, key._2)).orNull
    if (cents == null || books == null)
      "SELECT 'q107 oracle requires ivfPqTopK to run first' AS err"
    else {
      val (pqM, _) = Quantize.pqShape
      val sub = Dim / pqM
      val centRows = cents.zipWithIndex
        .map { case (c, i) =>
          s"($i, [${c.map(v => s"'$v'::DOUBLE").mkString(", ")}])" }
        .mkString(",\n    ")
      val bookRows = (for {
        m <- 0 until pqM
        kk <- books(m).indices
      } yield s"($m, $kk, [${books(m)(kk).map(v => s"'$v'::DOUBLE").mkString(", ")}])")
        .mkString(",\n    ")
      val codeCols = (0 until pqM)
        .map(m => s"max(CASE WHEN m = $m THEN k END) AS c$m").mkString(",\n    ")
      val qdJoins = (0 until pqM)
        .map(m => s"JOIN qd q$m ON q$m.qid = cand.qid AND q$m.m = $m AND q$m.k = codes.c$m")
        .mkString("\n  ")
      val adcSum = (1 until pqM).foldLeft("q0.dist")((acc, m) => s"($acc + q$m.dist)")
      s"""WITH cents(idx, c) AS (VALUES
         |    $centRows),
         |books(m, k, c) AS (VALUES
         |    $bookRows),
         |nrm AS (
         |  SELECT vec_id,
         |    sqrt(list_reduce([0.0] ||
         |      [CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
         |       for i in range(1, ${Dim + 1})], (a, t) -> a + t)) AS nm
         |  FROM embeddings),
         |nn AS (
         |  SELECT e.vec_id,
         |    [CAST(e.embedding[j] AS DOUBLE) / n.nm
         |     for j in range(1, ${Dim + 1})] AS ne
         |  FROM embeddings e JOIN nrm n USING (vec_id)),
         |d AS (
         |  SELECT n.vec_id, c.idx,
         |    list_reduce([0.0] || [n.ne[j] * c.c[j]
         |      for j in range(1, ${Dim + 1})], (a, t) -> a + t) AS d
         |  FROM nn n, cents c),
         |ca AS (
         |  SELECT vec_id AS nid, idx AS cell FROM (
         |    SELECT vec_id, idx,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY d DESC, idx) AS rn
         |    FROM d) t
         |  WHERE rn <= $nAssign),
         |qp AS (
         |  SELECT vec_id AS qid, idx AS cell FROM (
         |    SELECT vec_id, idx,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY d DESC, idx) AS rn
         |    FROM d WHERE vec_id < $nQueries) t
         |  WHERE rn <= $nProbe),
         |cand AS (
         |  SELECT DISTINCT qp.qid, ca.nid
         |  FROM qp JOIN ca ON ca.cell = qp.cell
         |  WHERE ca.nid <> qp.qid),
         |cd AS (
         |  SELECT e.vec_id, b.m, b.k,
         |    list_reduce([0.0] || [
         |      (CAST(e.embedding[b.m * $sub + j] AS DOUBLE) - b.c[j]) *
         |      (CAST(e.embedding[b.m * $sub + j] AS DOUBLE) - b.c[j])
         |      for j in range(1, ${sub + 1})], (a, t) -> a + t) AS dist
         |  FROM embeddings e, books b),
         |cw AS (
         |  SELECT vec_id, m, k,
         |    row_number() OVER (PARTITION BY vec_id, m
         |                       ORDER BY dist, k) AS rn
         |  FROM cd),
         |codes AS (
         |  SELECT vec_id,
         |    $codeCols
         |  FROM cw WHERE rn = 1 GROUP BY vec_id),
         |qd AS (
         |  SELECT vec_id AS qid, m, k, dist FROM cd WHERE vec_id < $nQueries),
         |score AS (
         |  SELECT cand.qid, cand.nid, $adcSum AS adc_d
         |  FROM cand JOIN codes ON codes.vec_id = cand.nid
         |  $qdJoins),
         |r AS (
         |  SELECT qid, nid, adc_d,
         |    row_number() OVER (PARTITION BY qid
         |                       ORDER BY adc_d, nid) AS rnk
         |  FROM score)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk, adc_d FROM r
         |WHERE rnk <= $k""".stripMargin
    }
  }

  /** DuckDB oracle for [[lshTopK]]: the hyperplanes are deterministic
    * constants (fixed-seed Gaussians), so they are embedded as literal
    * lists; the bucket sign decisions replay the engine's dot product
    * BIT-EXACTLY (same sequential left-to-right double accumulation via
    * `list_reduce`, same float→double casts — Java's shortest-round-trip
    * double formatting parses back to the identical bits), and the final
    * ranking uses `list_cosine_similarity` like the q30 oracle (engines
    * agree to ~1e-8; top-k gaps are ~1e-4, so ranks cannot flip). */
  def lshTopKOracleSql(nQueries: Int = 5, k: Int = 10): String = {
    // quoted-string double literals: DuckDB's VARCHAR→DOUBLE cast is
    // correctly rounded while its bare numeric-literal parse drifts by
    // 1 ULP on ~10% of values (see ivfTopKOracleSql) — the sign margins
    // absorbed that drift here, but bit-exact is bit-exact
    val planeRows = (for {
      t <- 0 until NumTables
      i <- 0 until PlanesPerTable
    } yield s"($t, ${1L << i}, " +
        s"[${tablePlanes(t)(i).map(v => s"'$v'::DOUBLE").mkString(", ")}])")
      .mkString(",\n    ")
    val dotp =
      s"list_reduce([CAST(e.embedding[j] AS DOUBLE) * pl.p[j] " +
        s"for j in range(1, ${Dim + 1})], (a, b) -> a + b)"
    s"""WITH planes(tbl, bit, p) AS (VALUES
       |    $planeRows),
       |db AS (
       |  SELECT e.vec_id, pl.tbl,
       |    CAST(sum(CASE WHEN $dotp >= 0 THEN pl.bit ELSE 0 END)
       |         AS BIGINT) AS bucket
       |  FROM embeddings e, planes pl
       |  GROUP BY e.vec_id, pl.tbl),
       |qp AS (
       |  SELECT vec_id AS qid, tbl,
       |    unnest([bucket, xor(bucket, 1), xor(bucket, 2),
       |            xor(bucket, 4), xor(bucket, 8)]) AS bucket
       |  FROM db WHERE vec_id < $nQueries),
       |cand AS (
       |  SELECT DISTINCT qp.qid, c.vec_id AS nid
       |  FROM qp JOIN db c ON c.tbl = qp.tbl AND c.bucket = qp.bucket
       |  WHERE c.vec_id <> qp.qid),
       |r AS (
       |  SELECT cand.qid, cand.nid,
       |    row_number() OVER (PARTITION BY cand.qid
       |      ORDER BY list_cosine_similarity(q.embedding, n.embedding) DESC,
       |               cand.nid) AS rnk
       |  FROM cand JOIN embeddings q ON q.vec_id = cand.qid
       |            JOIN embeddings n ON n.vec_id = cand.nid)
       |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= $k"""
      .stripMargin
  }

  /** DuckDB oracle for [[ivfTopK]]: the trained centroids (reproducible —
    * decimal-accumulated training, see [[trainCentroids]]) are embedded
    * as literal lists, and every DISCRETE decision of the engine's plan
    * is replayed BIT-EXACTLY so the candidate set cannot drift:
    * L2-normalization and centroid dots are the same sequential
    * left-to-right double folds as the VectorOps kernels (`[0.0] ||`
    * mirrors the fold init; Java's shortest-round-trip double formatting
    * parses back to identical bits), corpus cells are the top-nAssign
    * dots with ties to the lower index (`row_number ORDER BY d DESC,
    * idx` ≡ the engine's array_remove peel — exact-value ties between
    * distinct centroids do not occur on continuous data), query probes
    * the top-nProbe the same way. Only the final candidate RANKING uses
    * `list_cosine_similarity` (the q30/q31 argument: engines agree to
    * ~1e-8, top-k sim gaps are ~1e-4, so ranks cannot flip). */
  def ivfTopKOracleSql(nQueries: Int = 5, k: Int = 10, nProbe: Int = 4,
                       nAssign: Int = 3): String = {
    val cents = Option(lastIvfKey).flatMap(centroidsAt).orNull
    if (cents == null)
      "SELECT 'q37 oracle requires ivfTopK to run first' AS err"
    else {
      // '<digits>'::DOUBLE (VARCHAR cast), NOT a bare numeric literal:
      // DuckDB 1.0.0's numeric-literal parse misrounds ~10% of
      // shortest-round-trip doubles by 1 ULP; its VARCHAR→DOUBLE cast
      // is correctly rounded (measured, see Quantize.pqCodesOracleSql)
      val centRows = cents.zipWithIndex
        .map { case (c, i) =>
          s"($i, [${c.map(v => s"'$v'::DOUBLE").mkString(", ")}])" }
        .mkString(",\n    ")
      s"""WITH cents(idx, c) AS (VALUES
         |    $centRows),
         |nrm AS (
         |  SELECT vec_id,
         |    sqrt(list_reduce([0.0] ||
         |      [CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
         |       for i in range(1, ${Dim + 1})], (a, t) -> a + t)) AS nm
         |  FROM embeddings),
         |nn AS (
         |  SELECT e.vec_id,
         |    [CAST(e.embedding[j] AS DOUBLE) / n.nm
         |     for j in range(1, ${Dim + 1})] AS ne
         |  FROM embeddings e JOIN nrm n USING (vec_id)),
         |d AS (
         |  SELECT n.vec_id, c.idx,
         |    list_reduce([0.0] || [n.ne[j] * c.c[j]
         |      for j in range(1, ${Dim + 1})], (a, t) -> a + t) AS d
         |  FROM nn n, cents c),
         |ca AS (
         |  SELECT vec_id AS nid, idx AS cell FROM (
         |    SELECT vec_id, idx,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY d DESC, idx) AS rn
         |    FROM d) t
         |  WHERE rn <= $nAssign),
         |qp AS (
         |  SELECT vec_id AS qid, idx AS cell FROM (
         |    SELECT vec_id, idx,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY d DESC, idx) AS rn
         |    FROM d WHERE vec_id < $nQueries) t
         |  WHERE rn <= $nProbe),
         |cand AS (
         |  SELECT DISTINCT qp.qid, ca.nid
         |  FROM qp JOIN ca ON ca.cell = qp.cell
         |  WHERE ca.nid <> qp.qid),
         |r AS (
         |  SELECT cand.qid, cand.nid,
         |    row_number() OVER (PARTITION BY cand.qid
         |      ORDER BY list_cosine_similarity(q.embedding, n.embedding) DESC,
         |               cand.nid) AS rnk
         |  FROM cand JOIN embeddings q ON q.vec_id = cand.qid
         |            JOIN embeddings n ON n.vec_id = cand.nid)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk FROM r
         |WHERE rnk <= $k""".stripMargin
    }
  }

  /** LSH ANN top-k over L hash tables with 1-bit multi-probe.
    *
    * Corpus side: each vector is indexed once per table — an L-row
    * explode, the standard LSH-forest storage cost (shuffle keyed on
    * (table, bucket), no self-join, no broadcast of the corpus).
    * Query side: the bounded query batch probes its own bucket plus all
    * Hamming-distance-1 buckets in every table, then candidates are
    * deduplicated on (qid, nid) before exact cosine ranking — so the
    * output ranking is exact over the candidate set, and recall vs brute
    * force is the only approximation (asserted ≥0.9 in SimilaritySpec).
    * Same output shape as bruteForceTopK. */
  def lshTopK(spark: SparkSession, dir: String,
              nQueries: Int = 5, k: Int = 10): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val corpus = emb
      .select(col("vec_id").as("nid"), l2normalize(col("embedding")).as("ne"),
              posexplode(allTableBuckets(col("embedding"))).as(Seq("tbl", "bucket")))
    // own bucket + each single-bit flip, per table
    val probeSet = (b: Column) =>
      array(b +: (0 until PlanesPerTable)
        .map(i => b.bitwiseXOR(lit(1L << i))): _*)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), l2normalize(col("embedding")).as("qe"),
              posexplode(allTableBuckets(col("embedding"))).as(Seq("tbl", "qb")))
      .select(col("qid"), col("qe"), col("tbl"),
              explode(probeSet(col("qb"))).as("bucket"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    corpus
      .join(broadcast(queries),
            Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("nid"))
      // a pair may collide in several tables/probes — rank each once
      .dropDuplicates("qid", "nid")
      .withColumn("sim", dot(col("qe"), col("ne")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("rnk"))
  }

  // ---- ANN quality audit (recall@k) ---------------------------------

  /** Recall@k of the IVF index against the exact brute-force top-k —
    * the quality gate every production ANN deployment runs before (and
    * continuously after) switching traffic to the approximate index.
    *
    * Per query: |IVF top-k ∩ brute top-k| / k. The expensive parts are
    * the two searches themselves (each already scale-audited: the brute
    * pass is one corpus scan against a broadcast query batch, the IVF
    * pass probes nProbe cells); the audit join runs on the two bounded
    * (nQueries × k)-row result sets, so it adds nothing at scale. On a
    * real 100 TB corpus the brute side runs over a fixed query SAMPLE —
    * which is exactly what the bounded `nQueries` query batch is.
    *
    * Output: (qid, hits, recall), recall rounded to 4 decimals.
    *
    * The index knobs (numCells/nProbe/nAssign) exist for the recall
    * SWEEP (`ScaleSmoke annrecall`, SCALE.md round-12 table), which
    * checks recall values directly against the in-query brute-force
    * baseline; [[ivfRecallOracleSql]] replays ONLY the default config
    * — the q117 gate's — because the oracle embeds the default probe
    * plan as literals. Non-default sweeps are self-validating (the
    * exact top-k is computed inside the same query), not oracle-gated. */
  def ivfRecall(spark: SparkSession, dir: String,
                nQueries: Int = 5, k: Int = 10, numCells: Int = 24,
                nProbe: Int = 4, nAssign: Int = 3): DataFrame = {
    val brute = bruteForceTopK(spark, dir, nQueries, k)
      .select(col("qid"), col("nid"))
    val approx = ivfTopK(spark, dir, nQueries, k, numCells, nProbe, nAssign)
      .select(col("qid").as("aqid"), col("nid").as("anid"))
    brute
      .join(approx, col("qid") === col("aqid") && col("nid") === col("anid"),
            "left_outer")
      .groupBy(col("qid"))
      .agg(count(col("anid")).as("hits"),
           round(count(col("anid")) / lit(k.toDouble), 4).as("recall"))
      .select(col("qid"), col("hits"), col("recall"))
  }

  /** Oracle for [[ivfRecall]]: composes the q30 brute-force SQL with the
    * full q37 IVF replay (literal centroids — requires ivfTopK to have
    * run, same contract as [[ivfTopKOracleSql]]) and recomputes the
    * intersection in DuckDB. */
  def ivfRecallOracleSql(nQueries: Int = 5, k: Int = 10): String = {
    val ivf = ivfTopKOracleSql(nQueries, k)
    s"""WITH brute AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.vec_id AS qid, e.vec_id AS nid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
       |                 e.vec_id) AS rnk
       |    FROM embeddings q, embeddings e
       |    WHERE q.vec_id < $nQueries AND e.vec_id != q.vec_id) t
       |  WHERE rnk <= $k),
       |ivf AS (SELECT iv.qid AS aqid, iv.nid AS anid FROM (
       |$ivf
       |) iv)
       |SELECT b.qid, count(i.anid) AS hits,
       |  round(count(i.anid) / $k.0, 4) AS recall
       |FROM brute b LEFT JOIN ivf i ON i.aqid = b.qid AND i.anid = b.nid
       |GROUP BY b.qid""".stripMargin
  }

  /** Semantic cluster-similarity matrix — cosine between the per-label
    * embedding CENTROIDS, the corpus-mixture audit ("how close are the
    * topic clusters / sources in embedding space?"). Cosine is
    * scale-invariant, so the centroids never divide by the count: the
    * per-dimension DECIMAL sums ARE the centroid directions (exact,
    * order-independent — the q37 training discipline), each rounded to
    * double exactly once; dot products and norms then re-accumulate in
    * DECIMAL so the pairwise matrix is bit-deterministic.
    *
    * Scale: one posexplode shuffle folds the corpus to labels × dims
    * rows (map-side combine; the ONLY corpus-sized step); the pair
    * matrix is labels² — driver-trivial, joined on the dim key. */
  def labelCentroidSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val el = Tables.load(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v").cast("decimal(30,18)")).cast("double").as("x"))
    val norms = el.groupBy(col("label"))
      .agg(sum((col("x") * col("x")).cast("decimal(38,12)")).as("nsq"))
    val a = el.select(col("label").as("la"), col("pos").as("pa"),
                      col("x").as("xa"))
    val b = el.select(col("label").as("lb"), col("pos").as("pb"),
                      col("x").as("xb"))
    a.join(b, col("pa") === col("pb") && col("la") < col("lb"))
      .groupBy(col("la"), col("lb"))
      .agg(sum((col("xa") * col("xb")).cast("decimal(38,12)")).as("dot"))
      .join(broadcast(norms.withColumnRenamed("label", "la")
              .withColumnRenamed("nsq", "na")), Seq("la"))
      .join(broadcast(norms.withColumnRenamed("label", "lb")
              .withColumnRenamed("nsq", "nb")), Seq("lb"))
      .select(col("la"), col("lb"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
          4).as("cos"))
  }

  def labelCentroidSimilarityOracleSql(): String =
    """WITH el AS (
      |  SELECT label, i AS pos,
      |    CAST(sum(CAST(embedding[i] AS DECIMAL(30,18))) AS DOUBLE) AS x
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS s(i)
      |  GROUP BY label, i),
      |norms AS (
      |  SELECT label, sum(CAST(x * x AS DECIMAL(38,12))) AS nsq
      |  FROM el GROUP BY label),
      |dots AS (
      |  SELECT a.label AS la, b.label AS lb,
      |    sum(CAST(a.x * b.x AS DECIMAL(38,12))) AS dot
      |  FROM el a JOIN el b ON a.pos = b.pos AND a.label < b.label
      |  GROUP BY a.label, b.label)
      |SELECT la, lb,
      |  round(CAST(dot AS DOUBLE) /
      |    (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))), 4)
      |    AS cos
      |FROM dots
      |JOIN norms na ON na.label = la
      |JOIN norms nb ON nb.label = lb""".stripMargin

  // ---- SemDeDup (cluster-bounded semantic dedup) ---------------------

  /** Cache key of the most recent [[semDedup]] call (oracle-literal
    * sourcing contract as [[lastIvfKey]]). */
  @volatile private var lastSemKey: (SparkSession, String, Int) = null

  /** SemDeDup — semantic deduplication (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", 2023): partition the embedding space with the
    * deterministically trained spherical k-means centroids (the SAME
    * memoized (session, dir, k) artifact the q37 IVF index uses — the
    * coarse quantizer IS the clustering), compare pairs ONLY within a
    * cluster, and from every near-duplicate pair drop the member CLOSER
    * to its centroid (the paper's keep-farthest policy: boundary
    * examples carry more signal than cluster-center boilerplate).
    * Centroid-similarity ties break by vec_id, so the survivor set is
    * deterministic.
    *
    * Scale shape: the pairwise stage is quadratic only WITHIN a cell —
    * the method's entire point; at 100 TB the cluster count scales with
    * the corpus (SemDeDup runs 50k clusters on LAION) so cell
    * populations stay bounded and the verify stage is one shuffle keyed
    * on cell id. Everything upstream is map-side: assignment is k dot
    * products per row against broadcast centroid literals. No all-pairs
    * comparison ever happens.
    *
    * Output is exact-integer (vec_id, cell, n_dups, removed): every
    * threshold and dominance decision happens on bit-exact replayable
    * doubles (sequential-fold dots over l2-normalized vectors — the
    * same fold the oracle replays with `list_reduce`), so the gate has
    * zero float-hash risk. */
  def semDedup(spark: SparkSession, dir: String, numCells: Int = 24,
               threshold: Double = 0.35): DataFrame = {
    val corpus = Tables.load(spark, dir, "embeddings")
    val cents = trainedCentroidsCached(spark, corpus, dir, numCells)
    lastSemKey = (spark, dir, numCells)
    // single (nearest-centroid) assignment; csim = that best dot
    // (argmax/tie semantics live in withIvfCellsCsim, mirrored by the
    // oracle's (d DESC, idx) row_number order). Persist: the frame
    // feeds the pair join twice AND the final verdict join — without
    // it the corpus scan + k×dim assignment map would run twice.
    val assigned = withIvfCellsCsim(corpus, col("embedding"), cents)
      .select(col("vec_id"), l2normalize(col("embedding")).as("ne"),
              col("cell"), col("csim"))
      .transform(Memo.persist)
    val l = assigned.select(col("cell"), col("vec_id").as("lid"),
                            col("ne").as("lne"), col("csim").as("lcs"))
    val r = assigned.select(col("cell"), col("vec_id").as("rid"),
                            col("ne").as("rne"), col("csim").as("rcs"))
    val stats = l.join(r, Seq("cell"))
      .filter(col("lid") =!= col("rid") &&
              dot(col("lne"), col("rne")) >= threshold)
      .groupBy(col("rid"))
      .agg(count(lit(1)).as("n_dups"),
           max(when(col("lcs") < col("rcs") ||
                    (col("lcs") === col("rcs") && col("lid") < col("rid")),
               1L).otherwise(0L)).as("removed"))
      .withColumnRenamed("rid", "vec_id")
    assigned.select(col("vec_id"), col("cell"))
      .join(stats, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"),
              coalesce(col("n_dups"), lit(0L)).as("n_dups"),
              coalesce(col("removed"), lit(0L)).as("removed"))
  }

  /** Oracle replay of [[semDedup]]: literal centroids (dumped AFTER the
    * gate ran, [[lastIvfKey]] contract), exact sequential-fold dots, the
    * same argmax / dominance / threshold decisions. */
  def semDedupOracleSql(threshold: Double = 0.35): String = {
    val cents = Option(lastSemKey).flatMap(centroidsAt).orNull
    if (cents == null)
      "SELECT 'q198 oracle requires semDedup to run first' AS err"
    else {
      val centRows = cents.zipWithIndex
        .map { case (c, i) =>
          s"($i, [${c.map(v => s"'$v'::DOUBLE").mkString(", ")}])" }
        .mkString(",\n    ")
      s"""WITH cents(idx, c) AS (VALUES
         |    $centRows),
         |nrm AS (
         |  SELECT vec_id,
         |    sqrt(list_reduce([0.0] ||
         |      [CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
         |       for i in range(1, ${Dim + 1})], (a, t) -> a + t)) AS nm
         |  FROM embeddings),
         |nn AS (
         |  SELECT e.vec_id,
         |    [CAST(e.embedding[j] AS DOUBLE) / n.nm
         |     for j in range(1, ${Dim + 1})] AS ne
         |  FROM embeddings e JOIN nrm n USING (vec_id)),
         |d AS (
         |  SELECT n.vec_id, c.idx,
         |    list_reduce([0.0] || [n.ne[j] * c.c[j]
         |      for j in range(1, ${Dim + 1})], (a, t) -> a + t) AS d
         |  FROM nn n, cents c),
         |asg AS (
         |  SELECT vec_id, idx AS cell, d AS csim FROM (
         |    SELECT vec_id, idx, d,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY d DESC, idx) AS rn
         |    FROM d) t
         |  WHERE rn = 1),
         |p AS (
         |  SELECT l.vec_id AS lid, r.vec_id AS rid,
         |    l.csim AS lcs, r.csim AS rcs
         |  FROM asg l JOIN asg r ON l.cell = r.cell
         |                       AND l.vec_id <> r.vec_id
         |  JOIN nn lv ON lv.vec_id = l.vec_id
         |  JOIN nn rv ON rv.vec_id = r.vec_id
         |  WHERE list_reduce([0.0] || [lv.ne[j] * rv.ne[j]
         |          for j in range(1, ${Dim + 1})], (a, t) -> a + t)
         |        >= '$threshold'::DOUBLE),
         |s AS (
         |  SELECT rid AS vec_id, count(*) AS n_dups,
         |    max(CASE WHEN lcs < rcs OR (lcs = rcs AND lid < rid)
         |             THEN 1 ELSE 0 END) AS removed
         |  FROM p GROUP BY rid)
         |SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
         |  CAST(coalesce(s.n_dups, 0) AS BIGINT) AS n_dups,
         |  CAST(coalesce(s.removed, 0) AS BIGINT) AS removed
         |FROM asg a LEFT JOIN s ON s.vec_id = a.vec_id""".stripMargin
    }
  }

  // ---- within-cluster spectrum probe ---------------------------------
  //
  // The ANN decision rule (SCALE.md annhard/annaniso tables) ends with
  // "measure your corpus's within-cluster spectrum": on isotropic
  // within-cluster geometry, recall is bought with probes (ADC codes are
  // distribution-bound); on anisotropic low-rank geometry, codes buy it
  // outright. These operators ARE that measurement — per cell, the
  // centered second-moment matrix reduced to participation ratio
  // PR = (tr C)² / ‖C‖_F² = (Σλ)²/Σλ² (≈ the spread's effective
  // dimensionality: dim when isotropic, r when rank-r) and the top
  // eigenvalue's share of the variance.
  //
  // Determinism/exactness design (what makes q235 hash-gateable):
  // elements are quantized ONCE to DECIMAL(7,3) — from then on every
  // aggregate (first moments at scale 3, pairwise second moments at
  // scale 6) is an exact integer-decimal sum, order-free across
  // partitions and bit-identical in any engine; the covariance
  // numerator n·M_ij − S_i·S_j stays exact at scale 6 and its one
  // conversion to double is a correctly-rounded division (the scaled
  // integer is far inside 2^53). Quantization noise (variance 1e-6/12
  // per element) is ~6 orders below any real cluster variance — the
  // statistic is unchanged, the nondeterminism is gone. Scale: one
  // partition-local pass accumulating each cell's dim(dim+1)/2 product
  // sums as integers; only K×dim²/2 sums per partition reach the
  // driver (the trainCentroids bounded-collect shape). At very high
  // dim, JL-project first (q115) and probe the projected spectrum —
  // PR is what JL preserves.

  // r16 optimization (guide §2.3 "aggregate before you shuffle" / §1.2
  // "per-task work"): the moments were a map-side explode of
  // dim(dim+1)/2 named_struct rows per vector (2,080/vector at dim 64 —
  // 4.16M rows at the 2,000-vector gate) into a (cell, i, j) decimal
  // hash aggregation. The accumulator below does the identical integer
  // arithmetic partition-locally on the quantized elements' unscaled
  // longs (DECIMAL(7,3) → scale-3 integers; each pairwise product is a
  // scale-6 long ≤ 1e14), so no per-product row ever exists. Integer
  // addition is exact and order-free, hence the collected moments are
  // bit-identical to the decimal aggregation they replaced (oracle and
  // ClusterSpectrumSpec unchanged). Long accumulators escape to
  // BigInteger on overflow (Math.addExact), so exactness survives any
  // per-partition row count, not just the gate's.
  private final class SpectrumAcc(dim: Int) extends Serializable {
    val nPairs = dim * (dim + 1) / 2
    var n = 0L
    val s = new Array[Long](dim)
    val m = new Array[Long](nPairs)
    var sBig: Array[java.math.BigInteger] = null
    var mBig: Array[java.math.BigInteger] = null
    private def spillS(i: Int, v: Long): Unit = {
      if (sBig == null) sBig = Array.fill(dim)(java.math.BigInteger.ZERO)
      sBig(i) = sBig(i).add(java.math.BigInteger.valueOf(s(i)))
      s(i) = v
    }
    private def spillM(i: Int, v: Long): Unit = {
      if (mBig == null) mBig = Array.fill(nPairs)(java.math.BigInteger.ZERO)
      mBig(i) = mBig(i).add(java.math.BigInteger.valueOf(m(i)))
      m(i) = v
    }
    def addS(i: Int, v: Long): Unit =
      try s(i) = Math.addExact(s(i), v)
      catch { case _: ArithmeticException => spillS(i, v) }
    def addM(i: Int, v: Long): Unit =
      try m(i) = Math.addExact(m(i), v)
      catch { case _: ArithmeticException => spillM(i, v) }
    def totalS(i: Int): java.math.BigInteger = {
      val base = java.math.BigInteger.valueOf(s(i))
      if (sBig == null) base else sBig(i).add(base)
    }
    def totalM(i: Int): java.math.BigInteger = {
      val base = java.math.BigInteger.valueOf(m(i))
      if (mBig == null) base else mBig(i).add(base)
    }
    def merge(o: SpectrumAcc): SpectrumAcc = {
      n += o.n
      var i = 0
      while (i < s.length) { addS(i, o.s(i)); i += 1 }
      if (o.sBig != null) {
        if (sBig == null)
          sBig = Array.fill(s.length)(java.math.BigInteger.ZERO)
        i = 0
        while (i < s.length) { sBig(i) = sBig(i).add(o.sBig(i)); i += 1 }
      }
      i = 0
      while (i < m.length) { addM(i, o.m(i)); i += 1 }
      if (o.mBig != null) {
        if (mBig == null) mBig = Array.fill(nPairs)(java.math.BigInteger.ZERO)
        i = 0
        while (i < m.length) { mBig(i) = mBig(i).add(o.mBig(i)); i += 1 }
      }
      this
    }
  }

  /** Collected moments keyed for the driver-side math: exact
    * BigDecimals, bounded at K×dim(dim+1)/2. One partition-local pass
    * over the quantized vectors (see [[SpectrumAcc]]); quantization
    * itself stays a Catalyst CAST so the decimal rounding is the
    * engine's own, identical to the oracle's. */
  private def collectedMoments(df: DataFrame, cellCol: Column,
                               dim: Int = Dim)
      : (Map[Int, Long], Map[(Int, Int), java.math.BigDecimal],
         Map[(Int, Int, Int), java.math.BigDecimal]) = {
    // a null embedding must fall out of n AND the moments together —
    // counting it while its (absent) products skip m1/m2 would bias
    // every covariance numerator of its cell (and leave (cell, i, j)
    // holes the driver lookups would trip on). A null CELL falls out
    // the same way: there is no cluster to attribute its moments to,
    // and the driver's Row.getInt would throw on it. The oracle's e
    // CTE carries the identical two filters. Vectors are Dim-wide by
    // the table contract, as everywhere in this file.
    val base = df
      .filter(col("embedding").isNotNull && cellCol.isNotNull)
      .select(cellCol.cast("int").as("cell"),
        expr(s"""transform(sequence(1, $dim), i ->
                 CAST(CAST(element_at(embedding, i) AS DOUBLE)
                      AS DECIMAL(7,3)))""").as("q"))
    val d = dim
    val partials = base.rdd.mapPartitions { rows =>
      val accs = new java.util.HashMap[Int, SpectrumAcc]()
      val u = new Array[Long](d)
      val nul = new Array[Boolean](d)
      rows.foreach { row =>
        val cell = row.getInt(0)
        var acc = accs.get(cell)
        if (acc == null) { acc = new SpectrumAcc(d); accs.put(cell, acc) }
        acc.n += 1
        val q = row.getSeq[java.math.BigDecimal](1)
        var i = 0
        while (i < d) {
          val x = q(i)
          if (x == null) nul(i) = true
          else { nul(i) = false; u(i) = x.unscaledValue().longValueExact() }
          i += 1
        }
        i = 0
        var idx = 0
        while (i < d) {
          if (!nul(i)) {
            acc.addS(i, u(i))
            var j = i
            while (j < d) {
              if (!nul(j)) acc.addM(idx + (j - i), u(i) * u(j))
              j += 1
            }
          }
          idx += d - i
          i += 1
        }
      }
      scala.jdk.CollectionConverters.MapHasAsScala(accs).asScala.iterator
        .map { case (c, a) => (c.intValue, a) }
    }
    // executor-side merge (guide §5, same shape as trainCentroids): the
    // driver previously collected one K×dim(dim+1)/2 accumulator map
    // PER PARTITION — at 100 TB task counts that is the one driver-
    // memory hazard this operator had. SpectrumAcc.merge is order-free
    // integer addition, so reduceByKey yields bit-identical totals and
    // the driver receives exactly K merged accumulators.
    val cells = partials.reduceByKey(_ merge _).collect().toMap
    val counts = cells.map { case (c, a) => c.intValue -> a.n }.toMap
    val m1 = cells.flatMap { case (c, a) =>
      (1 to d).map(i =>
        (c.intValue, i) -> new java.math.BigDecimal(a.totalS(i - 1), 3))
    }.toMap
    val m2 = cells.flatMap { case (c, a) =>
      var idx = -1
      for (i <- 1 to d; j <- i to d) yield {
        idx += 1
        (c.intValue, i, j) -> new java.math.BigDecimal(a.totalM(idx), 6)
      }
    }.toMap
    (counts, m1, m2)
  }

  /** Gate surface (q235): the EXACT covariance numerators — one row per
    * (cell, i, j), i ≤ j, with c2 = n·M_ij − S_i·S_j = n²·Cov_ij over
    * the quantized elements. This is the distributed part of the
    * spectrum probe (the part that can be wrong at scale); the scalar
    * reductions live in [[clusterSpectrum]] and are spec-certified
    * against an independent in-memory eigensolve. */
  def clusterSpectrumMoments(df: DataFrame, cellCol: Column): DataFrame = {
    val spark = df.sparkSession
    val (nBy, sBy, mBy) = collectedMoments(df, cellCol)
    val rows = mBy.toSeq
      .sortBy { case ((c, i, j), _) => (c, i, j) }
      .map { case ((c, i, j), m) =>
        val c2 = m.multiply(java.math.BigDecimal.valueOf(nBy(c)))
          .subtract(sBy((c, i)).multiply(sBy((c, j))))
        org.apache.spark.sql.Row(c, i, j, c2.doubleValue())
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("i",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("j",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("c2",
          org.apache.spark.sql.types.DoubleType))))
  }

  /** The spectrum probe itself: per cell, the effective dimensionality
    * of the within-cell spread. Output: (cell, n, tr_cov, fro2, pr,
    * top_share) where pr = (tr C)²/‖C‖²_F ∈ [1, dim] and top_share =
    * λ₁/tr C (power iteration on the K collected dim×dim matrices —
    * driver-side over bounded state, deterministic start and count).
    * Decision rule: pr ≫ r_code (and top_share ≈ 1/pr) → isotropic
    * spread, buy ANN recall with nProbe; pr small (top few eigenvalues
    * carry the variance) → low-rank spread, PQ/ADC codes capture it —
    * see the ScaleSmoke spectrum table. `sampleMod > 1` probes a
    * deterministic vec_id hash-sample (the statistic is a mean shape,
    * sampling-stable; the trainCentroids pattern). Cells with n ≤ 1
    * report zeros. */
  def clusterSpectrum(df: DataFrame, cellCol: Column,
                      sampleMod: Int = 1, dim: Int = Dim): DataFrame = {
    val spark = df.sparkSession
    val src = if (sampleMod > 1)
        df.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
      else df
    val (nBy, sBy, mBy) = collectedMoments(src, cellCol, dim)
    val out = nBy.toSeq.sortBy(_._1).map { case (cell, n) =>
      val nn = n.toDouble * n.toDouble
      val cov = Array.ofDim[Double](dim, dim)
      for (i <- 1 to dim; j <- i to dim) {
        val c2 = mBy((cell, i, j))
          .multiply(java.math.BigDecimal.valueOf(n))
          .subtract(sBy((cell, i)).multiply(sBy((cell, j))))
        val c = if (n > 1) c2.doubleValue() / nn else 0.0
        cov(i - 1)(j - 1) = c
        cov(j - 1)(i - 1) = c
      }
      var tr = 0.0
      for (i <- 0 until dim) tr += cov(i)(i)
      var fro2 = 0.0
      for (i <- 0 until dim; j <- i until dim)
        fro2 += (if (i == j) cov(i)(j) * cov(i)(j)
                 else 2.0 * (cov(i)(j) * cov(i)(j)))
      val pr = if (fro2 > 0) tr * tr / fro2 else 0.0
      var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
      for (_ <- 1 to 200) {
        val w = Array.tabulate(dim)(i =>
          (0 until dim).foldLeft(0.0)((a, j) => a + cov(i)(j) * v(j)))
        val nrm = math.sqrt(w.foldLeft(0.0)((a, x) => a + x * x))
        if (nrm > 0) v = w.map(_ / nrm)
      }
      val lam = (0 until dim).foldLeft(0.0)((a, i) => a + v(i) *
        (0 until dim).foldLeft(0.0)((b, j) => b + cov(i)(j) * v(j)))
      val topShare = if (tr > 0) lam / tr else 0.0
      (cell, n, tr, fro2, pr, topShare)
    }
    spark.createDataFrame(out)
      .toDF("cell", "n", "tr_cov", "fro2", "pr", "top_share")
  }

  /** The high-dim escape hatch the probe doc prescribes, as an
    * OPERATOR: JL-project the embeddings to `outDim` first (fixed-seed
    * Gaussian directions — [[Projection.jlMatrixFor]], the q115
    * machinery — scaled 1/√outDim so squared norms are preserved in
    * expectation), then run the IDENTICAL spectrum probe on the
    * projected vectors. At dim ≥ 512 the direct probe's
    * dim(dim+1)/2-term explode (131k terms/vector at 512) is the cost
    * being avoided; the projected probe pays outDim map-side dots plus
    * an outDim(outDim+1)/2 explode (528 at outDim=32 — a 249× term
    * cut) and K×outDim²/2 driver state instead of K×dim²/2.
    *
    * Why PR survives projection: for Gaussian R/√k, E[R C Rᵀ/k] has
    * the same trace as C and its spectrum concentrates on C's top
    * eigenvalues — a rank-r spread stays ~r-dimensional after
    * projection, while an isotropic spread fills all outDim projected
    * directions. The projected PR is therefore CAPPED at outDim
    * (Wishart spread puts the isotropic reading at ≈ outDim/(1 +
    * outDim/dim), e.g. ≈ 57 for 512 → 64): choose outDim a FEW × the
    * candidate code rank — the default 64 is 4 × r_code = 16 — so the
    * cap keeps clear headroom above the `pr ≥ 2·r_code` isotropy
    * threshold; at outDim = 2·r_code the cap EQUALS the threshold and
    * an isotropic corpus can read as low-rank. Certified
    * direct-vs-projected at dim 512 on both regimes with the decision
    * unchanged and the probe ≥20× cheaper: `ScaleSmoke spectrumhd`. */
  def clusterSpectrumProjected(df: DataFrame, cellCol: Column,
                               inDim: Int, outDim: Int = 64,
                               seed: Long = 13,
                               sampleMod: Int = 1): DataFrame = {
    val mat = Projection.jlMatrixFor(inDim, outDim, seed)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val projected = array(mat.map { row =>
      graft.functions.VectorOps.dot(col("embedding"), typedlit(row)) *
        lit(scale)
    }: _*)
    clusterSpectrum(df.withColumn("embedding", projected), cellCol,
                    sampleMod, dim = outDim)
  }

  /** Gate entry: the exact spectrum moments of the embeddings table
    * per LABEL (the corpus's true clusters — deterministic, so the
    * oracle replays cell assignment trivially; the IVF-cell variant is
    * the same operator with `withIvfCells`' column). */
  def clusterSpectrumGate(spark: SparkSession, dir: String): DataFrame =
    clusterSpectrumMoments(
      Tables.load(spark, dir, "embeddings"), col("label"))

  /** The probe over the INDEX'S OWN cells — what an operator actually
    * runs before choosing an ANN architecture: assign each vector to
    * its trained IVF cell (shared centroid memo with the q37/q107
    * index builds) and read the within-CELL spectrum. The ScaleSmoke
    * `spectrum` table runs this on the isotropic (annhard σ=2) and
    * low-rank (annaniso) corpora and the pr column separates them. */
  def clusterSpectrumIvf(spark: SparkSession, dir: String,
                         numCells: Int = 24,
                         sampleMod: Int = 1): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val cents = trainedCentroidsCached(spark, emb, dir, numCells)
    // probe the NORMALIZED vectors — the geometry the spherical index
    // cells and the PQ codebooks actually see
    clusterSpectrum(
      withIvfCells(emb, col("embedding"), cents)
        .withColumn("embedding", l2normalize(col("embedding"))),
      col("cell"), sampleMod)
  }

  /** DuckDB oracle for [[clusterSpectrumGate]]: the identical
    * quantize → exact decimal moments → n·M − S·S computation. The e
    * CTE filters NULL embeddings and NULL labels exactly as the engine
    * side does (see [[collectedMoments]] — a counted-but-
    * productless row would bias every covariance numerator).
    *
    * Decimal-width envelope: operand casts n→DECIMAL(9,0) (exact for
    * n < 10⁹ rows per cell), m→DECIMAL(28,6) (|ΣM| < 10²² — elements
    * are DECIMAL(7,3) so each product ≤ 10⁸, safe past 10¹³ rows),
    * s→DECIMAL(18,3) (|ΣS| < 10¹⁵). The products land at
    * DECIMAL(37,6)/DECIMAL(36,6) — deliberately one short of 38,
    * because DuckDB's add-width rule (max(w−s)+s+1) would push a
    * 38−38 subtraction past width 38 and silently fall back to
    * DOUBLE arithmetic; at 37/36 the subtraction is exact
    * DECIMAL(38,6) with no narrowing cast to throw mid-pipeline. The
    * final
    * DECIMAL(38,6) → DOUBLE conversion matches BigDecimal.doubleValue
    * bit for bit while the scaled integer |c2·10⁶| < 2⁵³ (i.e.
    * |c2| ≲ 9·10⁹ — comfortably above any unit-norm-embedding corpus;
    * beyond that the statistic is still exact in decimal but the
    * double rounding is no longer guaranteed identical across
    * engines). */
  def clusterSpectrumOracleSql(): String =
    s"""WITH e AS (SELECT label AS cell, embedding AS emb
       |           FROM embeddings
       |           WHERE embedding IS NOT NULL
       |             AND label IS NOT NULL),
       |q AS (SELECT cell,
       |        [CAST(CAST(x AS DOUBLE) AS DECIMAL(7,3))
       |         for x in emb] AS qe
       |      FROM e),
       |n AS (SELECT cell, CAST(count(*) AS BIGINT) AS n
       |      FROM q GROUP BY cell),
       |m1 AS (SELECT cell, t.i AS i, sum(qe[t.i]) AS s
       |       FROM q, range(1, ${Dim + 1}) t(i) GROUP BY cell, t.i),
       |m2 AS (SELECT cell, ti.i AS i, tj.j AS j,
       |         sum(qe[ti.i] * qe[tj.j]) AS m
       |       FROM q, range(1, ${Dim + 1}) ti(i),
       |            range(1, ${Dim + 1}) tj(j)
       |       WHERE tj.j >= ti.i GROUP BY cell, ti.i, tj.j)
       |SELECT m2.cell, CAST(m2.i AS INT) AS i, CAST(m2.j AS INT) AS j,
       |  CAST(CAST(n.n AS DECIMAL(9,0)) * CAST(m2.m AS DECIMAL(28,6))
       |     - CAST(m1a.s AS DECIMAL(18,3)) *
       |         CAST(m1b.s AS DECIMAL(18,3))
       |     AS DOUBLE) AS c2
       |FROM m2 JOIN n USING (cell)
       |  JOIN m1 m1a ON m1a.cell = m2.cell AND m1a.i = m2.i
       |  JOIN m1 m1b ON m1b.cell = m2.cell AND m1b.i = m2.j""".stripMargin
}
