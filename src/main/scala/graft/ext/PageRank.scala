package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over the near-duplicate graph — ranking a
  * duplicate cluster's members by connectivity (the "which copy is the
  * hub" signal a dedup pipeline can use instead of min-doc_id survivor
  * selection, and the classic iterative-graph workload).
  *
  * ALL-INTEGER formulation: ranks are BIGINTs scaled by 1e9, each
  * iteration is `rank' = 0.15·S + 0.85·Σ_in floor(rank/deg)` with floor
  * division at both steps — no floating point anywhere, so the result
  * is bit-exact and the DuckDB oracle replays the iterations verbatim
  * (distributed float summation order can never perturb it; the same
  * trick as the q76 decimal moments, taken all the way to integers).
  * Headroom: a node's contribution sum is ≤ max-degree·1e9 and the
  * damping step computes `85 · s` BEFORE dividing, so signed-64 wraps
  * once max-degree exceeds ~1e8 in-neighbors (85 · 1e8 · 1e9 ≈ 2^63) —
  * generous for a near-dup graph (a 1e8-degree node means 1e8 copies of
  * one document), but a graph that hot needs the 1e9 scale lowered or
  * the damping sum lifted to DECIMAL(38,0); the bound is the ×85-aware
  * one, not the naive Σ≤deg·1e9 figure.
  *
  * Scale: per iteration one src-keyed join (ranks onto edges) and one
  * dst-keyed sum — the label-propagation shuffle shape (SCALE.md §dedup);
  * iteration count is FIXED (3), so the lazy plan stays bounded and no
  * convergence probe is needed. Every node of the symmetric pair graph
  * has degree ≥ 1 and receives ≥ 1 contribution, so no dangling-mass
  * term is needed. */
object PageRank {

  private val Scale = 1000000000L           // 1e9: rank fixed-point scale
  private val Base = 150000000L             // 0.15 · Scale

  /** Unpersist every RDD persisted by prior dupPagerank calls (and all
    * other operator state: the drain is [[Memo.clearAll]]). */
  def clearMemos(): Unit = Memo.clearAll()

  /** Integer PageRank over an undirected (a_id, b_id) pair set. Output:
    * (doc_id, rank) for every doc appearing in a pair.
    *
    * r16: the loop moved from DataFrame joins to the co-partitioned RDD
    * formulation [[Dedup.clusterLabels]] documents — an iterative
    * fixpoint is the one shape the DataFrame API has no operator for,
    * and each DataFrame round paid a full Catalyst analyze + optimize +
    * shuffle-planning pass plus a sort-merge join. Here edges are keyed
    * by src and hash-partitioned ONCE (cached); ranks live on the SAME
    * partitioner, so the per-iteration join is narrow and the only
    * shuffle is the map-side-combined contribution sum — |nodes| rows.
    * The arithmetic is unchanged (integer floor divisions in the same
    * order: floor(rank/deg) per edge, then Base + 85·Σ div 100), so the
    * output is bit-identical — long addition is order-free, and the
    * oracle replays the identical iterations. */
  def dupPagerank(pairs: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val p = pairs.select(col("a_id").cast("long"), col("b_id").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val part = new org.apache.spark.HashPartitioner(
      math.max(4, sc.defaultParallelism / 4))
    // (src → dst), both directions, with deg(src) attached once: the
    // degree is a property of the src key, so it rides the edge
    // partitioning instead of re-joining per iteration
    val bothDirs = p.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
    val deg = bothDirs.mapValues(_ => 1L)
      .reduceByKey(part, _ + _)
    // every persisted RDD (edges + each ranks generation) registers
    // with Memo BEFORE any job runs on it, so repeated calls can't
    // accumulate dead cached blocks and an exception mid-iteration can
    // never strand a persisted-but-unregistered RDD (the in-loop
    // unpersist of the predecessor still runs; a second unpersist from
    // Memo.clearAll is a no-op)
    val edges = Memo.persist(bothDirs.partitionBy(part).join(deg)
      .mapValues { case (dst, d) => (dst, d) })
    edges.count() // materialize once; the pair plan compiles here only
    // rank₀ = Scale for every node (nodes = edge srcs)
    var ranks = Memo.persist(deg.mapValues(_ => Scale))
    for (_ <- 1 to iters) {
      val next = Memo.persist(edges.join(ranks)
        .map { case (_, ((dst, d), rank)) => (dst, rank / d) }
        .reduceByKey(part, _ + _)
        .mapValues(s => Base + 85 * s / 100))
      ranks.unpersist(blocking = false)
      ranks = next
    }
    spark.createDataFrame(ranks.map { case (idNode, rank) =>
      org.apache.spark.sql.Row(idNode, rank) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Gate entry: PageRank over the exact jaccard pair set (shared,
    * persisted computation with q28/q39/q63). */
  def dupPagerank(spark: SparkSession, dir: String): DataFrame =
    dupPagerank(Dedup.jaccardPairsCached(spark, dir, 0.8))

  /** Triangle + wedge census of the dup graph — the structure audit
    * next to [[dupPagerank]]'s ranking: triangles count closed
    * 3-cliques, wedges count length-2 paths, and 3·tri/wedges is the
    * global clustering coefficient (near-dup components should be
    * near-cliques — a low coefficient flags chained false merges, the
    * classic LSH-transitivity failure). Output: one row of exact
    * integers.
    *
    * Scale: the standard ordered-adjacency formulation — triangles are
    * counted only as a < b < c, so each is found exactly once; two
    * joins over the (small) pair set, both keyed on doc ids; wedges are
    * one degree aggregate. Everything is bounded by the pair set, never
    * the corpus. */
  def dupTriangles(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("a_id"), col("b_id"))
    val tri = p.as("e1")
      .join(p.as("e2"), col("e2.a_id") === col("e1.b_id"))
      .join(p.as("e3"),
        col("e3.a_id") === col("e1.a_id") &&
        col("e3.b_id") === col("e2.b_id"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = p.select(col("a_id").as("id"))
      .union(p.select(col("b_id").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val wedges = deg.agg(
      sum(expr("d * (d - 1) div 2")).cast("long").as("n_wedges"))
    tri.crossJoin(wedges)
  }

  /** Gate entry: triangle census over the shared exact pair set. */
  def dupTriangles(spark: SparkSession, dir: String): DataFrame =
    dupTriangles(Dedup.jaccardPairsCached(spark, dir, 0.8))

  /** DuckDB oracle for [[dupTriangles]]: same pair CTE, ordered
    * triangle join, degree-choose-2 wedges. */
  def dupTrianglesOracleSql(threshold: Double = 0.8): String =
    s"""WITH d AS (SELECT doc_id, source,
       |  list_distinct(string_split(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
       |    AS ws
       | FROM documents),
       |p AS (SELECT a_id, b_id FROM (
       | SELECT l.doc_id AS a_id, r.doc_id AS b_id,
       |  CAST(len(list_intersect(l.ws, r.ws)) AS DOUBLE) /
       |   (len(l.ws) + len(r.ws) - len(list_intersect(l.ws, r.ws))) AS jac
       | FROM d l, d r
       | WHERE l.source = r.source AND l.doc_id < r.doc_id) q
       | WHERE jac >= $threshold),
       |tri AS (SELECT count(*) AS n_triangles
       |        FROM p e1
       |        JOIN p e2 ON e2.a_id = e1.b_id
       |        JOIN p e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
       |deg AS (SELECT id, count(*) AS d FROM (
       |          SELECT a_id AS id FROM p
       |          UNION ALL SELECT b_id FROM p) u GROUP BY id),
       |w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
       |      FROM deg)
       |SELECT CAST(tri.n_triangles AS BIGINT) AS n_triangles, w.n_wedges
       |FROM tri, w""".stripMargin

  /** DuckDB oracle: the q28/q39 exact-pair CTE, then the iterations
    * unrolled — same integer floor divisions, necessarily identical. */
  def dupPagerankOracleSql(iters: Int = 3): String = {
    val iterCtes = (1 to iters).map { i =>
      // CAST: DuckDB's sum(BIGINT) widens to HUGEINT, which pandas
      // materializes as float64 and the driver hash then differs from
      // Spark's int64 even though every value is equal — pin the dtype
      s"""r$i AS (
         |  SELECT e.dst AS id,
         |    CAST($Base + 85 * sum(r${i - 1}.rank // deg.deg) // 100
         |         AS BIGINT) AS rank
         |  FROM e JOIN r${i - 1} ON e.src = r${i - 1}.id
         |         JOIN deg ON deg.id = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id, source,
       |  list_distinct(string_split(trim(regexp_replace(regexp_replace(
       |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
       |    AS ws
       | FROM documents),
       |p AS (SELECT a_id, b_id FROM (
       | SELECT l.doc_id AS a_id, r.doc_id AS b_id,
       |  CAST(len(list_intersect(l.ws, r.ws)) AS DOUBLE) /
       |   (len(l.ws) + len(r.ws) - len(list_intersect(l.ws, r.ws))) AS jac
       | FROM d l, d r
       | WHERE l.source = r.source AND l.doc_id < r.doc_id) q
       | WHERE jac >= 0.8),
       |e AS (SELECT a_id AS src, b_id AS dst FROM p
       |      UNION ALL SELECT b_id, a_id FROM p),
       |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
       |r0 AS (SELECT id, CAST($Scale AS BIGINT) AS rank FROM deg),
       |$iterCtes
       |SELECT id AS doc_id, rank FROM r$iters""".stripMargin
  }
}
