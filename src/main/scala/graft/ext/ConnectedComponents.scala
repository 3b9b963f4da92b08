package graft.ext

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Connected components by ALTERNATING STARS (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
  * MapReduce and Beyond", SoCC 2014): the provable-convergence
  * counterpart to [[Dedup.clusterLabels]]'s min-label propagation.
  * Label propagation needs O(component diameter) rounds — fine for the
  * near-clique clusters near-dup detection produces, but a chained
  * duplicate path (doc A ~ B ~ C ~ … at threshold) has diameter equal
  * to its length, and at 100 TB a pathological chain means hundreds of
  * shuffles. Alternating large-star/small-star rounds contract every
  * component to a star in O(log n) rounds REGARDLESS of diameter —
  * each round hooks whole subtrees to local minima rather than moving
  * labels one hop.
  *
  * Same execution discipline as clusterLabels (the documented RDD
  * exception to "DataFrames everywhere" — a driver-side iterative
  * fixpoint pays a Catalyst replan per round on DataFrames): edges are
  * hash-partitioned once and every round's reduceByKey/join reuses the
  * partitioner; per-round shuffle volume is O(|edges|), and the edge
  * set only shrinks toward the star form. Nothing collects to the
  * driver but the per-round convergence flag.
  */
object ConnectedComponents {

  private type E = RDD[(Long, Long)]

  /** One star round over the SYMMETRIC adjacency: for every node u
    * with m = min(neighbors ∪ {u}), re-link the selected neighbors to
    * m. Large-star selects the strictly-larger neighbors (and keeps
    * smaller ones for their own adjacency's round); small-star
    * re-links the not-larger neighbors and u itself. Output is the
    * canonical (child > parent) directed edge set. */
  private def star(sym: E, part: HashPartitioner, large: Boolean): E = {
    val m = sym.reduceByKey(part, math.min(_: Long, _: Long))
      .map { case (u, minNbr) => (u, math.min(u, minNbr)) }
    val relinked = sym.join(m).flatMap { case (u, (v, mm)) =>
      if (large) {
        if (v > u && v != mm) Iterator((v, mm)) else Iterator.empty
      } else {
        if (v < u && v != mm) Iterator((v, mm)) else Iterator.empty
      }
    }
    val self = if (large) relinked
      else relinked.union(m.flatMap { case (u, mm) =>
        if (u != mm) Iterator((u, mm)) else Iterator.empty })
    self.distinct(part.numPartitions)
  }

  private def symmetrize(e: E, part: HashPartitioner): E =
    e.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part)

  /** Component labels (node → component-minimum id) for the undirected
    * pair set (`a_id`, `b_id`). Output schema matches
    * [[Dedup.clusterLabels]] — the two algorithms are interchangeable
    * and spec-checked equal. */
  def alternatingStarLabels(pairs: DataFrame,
                            maxRounds: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val part = new HashPartitioner(math.max(4, sc.defaultParallelism / 4))
    val p0 = pairs.select(col("a_id").cast("long"), col("b_id").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    // every input node must survive to the label set even if its edges
    // contract away mid-run — track the node universe once. Every
    // persisted RDD (nodes, edges, each round's `next`) registers with
    // Memo before any job runs on it, so a run that exceeds maxRounds
    // or fails mid-round strands nothing past Memo.clearAll
    val nodes = Memo.persist(p0.flatMap { case (a, b) => Iterator(a, b) }
      .distinct(part.numPartitions))
    var edges: E = Memo.persist(p0.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.max(a, b), math.min(a, b)) }
      .distinct(part.numPartitions))
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val afterLarge = star(symmetrize(edges, part), part, large = true)
      val next = Memo.persist(
        star(symmetrize(afterLarge, part), part, large = false))
      // converged when the canonical edge set is a fixpoint: same count
      // and no edge outside the previous set (subtract on the smaller
      // of the two directions suffices since counts match)
      val stable = next.count() == edges.count() &&
        next.subtract(edges, part.numPartitions).isEmpty()
      edges.unpersist(blocking = false)
      edges = next
      converged = stable
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"alternatingStarLabels did not converge in $maxRounds rounds")
    // star form: every non-root points straight at its component min
    val labels = symmetrize(edges, part)
      .reduceByKey(part, math.min(_: Long, _: Long))
      .map { case (u, mm) => (u, math.min(u, mm)) }
    val full = nodes.map(n => (n, n))
      .leftOuterJoin(labels, part)
      .map { case (n, (_, l)) => (n, l.getOrElse(n)) }
    nodes.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    spark.createDataFrame(
      full.map { case (n, l) => Row(n, l) },
      StructType(Seq(StructField("id", LongType, nullable = false),
                     StructField("label", LongType, nullable = false))))
  }

  /** Gate: alternating-star labels over the exact jaccard pair set —
    * identical output contract to the q39 clustering, different (and
    * diameter-proof) algorithm. */
  def exactPairComponents(spark: SparkSession, dir: String,
                          threshold: Double = 0.8): DataFrame =
    alternatingStarLabels(
      Dedup.jaccardPairsCached(spark, dir, threshold)
        .select(col("a_id"), col("b_id")))

  /** DuckDB oracle: the q39 recursive min-label closure, emitted as
    * (id, label) directly. */
  def exactPairComponentsOracleSql(threshold: Double = 0.8): String =
    s"""WITH RECURSIVE d AS (SELECT doc_id, source,
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
       |e AS (SELECT a_id AS src, b_id AS dst FROM p
       |      UNION SELECT b_id, a_id FROM p),
       |reach(id, label) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.src, r.label FROM e JOIN reach r ON e.dst = r.id)
       |SELECT id, min(label) AS label FROM reach GROUP BY id""".stripMargin
}
