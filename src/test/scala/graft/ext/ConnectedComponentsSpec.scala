package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Alternating-star CC (q113): agreement with a local union-find
  * reference on adversarial graph shapes, agreement with the label-prop
  * operator on the real pair set, and the diameter-proof property that
  * justifies the second algorithm's existence. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Local union-find ground truth: node -> component minimum. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.alternatingStarLabels(
        edges.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("path graph: converges without O(diameter) rounds") {
    // a 200-node chain has diameter 199 — label propagation would need
    // 199 rounds; alternating stars must finish in maxRounds = 20
    val chain = (1L until 200L).map(i => (i, i + 1))
    val labels = run(chain)
    assert(labels.values.toSet == Set(1L))
    assert(labels.size == 200)
  }

  test("mixed shapes match union-find: cliques, stars, chains, singleton pairs") {
    val clique = for (a <- 10L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val star = (31L to 39L).map(i => (30L, i))
    val chain = (50L to 60L).map(i => (i, i + 1))
    val bridge = Seq((14L, 30L)) // clique joined to star
    val pair = Seq((100L, 101L))
    val edges = clique ++ star ++ chain ++ bridge ++ pair
    assert(run(edges) == unionFind(edges))
  }

  test("reversed/duplicated/self edges do not perturb the labels") {
    val base = Seq((1L, 2L), (2L, 3L), (7L, 8L))
    val noisy = base ++ base.map(_.swap) ++ Seq((2L, 2L), (1L, 3L))
    assert(run(noisy) == unionFind(base))
  }

  test("real pair set: agrees with the label-propagation operator") {
    val pairs: DataFrame = Dedup.jaccardPairsCached(spark, sfDir, 0.8)
      .select("a_id", "b_id")
    val alt = ConnectedComponents.alternatingStarLabels(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lp = Dedup.clusterLabels(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(alt == lp)
  }

  test("an unconverged run strands no persisted RDD past Memo.clearAll") {
    val sc = spark.sparkContext
    Memo.clearAll()
    val before = sc.getPersistentRDDs.keySet
    // a 41-node chain does not contract to a star in one round
    val chain = (1L to 40L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      ConnectedComponents.alternatingStarLabels(chain, maxRounds = 1)
    }
    Memo.clearAll()
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"persisted RDDs left: ${left.mkString(",")}")
  }
}
