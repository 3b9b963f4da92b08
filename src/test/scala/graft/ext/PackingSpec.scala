package graft.ext

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence-packing invariants on the real documents table, plus the
  * equality that justifies the hierarchical plan: the two-level prefix
  * sum must equal the plain single-window prefix sum row for row. */
class PackingSpec extends SparkSpec {

  /** Reference semantics for [[Packing.packedDocs]]: the plain
    * single-window prefix sum (single task per source at scale). */
  private def packedDocsNaive(documents: DataFrame,
                              seqLen: Int = 256): DataFrame = {
    val toks = documents
      .select(col("doc_id"), col("source"),
              split(TextAnalysis.normalized(col("text")), " ").as("ts"))
      .filter(size(col("ts")) > 0 && col("ts").getItem(0) =!= "")
      .select(col("doc_id"), col("source"),
              size(col("ts")).cast("long").as("n_toks"))
    toks.withColumn("start_off",
        coalesce(
          sum(col("n_toks")).over(
            Window.partitionBy(col("source")).orderBy(col("doc_id"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(
        col("doc_id"), col("source"), col("n_toks"), col("start_off"),
        (col("start_off") / seqLen).cast("long").as("pack_first"),
        ((col("start_off") + col("n_toks") - 1) / seqLen).cast("long")
          .as("pack_last"))
  }

  private lazy val packed = Packing.packedDocs(spark, sfDir).cache()

  test("hierarchical prefix sum equals the naive single-window result") {
    val naive = packedDocsNaive(Tables.load(spark, sfDir, "documents"))
    assert(packed.count() > 0)
    assert(packed.exceptAll(naive).isEmpty && naive.exceptAll(packed).isEmpty)
  }

  test("offsets are contiguous: each doc starts where the previous ended") {
    val rows = packed
      .select("source", "doc_id", "n_toks", "start_off")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    rows.foreach { case (source, docs) =>
      var expected = 0L
      docs.sortBy(_._2).foreach { case (_, doc, n, off) =>
        assert(off == expected, s"$source doc $doc: off=$off want=$expected")
        expected += n
      }
    }
  }

  test("pack ids follow from the offsets by integer arithmetic") {
    packed.collect().foreach { r =>
      val n = r.getAs[Long]("n_toks"); val off = r.getAs[Long]("start_off")
      assert(r.getAs[Long]("pack_first") == off / 256)
      assert(r.getAs[Long]("pack_last") == (off + n - 1) / 256)
      assert(n >= 1)
    }
  }

  test("every pack id up to the last is produced by some document") {
    // the concatenated stream has no holes, so the union of
    // [pack_first, pack_last] spans exactly [0, ceil(total/seqLen)-1]
    val bySource = packed.groupBy("source")
      .agg(sum("n_toks").as("total"), max("pack_last").as("last"))
      .collect()
    bySource.foreach { r =>
      val total = r.getAs[Long]("total"); val last = r.getAs[Long]("last")
      assert(last == (total - 1) / 256, s"${r.getString(0)}")
    }
  }

  test("no window over a whole source in the executed plan") {
    // the hierarchical plan's windows key on (source, bucket); only the
    // bucket-total window keys on source alone, and it sees the REDUCED
    // stream (after partial aggregation). Assert the full-cardinality
    // window is absent: every Window over [source] must sit above an
    // aggregate in the plan tree, which here means the plan contains a
    // HashAggregate below the source-partitioned window.
    val plan = packed.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("seqLen/bucketSize must be positive") {
    intercept[IllegalArgumentException] {
      Packing.packedDocs(spark, sfDir, seqLen = 0)
    }
    intercept[IllegalArgumentException] {
      Packing.packedDocs(spark, sfDir, bucketSize = -1)
    }
  }
}
