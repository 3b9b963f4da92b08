package perfbench

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.ext.{Dedup, Pipeline, TextAnalysis}

/** The batch corpus job over a generated `documents` corpus: seven
  * operator phases, each run cold (memos and caches reset before it) and
  * in order. A phase is the public operator call plus collecting its result
  * on the driver. The pass's results are written as parquet, with the repo's
  * own oracle SQL for each, for the DuckDB check in run.py. */
final class CorpusDedup(ctx: Ctx) {
  import ctx._

  /** (layer name, gate whose oracle SQL checks it, operator call) */
  private val phases: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("ext.TextAnalysis.quality", "q45_quality_filter", TextAnalysis.qualityFilter(_, _)),
    ("ext.Dedup.exact", "q24_dedup_exact", Dedup.exact(_, _)),
    ("ext.Dedup.minhash", "q26_dedup_minhash", Dedup.minhashLsh(_, _)),
    ("ext.Dedup.jaccard", "q28_jaccard_pairs", Dedup.jaccardPairs(_, _, 0.8)),
    ("ext.Dedup.containment", "q103_containment", Dedup.containmentPairs(_, _)),
    ("ext.Dedup.clusters", "q39_dedup_clusters", Dedup.dedupedCorpusExact(_, _, 0.8)),
    ("ext.Pipeline.clean", "q63_clean_corpus", Pipeline.cleanCorpus(_, _)))

  private def pass(dir: String, phases: Seq[(String, String, (SparkSession, String) => DataFrame)] = phases)
      : Seq[(Double, Double, Option[(DataFrame, Array[Row])])] =
    phases.map { case (name, _, fn) =>
      coldReset()
      val (res, ms, cpuMs) = timed(op(name) {
        tracer.span(name, name) {
          val df = fn(spark, dir)
          (df, df.collect())
        }
      })
      sampleStorage()
      (ms, cpuMs, res)
    }

  def setup(): Unit = {
    // the two cheapest phases on a small corpus: JVM and Spark warm-up
    // without paying a full pass in every set-up round
    pass(data.resolve("warm").toString, phases.take(2))
    coldReset()
  }

  val phaseMs = mutable.LinkedHashMap[String, Double]()
  var docs = 0L

  /** One cold pass; returns the JVM CPU ms of each phase (resets
    * excluded). */
  def run(): Seq[Double] = {
    docs = spark.read.parquet(s"$dataDir/documents.parquet").count()
    val results = pass(dataDir)
    phases.zip(results).foreach { case ((name, gate, _), (ms, _, res)) =>
      phaseMs(name) = ms
      info(s"$name.ms", ms)
      res.foreach { case (df, rows) =>
        if (tracer.enabled) interpreted(name) = Plans.interpretedExprs(df.queryExecution.executedPlan)
        spark.createDataFrame(rows.toSeq.asJava, df.schema)
          .coalesce(1).write.parquet(out.resolve(s"corpus/$gate").toString)
      }
    }
    Files.write(out.resolve("corpus/oracle.json"), Json.write(
      phases.map { case (_, gate, _) => gate -> SparkEntry.oracleSql(gate) }.toMap)
      .getBytes("UTF-8"))
    info("documents", docs.toDouble)
    info("corpus_docs_per_s", docs / (phaseMs.values.sum / 1e3))
    results.map(_._2)
  }

  private val interpreted = mutable.Map[String, Int]()

  def layers(): Unit = phases.foreach { case (name, _, _) =>
    val spans = tracer.named(name)
    val c = tracer.rollup(spans)
    val n = spans.size.max(1).toDouble
    layer(s"$name.ms", phaseMs(name))
    layer(s"$name.shuffle_write_bytes", c.shuffleWriteBytes / n)
    layer(s"$name.spill_bytes", c.spillBytes / n)
    layer(s"$name.tasks", c.tasks / n)
    layer(s"$name.executor_cpu_ms", c.cpuNs / 1e6 / n)
    layer(s"$name.driver_result_bytes", c.resultBytes / n)
    layer(s"$name.interpreted_exprs", interpreted.getOrElse(name, 0).toDouble)
  }
}
