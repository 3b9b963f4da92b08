package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only plan capture: writes `.explain("formatted")` of named gates
  * to files (for the optimization-round before/after plan evidence).
  *
  * Usage: Test/runMain graft.tools.PlanDump <outDir> <suffix> qNN [qNN...]
  *   → <outDir>/<gate>_<suffix>.txt per gate. A gate is named in full
  *   (`q26_dedup_minhash`) or by its number (`q26`).
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1).
  *
  * Expression ids (`#123`) and plan ids (`plan_id=45`) are session-wide
  * counters, so the same plan built after different earlier work prints
  * different numbers. Both are renumbered in order of first appearance
  * within each dump, and the source line of an RDD's call site
  * (`Dedup.scala:1204`) is dropped: dumps of two commits with the same
  * suffix then `diff -r` to nothing when their plans match.
  *
  * Same session shape as Bench (local[32], 32 shuffle partitions) so the
  * captured plans are the benched plans. Streaming gates run their query
  * to a bounded sink first (the plan of interest is the one the sink
  * table's DataFrame carries afterwards).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <suffix> <gate> [gate...]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val gates = args.drop(2)
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val queries = graft.SparkEntry.queries
    gates.flatMap { g =>
      val hits = queries.keys.filter(k => k == g || k.startsWith(g + "_"))
      require(hits.nonEmpty, s"no gate named $g")
      hits.toSeq.sorted
    }.foreach { name =>
      val df = queries(name)(spark, sfDir)
      val plan = renumbered(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      java.nio.file.Files.write(
        outDir.resolve(s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote ${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }

  /** `plan` with every `#n` and `plan_id=n` replaced by its rank of first
    * appearance (each kind counted on its own), and `.scala:n` call-site
    * lines dropped. */
  private[tools] def renumbered(plan: String): String =
    Seq("#" -> "#(\\d+)", "plan_id=" -> "plan_id=(\\d+)")
      .foldLeft(plan.replaceAll("\\.scala:\\d+", ".scala")) {
        case (text, (prefix, pattern)) =>
          val ids = scala.collection.mutable.LinkedHashMap[String, Int]()
          pattern.r.replaceAllIn(text, m =>
            prefix + ids.getOrElseUpdate(m.group(1), ids.size))
      }
}
