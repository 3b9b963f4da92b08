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
  * different numbers; under AQE, whole-stage codegen ids and query-stage
  * ids follow the order stages are planned and finish, so two runs of
  * one plan can differ. All four are renumbered within each dump (see
  * [[renumbered]]), and the source line of an RDD's call site
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

  /** Counters a plan prints that depend on what ran before it or on the
    * order its stages finished, each as (kept text, id): expression ids
    * `#n`, `plan_id=n`, and AQE query-stage ids (the `Arguments: n` line
    * of a `...QueryStage` node; a node's lines end at the blank line
    * before the next node). */
  private val counters = Seq(
    "(#)(\\d+)",
    "(plan_id=)(\\d+)",
    "(QueryStage\\n(?:[^\\n]+\\n)*?Arguments: )(\\d+)").map(_.r)

  private val codegenId = "(\\[codegen id : |\\*\\()(\\d+)".r
  private val nodeHeader = "^\\(\\d+\\) ".r

  /** `plan` with every counter replaced by its rank of first appearance
    * (each kind counted on its own), whole-stage codegen ids renumbered
    * by run, and `.scala:n` call-site lines dropped.
    *
    * Codegen ids (`[codegen id : n]`, and the `*(n)` markers of the
    * other explain modes) are counted per AQE stage compilation, so
    * stages planned in a different order share different ids, and a
    * rank of first appearance still differs. Each run of consecutive
    * nodes carrying one id takes the next number instead; a node
    * without an id ends the run. */
  private[tools] def renumbered(plan: String): String = {
    val ranked =
      counters.foldLeft(plan.replaceAll("\\.scala:\\d+", ".scala")) {
        (text, counter) =>
          val ids = scala.collection.mutable.LinkedHashMap[String, Int]()
          counter.replaceAllIn(text, m =>
            scala.util.matching.Regex.quoteReplacement(
              m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size)))
      }
    var run = -1
    var last: Option[String] = None
    ranked.split("\n", -1).map { line =>
      codegenId.findFirstMatchIn(line) match {
        case Some(m) =>
          if (!last.contains(m.group(2))) run += 1
          last = Some(m.group(2))
          m.before.toString + m.group(1) + run + m.after
        case None =>
          if (nodeHeader.findFirstIn(line).isDefined) last = None
          line
      }
    }.mkString("\n")
  }
}
