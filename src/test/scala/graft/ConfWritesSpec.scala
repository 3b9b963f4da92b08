package graft

import org.scalatest.funsuite.AnyFunSuite

/** Operators never write the caller's session conf: decisions are
  * arguments, and the settings Spark reads only from the session go
  * through the one scope, `graft.ops.SessionConf.scoped`. This scans
  * `src/main/scala` for every direct conf write and fails, naming file
  * and line, on any write outside the known ones:
  *   - the scope helper itself;
  *   - the two `spark.sql.legacy.parquet.nanosAsLong` sets, which can
  *     never be restored (see `SessionConf`);
  *   - `GraftExtensions`' `SparkEnv` `setIfMissing` of the class-cache
  *     size, which runs before the session's conf exists.
  *
  * The same scan takes the census of knobs main reads: no JVM system
  * property or environment variable beyond the temp dir and the
  * `SPARK_GRAFT_*` deployment settings of the mains, and no
  * `spark.graft.*` conf key beyond the known ones. */
class ConfWritesSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")

  private val confWrite = ("""\bconf\s*\.\s*(set|unset|setIfMissing)\s*\(""" +
    """|\bsetConfString\s*\(|(?i:\bsql\(\s*"\s*(re)?set\s)""").r

  /** (path under `root`, line number, line) of every non-comment line
    * `pattern` matches. */
  private def scan(pattern: scala.util.matching.Regex)
      : Seq[(String, Int, String)] = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val rootPath = root.toPath
    files(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      lines.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined &&
            !line.trim.startsWith("//") && !line.trim.startsWith("*") =>
          (rootPath.relativize(f.toPath).toString, i + 1, line.trim)
      }
    }
  }

  private def allowed(path: String, line: String): Option[String] =
    path match {
      case "graft/ops/SessionConf.scala" => Some("scope")
      case "graft/Tables.scala" | "graft/streaming/Streams.scala"
          if line.contains("spark.sql.legacy.parquet.nanosAsLong") =>
        Some("nanosAsLong")
      case "graft/functions/GraftExtensions.scala"
          if line.contains("SparkEnv") && line.contains("setIfMissing") =>
        Some("SparkEnv")
      case _ => None
    }

  test("main writes the session conf only through the one scope") {
    assert(root.isDirectory, s"run from the repo root: no $root")
    val found = scan(confWrite)
    val stray = found.filter { case (p, _, l) => allowed(p, l).isEmpty }
    if (stray.nonEmpty) fail(
      "direct session-conf writes outside SessionConf.scoped:\n" +
        stray.map { case (p, n, l) => s"  $p:$n: $l" }.mkString("\n"))
    // the scan must see the known writes, or it proves nothing
    val kinds = found.flatMap { case (p, _, l) => allowed(p, l) }
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(kinds.getOrElse("scope", 0) >= 2, s"scope writes not found: $kinds")
    assert(kinds.get("nanosAsLong").contains(2), s"kinds: $kinds")
    assert(kinds.get("SparkEnv").contains(1), s"kinds: $kinds")
  }

  private val knobRead =
    """\bsys\s*\.\s*(props|env)\b|\bSystem\s*\.\s*(getProperty|getenv)\b""".r
  private val graftKey = """spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]""".r

  /** The `spark.graft.*` keys main reads. */
  private val graftKeys = Set(
    "spark.graft.dedup.broadcastVerifyBytes",
    "spark.graft.dedup.probeSampleFraction",
    "spark.graft.dedup.exactProbeThreshold",
    "spark.graft.dedup.pairBudget",
    "spark.graft.decorrelate.maxPairs",
    "spark.graft.shuffle.targetPartitionBytes")

  private def allowedRead(path: String, line: String): Boolean =
    line.contains("\"java.io.tmpdir\"") ||
      (line.contains("\"SPARK_GRAFT_") && Set("graft/Bench.scala",
        "graft/Verify.scala", "graft/cli/Repl.scala").contains(path))

  test("main reads no knob beyond the known settings") {
    assert(root.isDirectory, s"run from the repo root: no $root")
    val reads = scan(knobRead)
    val strayReads = reads.filterNot { case (p, _, l) => allowedRead(p, l) }
    val keys = scan(graftKey).flatMap { case (p, n, l) =>
      graftKey.findAllIn(l).map((p, n, _)) }
    val strayKeys = keys.filterNot { case (_, _, k) => graftKeys(k) }
    val stray =
      strayReads.map { case (p, n, l) => s"  $p:$n: $l" } ++
        strayKeys.map { case (p, n, k) => s"  $p:$n: $k" }
    if (stray.nonEmpty) fail("system-property/environment reads or " +
      "spark.graft keys outside the known ones:\n" + stray.mkString("\n"))
    // the scan must see the known reads and keys, or it proves nothing
    assert(reads.exists(_._3.contains("java.io.tmpdir")), s"reads: $reads")
    assert(reads.exists(_._3.contains("SPARK_GRAFT_")), s"reads: $reads")
    assert(keys.map(_._3).toSet == graftKeys, s"keys: $keys")
  }
}
