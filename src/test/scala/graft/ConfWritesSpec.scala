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
  *     size, which runs before the session's conf exists. */
class ConfWritesSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")

  private val confWrite = ("""\bconf\s*\.\s*(set|unset|setIfMissing)\s*\(""" +
    """|\bsetConfString\s*\(|(?i:\bsql\(\s*"\s*(re)?set\s)""").r

  /** (path under `root`, line number, line) of every conf write. */
  private def writes(): Seq[(String, Int, String)] = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val rootPath = root.toPath
    files(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      lines.zipWithIndex.collect {
        case (line, i) if confWrite.findFirstIn(line).isDefined &&
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
    val found = writes()
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
}
