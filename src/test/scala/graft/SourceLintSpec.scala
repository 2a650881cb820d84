package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source LINT over `src/main`: invariants a plan cannot show, swept over
  * every main source file so a new call site cannot quietly regress them.
  *
  *  - no `Configuration` is constructed outside [[HadoopConf]]: each fresh
  *    one re-parses Hadoop's default XML resources (8–12 ms a call), which
  *    was most of the driver time of small N5 reads.
  */
class SourceLintSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")

  private def sources: Seq[Path] =
    Files.walk(main).toArray.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".scala")).toSeq

  test("no Hadoop Configuration is built outside the one HadoopConf holder") {
    val holder = main.resolve("graft/HadoopConf.scala")
    assert(Files.exists(holder), s"$holder moved: update this lint")
    val ctor = """new\s+(org\.apache\.hadoop\.conf\.)?Configuration\s*\(""".r
    val offenders = for {
      f <- sources if f != holder
      (line, i) <- Files.readAllLines(f).toArray.map(_.toString).zipWithIndex
      if ctor.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(sources.size > 50, s"lint saw only ${sources.size} files under $main")
    assert(offenders.isEmpty,
      s"construct no Configuration outside HadoopConf (use HadoopConf.shared " +
        s"or HadoopConf.fs):\n${offenders.mkString("\n")}")
  }
}
