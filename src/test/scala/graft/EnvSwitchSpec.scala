package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Environment variables configure the command-line mains only. A
  * `sys.env` read anywhere else is a process-global switch inside
  * library code — the shape that kept measured-and-rejected alternate
  * paths alive — so this spec fails on any such read in a source file
  * under `src/main/scala/graft` that defines no `def main`. Settings a
  * library needs come in through `graft.toml` and the config objects.
  * The set of mains is pinned too, so a new one-off program shows up
  * as a failing test instead of as one more entry point. */
class EnvSwitchSpec extends AnyFunSuite {

  private val EnvRead = """\bsys\.env\b|\bSystem\.getenv\b""".r
  private val MainDef = """\bdef\s+main\s*\(""".r

  private def mainSources: Path = {
    val start = Paths.get(sys.props("user.dir")).toAbsolutePath
    Iterator.iterate(start)(_.getParent).takeWhile(_ != null)
      .map(_.resolve("src/main/scala/graft"))
      .find(Files.isDirectory(_))
      .getOrElse(fail(s"src/main/scala/graft not found walking up from $start"))
  }

  private def sources: Seq[(Path, Seq[String])] = {
    val root = mainSources
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(files.sizeIs > 50, s"expected the graft sources under $root")
    files.map(f => (root.relativize(f), Files.readAllLines(f).asScala.toSeq))
  }

  private def definesMain(lines: Seq[String]): Boolean =
    lines.exists(MainDef.findFirstIn(_).isDefined)

  test("no sys.env read outside a file that defines a main") {
    val offenders = sources.flatMap { case (f, lines) =>
      if (definesMain(lines)) Nil
      else lines.zipWithIndex.collect {
        case (l, i) if EnvRead.findFirstIn(l).isDefined =>
          s"$f:${i + 1}: ${l.trim}"
      }
    }
    assert(offenders.isEmpty,
      "env switches outside a main (read the setting in the main, or add it to " +
        "graft.toml):\n" + offenders.mkString("\n"))
  }

  test("the mains are exactly the product entry points, ScaleUp and the two stage probes") {
    val mains = sources.collect { case (f, lines) if definesMain(lines) => f.toString }.toSet
    assert(mains == Set("Bench.scala", "BenchServe.scala", "Verify.scala", "Cli.scala",
      "ScaleUp.scala", "queries/LedgerProbe.scala", "queries/CleanServeProbe.scala"),
      "a new main is a new entry point: measure through perfbench or the bench " +
        "JSON instead, or add it here on purpose")
  }
}
