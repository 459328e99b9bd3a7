package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable / system property read under `src/main`
  * must be documented in README.md's "Configuration" table, and every
  * name in that table must still be read. A knob added without a row
  * (or a row left behind by a deleted knob) fails the suite.
  */
class KnobInventorySpec extends AnyFunSuite {

  // string literals handed to sys.env(...), sys.env.get/getOrElse/contains
  // and sys.props(...)/get/getOrElse/contains — the only read forms the
  // codebase uses; whitespace (incl. a line break) may precede the literal
  private val ReadPattern =
    """sys\.(?:env|props)(?:\.(?:get|getOrElse|contains))?\(\s*"([^"]+)"""".r

  private def sourcesRead(): Set[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toList
    files.flatMap { p =>
      ReadPattern.findAllMatchIn(Files.readString(p)).map(_.group(1))
    }.toSet
  }

  private def readmeNames(): Set[String] = {
    val lines = Files.readAllLines(Paths.get("README.md")).asScala.toList
    val section = lines.dropWhile(_.trim != "## Configuration").drop(1)
      .takeWhile(l => !l.startsWith("## "))
    assert(section.nonEmpty, "README.md has no '## Configuration' section")
    val Row = """\|\s*`([^`]+)`\s*\|.*""".r
    section.collect { case Row(name) => name }.toSet
  }

  test("README Configuration table lists exactly the knobs src/main reads") {
    val read = sourcesRead()
    val documented = readmeNames()
    assert(read.nonEmpty && documented.nonEmpty)
    val undocumented = read -- documented
    val stale = documented -- read
    assert(undocumented.isEmpty,
      s"read under src/main but missing from README Configuration: ${undocumented.toSeq.sorted}")
    assert(stale.isEmpty,
      s"listed in README Configuration but no longer read: ${stale.toSeq.sorted}")
  }
}
