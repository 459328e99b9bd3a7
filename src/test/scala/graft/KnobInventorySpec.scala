package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable / system property read under `src/main`
  * must be documented in README.md's "Configuration" table, and every
  * name in that table must still be read. A knob added without a row
  * (or a row left behind by a deleted knob) fails the suite. The same
  * holds for the public per-instance switches of `class Engine` and the
  * field list in that section's closing paragraph.
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

  private def configSection(): List[String] = {
    val lines = Files.readAllLines(Paths.get("README.md")).asScala.toList
    val section = lines.dropWhile(_.trim != "## Configuration").drop(1)
      .takeWhile(l => !l.startsWith("## "))
    assert(section.nonEmpty, "README.md has no '## Configuration' section")
    section
  }

  private def readmeNames(): Set[String] = {
    val Row = """\|\s*`([^`]+)`\s*\|.*""".r
    configSection().collect { case Row(name) => name }.toSet
  }

  // member-level `var`s (two-space indent, optionally @volatile, no access
  // modifier) between `class Engine(` and `object Engine {`
  private def engineSwitches(): Set[String] = {
    val src = Files.readString(Paths.get("src/main/scala/graft/core/Engine.scala"))
    val start = src.indexOf("\nclass Engine(")
    val end = src.indexOf("\nobject Engine {")
    assert(start >= 0 && end > start, "class Engine / object Engine not found")
    """(?m)^  (?:@volatile )?var (\w+)""".r
      .findAllMatchIn(src.substring(start, end)).map(_.group(1)).toSet
  }

  private def readmeEngineFields(): Set[String] = {
    val para = configSection()
      .dropWhile(l => !l.startsWith("Engine behaviour that specs and evals switch"))
      .takeWhile(_.trim.nonEmpty).mkString(" ")
    assert(para.nonEmpty, "README Configuration has no engine field paragraph")
    """`(?:Engine\.)?(\w+)`""".r.findAllMatchIn(para).map(_.group(1)).toSet
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

  test("README Configuration lists exactly the public switches of class Engine") {
    val fields = engineSwitches()
    val documented = readmeEngineFields()
    assert(fields.nonEmpty && documented.nonEmpty)
    assert(fields == documented,
      s"Engine public vars ${fields.toSeq.sorted} != README fields ${documented.toSeq.sorted}")
  }
}
