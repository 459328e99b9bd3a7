package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The coded table's on-disk format is a decision only `core/CodedStore`
  * makes: `core/Engine.scala` keeps the lifecycle (locks, catalog commits,
  * routing) and must not name the layout fields or the bucket dirs. A
  * change that lets the format leak back into the lifecycle code fails
  * the suite here.
  */
class LayoutInventorySpec extends AnyFunSuite {

  private val LayoutNames =
    Seq("codedBucketShift", "codedOwners", "ownerVersions", "cluster_bucket")

  test("core/Engine.scala names none of the coded layout's fields or dirs") {
    val path = Paths.get("src/main/scala/graft/core/Engine.scala")
    assert(Files.isRegularFile(path), s"run from the repo root (no $path)")
    val lines = Files.readString(path).split("\n").zipWithIndex
    val leaks = for {
      (line, i) <- lines.toSeq
      name <- LayoutNames if line.contains(name)
    } yield s"Engine.scala:${i + 1}: $name"
    assert(leaks.isEmpty, s"layout knowledge outside CodedStore:\n${leaks.mkString("\n")}")
    // and the store that owns it still does
    val store = Files.readString(Paths.get("src/main/scala/graft/core/CodedStore.scala"))
    LayoutNames.foreach(n => assert(store.contains(n), s"CodedStore no longer names $n"))
  }

  // A trained single query has one plan-surface route: the plan-free
  // ServingScan. These named the retired Catalyst chunk-union route and
  // its relation-option predicate injection.
  private val RetiredRoute = Seq("coarseSingleChunked", "servingCustomScan",
    "withReadOptions", "injectedIntInOptions", "servingSession", "store.chunks")

  test("src/main names none of the retired single-query chunk-union route") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repo root (no $main)")
    import scala.jdk.CollectionConverters._
    val files = Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val hits = for {
      f <- files
      (line, i) <- Files.readString(f).split("\n").zipWithIndex.toSeq
      name <- RetiredRoute if line.contains(name)
    } yield s"$f:${i + 1}: $name"
    assert(hits.isEmpty, s"retired route named in src/main:\n${hits.mkString("\n")}")
  }

  // The PCA fit calls netlib directly: Breeze's first use cost most of a
  // cold fit. Breeze stays on the classpath (Opq uses it) and in the
  // test-scope reference (PcaFitSpec), not in the fit: no `breeze`
  // package name in the file.
  test("index/Pca.scala names no Breeze") {
    val path = Paths.get("src/main/scala/graft/index/Pca.scala")
    assert(Files.isRegularFile(path), s"run from the repo root (no $path)")
    val hits = Files.readString(path).split("\n").zipWithIndex.toSeq.collect {
      case (line, i) if line.contains("breeze") => s"Pca.scala:${i + 1}: $line"
    }
    assert(hits.isEmpty, s"Breeze named in the PCA fit:\n${hits.mkString("\n")}")
  }

  // The ADC block arithmetic lives in one kernel (index/AdcKernel.scala,
  // index/SimdAdc.java). An unrolled 8-wide block sum — an eighth-lane
  // offset `+ 7)` or an eighth squared term `e7 * e7` — in a serving file
  // means a hand copy of it is back.
  private val Unrolled8 = Seq("""\+ 7\)""".r, """\b([a-z]+)7 \* \1[7]\b""".r)

  test("the serving operators hold no hand copy of the 8-wide ADC block sum") {
    def hits(f: String) = {
      val path = Paths.get(f)
      assert(Files.isRegularFile(path), s"run from the repo root (no $path)")
      Files.readString(path).split("\n").zipWithIndex.toSeq.collect {
        case (line, i) if Unrolled8.exists(_.findFirstIn(line).isDefined) =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    val copies = Seq("src/main/scala/graft/operators/PreparedANN.scala",
      "src/main/scala/graft/operators/BatchANN.scala").flatMap(hits)
    assert(copies.isEmpty, s"unrolled ADC block sum outside the kernel:\n${copies.mkString("\n")}")
    // and the patterns still recognise the kernel's own scalar tree
    assert(hits("src/main/scala/graft/index/AdcKernel.scala").nonEmpty)
  }

  // A prepared handle holds one copy of each thing it serves: its pinned
  // rows in ONE form picked at build time, the engine's deletes cache,
  // the engine's refresh window. These named the lazy second copy of the
  // rows, its switch, the handle's own deletes snapshot and the
  // per-handle refresh window.
  private val SecondCopies =
    Seq("localServe", "localBlocks", "deletedSnapshot", "addsRefreshIntervalMs")

  test("core/PreparedIndex.scala names no second copy of what it serves") {
    val path = Paths.get("src/main/scala/graft/core/PreparedIndex.scala")
    assert(Files.isRegularFile(path), s"run from the repo root (no $path)")
    val hits = for {
      (line, i) <- Files.readString(path).split("\n").zipWithIndex.toSeq
      name <- SecondCopies if line.contains(name)
    } yield s"PreparedIndex.scala:${i + 1}: $name"
    assert(hits.isEmpty, s"second copy named in the handle:\n${hits.mkString("\n")}")
  }
}
