package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the PIP dimension to one type: the main sources build a
  * `PipIndex` only in `operators/Dimension.scala` (and `PipIndex` itself),
  * hold no `"pipIndex"` memo slot, and declare `class Dimension` only in
  * that file.
  */
class OneDimensionSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val home = root.resolve("graft/operators/Dimension.scala")

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  private def offenders(pattern: String, allowed: Set[Path]): Seq[Path] =
    sources.collect { case (p, text) if !allowed(p) && pattern.r.findFirstIn(text).isDefined => p }

  test("the main sources are found, Dimension.scala among them") {
    assert(sources.size > 50 && sources.exists(_._1 == home))
  }

  test("a PipIndex is built only by Dimension and PipIndex") {
    assert(offenders("""PipIndex\s*\.\s*(of|build)\s*\(""",
      Set(home, root.resolve("graft/operators/PipIndex.scala"))).isEmpty)
  }

  test("no \"pipIndex\" memo slot") {
    assert(offenders("\"pipIndex\"", Set.empty).isEmpty)
  }

  test("class Dimension is declared only in operators/Dimension.scala") {
    assert(offenders("""\bclass\s+Dimension\b""", Set(home)).isEmpty)
  }
}
