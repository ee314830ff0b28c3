package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.scratch` removes the completed scratch roots a new root
  * supersedes, and nothing else. */
class ScratchSpec extends AnyFunSuite {

  private def dir(parent: Path, name: String, done: Boolean): Path = {
    val d = Files.createDirectories(parent.resolve(name))
    Files.write(d.resolve("part-0"), Array[Byte](1, 2, 3))
    if (done) Files.write(d.resolve("DONE"), Array.empty[Byte])
    d
  }

  test("a new root's DONE rename removes its completed older siblings only") {
    val parent = Files.createTempDirectory("graft_scratch_spec")
    try {
      val tag = "_root_testdata_sf0.001"
      val older = dir(parent, s"graft_osc_${tag}_1e3de00c4c5fd82f50a951ddb853ba8e", done = true)
      val kept = Seq(
        // no DONE marker: a root still being renamed into place elsewhere
        dir(parent, s"graft_osc_${tag}_00aa", done = false),
        // another process's work dir, for this and for an older fingerprint
        dir(parent, s"graft_osc_${tag}_77ff_w123_456", done = true),
        dir(parent, s"graft_osc_${tag}_1e3de00c4c5fd82f50a951ddb853ba8e_w9_10", done = false),
        // another kind, another sf dir, another sf dir whose tag extends ours
        dir(parent, s"graft_pbf_${tag}_1e3de00c4c5fd82f", done = true),
        dir(parent, "graft_osc__root_testdata_sf0.01_1e3de00c4c5fd82f", done = true),
        dir(parent, s"graft_osc_${tag}_b_1e3de00c4c5fd82f", done = true))
      val root = parent.resolve(s"graft_osc_${tag}_2f0c").toString
      var builds = 0
      def build(work: String): Unit = {
        builds += 1
        Files.createDirectories(Path.of(work))
        Files.write(Path.of(work, "part-0"), Array[Byte](4))
      }
      assert(SparkEntry.scratch(root)(build) == root)
      assert(Files.exists(Path.of(root, "DONE")) && Files.readAllBytes(Path.of(root, "part-0")).toSeq == Seq[Byte](4))
      assert(!Files.exists(older))
      kept.foreach(d => assert(Files.exists(d.resolve("part-0")), d))
      // a completed root is served as it is
      assert(SparkEntry.scratch(root)(build) == root && builds == 1)
    } finally {
      val walk = Files.walk(parent)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }
}
