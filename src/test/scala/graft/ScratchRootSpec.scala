package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class ScratchRootSpec extends AnyFunSuite {
  test("the shutdown hook's body deletes the root and every directory made under it") {
    val s = new ScratchRoot("graft_scratch_spec")
    val a = s.dir("a")
    val b = s.dir("b")
    Files.write(a.resolve("model.arpa"), "x".getBytes(UTF_8))
    Files.createDirectories(b.resolve("table/part"))
    assert(a.getParent == s.root && b.getParent == s.root && a != b)
    s.delete()
    assert(!Files.exists(s.root), s.root.toString)
    s.delete() // a second run (an explicit delete, then the hook) is a no-op
  }

  test("the artifact queries make their directories under one root") {
    val d = QueriesPipeline.scratch.dir("spec")
    assert(Files.isDirectory(d) && d.getParent == QueriesPipeline.scratch.root)
  }
}
