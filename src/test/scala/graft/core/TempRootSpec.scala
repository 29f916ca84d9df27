package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class TempRootSpec extends AnyFunSuite {

  test("scratch dirs and files live under one root; delete removes the root") {
    val parent = Files.createTempDirectory("temproot-spec")
    try {
      val t = new TempRoot(parent)
      val d = t.dir("graft-sink")
      Files.createDirectories(d.resolve("part/n_regionkey=1"))
      Files.writeString(d.resolve("part/n_regionkey=1/a.parquet"), "x")
      val f = t.file("graft-url", ".tsv")
      assert(d.getParent == t.root && f.getParent == t.root)
      assert(t.root.getParent == parent)
      t.delete()
      assert(!Files.exists(t.root))
      t.delete() // idempotent: the JVM exit hook may run after an explicit delete
    } finally Files.deleteIfExists(parent)
  }

  test("the per-JVM root sits under java.io.tmpdir") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    assert(TempRoot.jvm.root.getParent == tmp)
    assert(TempRoot.jvm.dir("graft-e2g").getParent == TempRoot.jvm.root)
  }
}
