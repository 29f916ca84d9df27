package graft.core

import java.nio.file.{Files, Path, Paths}

/** Scratch space for files that a returned frame reads lazily: the
  * harness query builders and [[GSession.loadFromUrl]] write inputs that
  * are scanned only when an action runs, so they cannot delete them
  * themselves. Everything goes under one root directory, which
  * [[delete]] removes recursively.
  */
final class TempRoot(parent: Path) {
  val root: Path = Files.createTempDirectory(parent, "graft")

  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  def file(prefix: String, suffix: String): Path =
    Files.createTempFile(root, prefix, suffix)

  /** Deletes the root and everything under it. */
  def delete(): Unit = if (Files.exists(root)) {
    val paths = Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally paths.close()
  }
}

object TempRoot {

  /** The per-JVM root under `java.io.tmpdir`, deleted at JVM exit. */
  lazy val jvm: TempRoot = {
    val t = new TempRoot(Paths.get(System.getProperty("java.io.tmpdir")))
    sys.addShutdownHook(t.delete())
    t
  }
}
