package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.{BeforeAndAfterAll, Suite}

/** The temp dirs a suite makes: each [[tmpDir]] is registered and deleted,
  * with everything under it, once the suite has run. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new ConcurrentLinkedQueue[Path]()

  /** A fresh dir under the JVM temp dir, deleted in `afterAll`. */
  def tmpDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir.toString
  }

  override def afterAll(): Unit =
    try made.forEach(d => TempDirs.deleteRecursively(d)) finally super.afterAll()
}

object TempDirs {
  /** Delete `root` and everything under it (children first); a missing
    * root is a no-op. Symbolic links are deleted, never followed. */
  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally walk.close()
    }
}
