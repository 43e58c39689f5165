package graft.ops

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** JVM-local scratch directories: the one tree delete and the one
  * exit-time reclaim every staging site shares.
  */
object Scratch {

  /** Delete `root` and everything under it, children before parents.
    * Best effort: a tree that is already gone, or a file that cannot be
    * deleted, stops the walk without an error.
    */
  def deleteTree(root: Path): Unit =
    try {
      val walk = Files.walk(root)
      val paths = try walk.iterator().asScala.toList finally walk.close()
      paths.reverseIterator.foreach(Files.deleteIfExists(_))
    } catch { case NonFatal(_) => () }

  /** A fresh temp dir (absolute) that lives as long as the JVM: it is
    * deleted by a shutdown hook, not by the caller.
    */
  def scratchDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix).toAbsolutePath
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(dir)))
    dir
  }
}
