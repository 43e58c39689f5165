package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.ops.Scratch
import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

/** Temp dirs for a spec's tests: each dir `tempDir` makes is deleted, with
  * everything under it, when the test that made it ends, whether it
  * passed or not. A fixture shared by several tests lives as long as the
  * JVM instead (`Scratch.scratchDir`).
  */
trait TempDirs extends TestSuiteMixin { this: TestSuite =>

  private val made = new ConcurrentLinkedQueue[Path]()

  /** A fresh absolute temp dir named `prefix…`, deleted at the test's end. */
  protected def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix).toAbsolutePath
    made.add(dir)
    dir
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally Iterator.continually(made.poll()).takeWhile(_ != null).foreach(Scratch.deleteTree)
}
