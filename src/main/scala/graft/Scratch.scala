package graft

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

/** The one owner of scratch directories. Every temp dir the engine, its
  * tools and its tests make lies under one root per JVM, made on first
  * use under `java.io.tmpdir` and removed by one shutdown hook. A dir
  * that serves one call comes from [[within]] and is deleted when the
  * call returns or throws; a dir that must outlive the call (a staged
  * index, a stage cache, a staging that a lazy plan still reads) comes
  * from [[held]] and goes with the root. */
private[graft] object Scratch {

  private[graft] lazy val root: Path = {
    val r = Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(r)))
    r
  }

  /** Runs `f` in a fresh dir, deleted when `f` returns or throws. What
    * `f` returns must not read from the dir: pin it. */
  def within[T](prefix: String)(f: Path => T): T = {
    val dir = held(prefix)
    try f(dir) finally delete(dir)
  }

  /** A fresh dir that lives until the JVM exits. */
  def held(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Deletes `p` and everything under it, best effort. Links are not
    * followed: a link is removed and its target is left alone. */
  def delete(p: Path): Unit =
    Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path,
          a: BasicFileAttributes): FileVisitResult = {
        quietly(f); FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path,
          e: IOException): FileVisitResult = FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path,
          e: IOException): FileVisitResult = {
        quietly(d); FileVisitResult.CONTINUE
      }
    })

  private def quietly(p: Path): Unit =
    try { Files.deleteIfExists(p); () }
    catch { case _: IOException => () }
}
