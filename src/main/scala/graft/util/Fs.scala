package graft.util

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption}
import java.util.{Comparator, UUID}
import scala.jdk.CollectionConverters._

/** The engine's filesystem primitives: every directory listing and every
  * durable small-file write (metadata, manifests, lineage) goes through
  * here, so each has one implementation to harden or fault-inject. */
object Fs {
  /** Depth-first recursive delete; closes the walk stream (an unclosed
    * Files.walk leaks a directory file descriptor per call — noticeable in
    * long-lived bench JVMs cycling trial tables). No-op if absent. */
  def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    val walk = Files.walk(p)
    try walk.sorted(Comparator.reverseOrder[Path]())
      .forEach(f => { Files.deleteIfExists(f); () })
    finally walk.close()
  }

  /** The entries directly under `dir` (empty if it is not a directory). The
    * directory stream is closed before returning: an unclosed Files.list
    * holds a file descriptor until the stream is collected. */
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val listing = Files.list(dir)
      try listing.iterator().asScala.toVector finally listing.close()
    }

  /** Replace `target` with `content` atomically: write a uniquely named tmp
    * sibling, then ATOMIC_MOVE it over `target`, so a reader sees the old
    * file or the whole new one, never a torn write. Creates the parent
    * directory. Tmp names start with "." and so match no listing filter. */
  def writeAtomic(target: Path, content: String): Unit = {
    val tmp = writeTmp(target, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Create `target` with `content` unless it exists, atomically: a tmp
    * sibling is written, then hard-linked as `target` (link(2) fails if the
    * name exists), so a reader sees no file or the whole one, never an
    * empty or torn one. Returns false, writing nothing, if `target`
    * already exists. */
  def createAtomic(target: Path, content: Array[Byte]): Boolean = {
    val tmp = writeTmp(target, content)
    try { Files.createLink(target, tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.delete(tmp)
  }

  private def writeTmp(target: Path, content: Array[Byte]): Path = {
    val dir = target.getParent
    Files.createDirectories(dir)
    Files.write(dir.resolve(s".${target.getFileName}.${UUID.randomUUID()}.tmp"), content)
  }

  /** Sorted *.parquet files directly under `dir`; a plain-file `dir` is
    * returned as itself (the one-file dataset case). The single listing
    * implementation behind BuildIvf.runFiles call sites — extend here
    * (hidden-file filtering, recursion) rather than per caller. */
  def listParquet(dir: String): Seq[String] = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.isDirectory(p)) return Seq(dir)
    list(p).filter(_.getFileName.toString.endsWith(".parquet")).map(_.toString).sorted
  }
}
