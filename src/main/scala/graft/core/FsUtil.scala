package graft.core

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Filesystem helpers that never leak the `Files.list`/`Files.walk`
  * directory streams (each holds an open file descriptor until closed;
  * long-running streaming queries call these every micro-batch). */
object FsUtil {

  /** Eagerly list a directory's entries, closing the stream. */
  def listDir(dir: Path): Vector[Path] =
    if (!Files.isDirectory(dir)) Vector.empty
    else Using.resource(Files.list(dir))(_.iterator().asScala.toVector)

  /** `listDir` sorted by path name. */
  def listDirSorted(dir: Path): Vector[Path] = listDir(dir).sorted

  /** Stream an artifact's bytes to `update.accept(buf, n)` in 4 KB
    * chunks (signing.go:79): the file itself, or a directory artifact's
    * regular files in name order. The one walk behind both the
    * artifact's signature and its content id, so the two cover the same
    * bytes. Returns the number of bytes streamed. (`ObjIntConsumer`:
    * the chunk length is passed unboxed.) */
  def streamArtifact(artifact: Path)(
      update: java.util.function.ObjIntConsumer[Array[Byte]]): Long = {
    val buf = new Array[Byte](4096)
    var total = 0L
    def absorb(f: Path): Unit = {
      val in = Files.newInputStream(f)
      try {
        var n = in.read(buf)
        while (n > 0) { update.accept(buf, n); total += n; n = in.read(buf) }
      } finally in.close()
    }
    if (Files.isDirectory(artifact))
      listDirSorted(artifact).filter(Files.isRegularFile(_)).foreach(absorb)
    else absorb(artifact)
    total
  }

  /** O(listing) snapshot fingerprint of a file or directory tree: file
    * count plus an md5 over the sorted per-file (relative name, size,
    * nanosecond mtime) records — per-file, not totals, so a rewrite
    * that happens to preserve total bytes (re-encoded or reordered
    * content) still changes it. Reads no data, so it is cheap enough
    * to probe on every cache lookup. Used to invalidate per-corpus
    * memoizations (ANN trainings, persisted index fixtures) when the
    * data under a path is regenerated within one JVM lifetime.
    *
    * Race-safe against a concurrent rewrite of the tree (the exact
    * scenario the fingerprint exists for): files that vanish between
    * the walk and the stat are recorded as `gone` instead of throwing —
    * the next probe of the settled tree yields the settled value. */
  def snapshotFingerprint(p: Path): String =
    try {
      if (!Files.exists(p)) "absent"
      else {
        val files = Using.resource(Files.walk(p))(
          _.iterator().asScala.filter(Files.isRegularFile(_)).toVector)
        val recs = files.map { f =>
          val rel = p.relativize(f).toString
          try
            s"$rel:${Files.size(f)}:${Files.getLastModifiedTime(f).to(java.util.concurrent.TimeUnit.NANOSECONDS)}"
          catch { case _: java.io.IOException => s"$rel:gone" }
        }.sorted
        val md = java.security.MessageDigest.getInstance("MD5")
        recs.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
        s"${files.size}:${md.digest().map("%02x".format(_)).mkString}"
      }
    } catch {
      // Files.walk surfaces mid-iteration races as UncheckedIOException
      case _: java.io.IOException | _: java.io.UncheckedIOException => "racing"
    }

  /** Depth-first delete of a file or directory tree. */
  def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Using.resource(Files.walk(p))(_.iterator().asScala.toVector)
      all.sorted(Ordering[Path].reverse).foreach(Files.deleteIfExists(_))
    }
}
