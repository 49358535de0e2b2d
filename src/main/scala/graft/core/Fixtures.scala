package graft.core

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

/** The one fixture cache of the query registry: fitted per-dir artifacts
  * (indexes, codebooks, shuffled replays) and write-once temp files. The
  * testdata is immutable, so a fixture is a pure function of its key and
  * is built at most once per JVM. Keys are `"<fixture>:<dir>"` for
  * per-dir fits and `"<fixture>"` for per-JVM files. */
object Fixtures {
  private final class Holder(build: => Any) { lazy val value: Any = build }

  private val holders = new ConcurrentHashMap[String, Holder]()

  /** The fixture under `key`, built by `build` on first use. The map
    * stores only a lazy holder and the build runs outside the map's
    * lock, so a build may run Spark jobs or call `cached` for another
    * key, and never blocks other keys. A build that throws leaves
    * nothing cached: the next call runs its own build. */
  def cached[T](key: String)(build: => T): T = {
    val holder = holders.computeIfAbsent(key, _ => new Holder(build))
    try holder.value.asInstanceOf[T]
    catch { case e: Throwable => holders.remove(key, holder); throw e }
  }

  /** Writes `bytes` to a new temp file deleted at JVM exit; returns its
    * path. */
  def tempFile(prefix: String, suffix: String)(bytes: Array[Byte]): String = {
    val tmp = Files.createTempFile(prefix, suffix)
    tmp.toFile.deleteOnExit()
    Files.write(tmp, bytes)
    tmp.toString
  }

  /** A new temp directory, marked for deletion at JVM exit (which
    * happens only if it is empty by then). */
  def tempDir(prefix: String): Path = {
    val tmp = Files.createTempDirectory(prefix)
    tmp.toFile.deleteOnExit()
    tmp
  }
}
