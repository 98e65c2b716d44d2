package graft.sources

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Driver-side memo scoped to a SparkSession: one map per live session,
  * keyed by string.
  *
  * Sessions are held STRONGLY and retired explicitly: every access drops
  * the maps of stopped sessions. Weak keys would not work, because the
  * memoized values (analysed DataFrames) strongly reference their own
  * session — the entry would keep its key alive forever. A stopped
  * session's plans and cached blocks died with its executors; only the
  * references linger, and this is what clears them.
  *
  * `stopped` is the liveness rule; only specs pass another one. */
final class Memo[V <: AnyRef] private[graft] (stopped: SparkSession => Boolean) {
  def this() = this(_.sparkContext.isStopped)

  private val perSession = new ConcurrentHashMap[SparkSession, ConcurrentHashMap[String, V]]()

  /** This session's map, after retiring every stopped session's. */
  def of(s: SparkSession): ConcurrentHashMap[String, V] = {
    perSession.keySet.removeIf(sess => stopped(sess))
    perSession.computeIfAbsent(s, _ => new ConcurrentHashMap[String, V]())
  }

  /** The memoized value for `key`, building it on a miss. A map past
    * [[Memo.MaxEntries]] is reset rather than left to leak: stale keys
    * (every commit mints a new table identity) accumulate in a long
    * writer session, and a reset costs one rebuild. get/putIfAbsent,
    * NOT computeIfAbsent: a builder may call back into the same memo
    * (changeFeed's legs call read()), and a nested computeIfAbsent on
    * one ConcurrentHashMap throws "Recursive update"; a racy duplicate
    * build is benign. A builder that throws caches nothing. */
  def apply(s: SparkSession, key: String)(build: => V): V = {
    val m = of(s)
    if (m.size > Memo.MaxEntries) m.clear()
    val hit = m.get(key)
    if (hit != null) hit
    else {
      val built = build
      val prev = m.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }
}

object Memo {
  val MaxEntries = 256
}

/** A file's identity for cache keys: path, byte length, and last-modified
  * time at whatever precision the filesystem keeps (nanoseconds on ext4).
  * A millisecond mtime cannot tell apart two same-size versions of a file
  * rewritten in place within one millisecond (Iceberg snapshot expiry
  * rewrites the current metadata file; Delta rewrites `_last_checkpoint`);
  * the full [[FileTime]] can. `toString` carries every part, so the id
  * also works inside string keys. */
final case class FileId(path: String, size: Long, mtime: FileTime)

object FileId {
  def apply(p: Path): FileId =
    FileId(p.toString, Files.size(p), Files.getLastModifiedTime(p))

  /** The id of a file that may be missing: size -1 and a fixed mtime. */
  def orAbsent(p: Path): FileId =
    try apply(p)
    catch { case _: java.io.IOException => FileId(p.toString, -1L, FileTime.fromMillis(-1L)) }

  /** Digest of a directory's sorted listing — name, size and mtime of
    * every entry — so any add, delete or rewrite inside it changes the
    * digest. */
  def listing(dir: Path): String = {
    require(Files.isDirectory(dir), s"no directory at $dir")
    val sb = new StringBuilder
    val listed = Files.list(dir)
    try listed.sorted().forEach { p =>
      sb.append(p.getFileName.toString).append(':')
        .append(Files.size(p)).append(':')
        .append(Files.getLastModifiedTime(p)).append(';')
    } finally listed.close()
    graft.plans.TextExpressions.md5Hex(sb.toString)
  }
}
