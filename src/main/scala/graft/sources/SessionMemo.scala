package graft.sources

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one per-session memo of constructed DataFrames: base-table
  * relations ([[Tables.load]]), analyzed read plans of the native,
  * Delta-export and Iceberg faces, and [[RelationCache]]'s cached
  * relations. Only plans (and, for RelationCache, its own cache()
  * registrations) are held — every action still scans the files.
  *
  * Entries live in a namespace per read face (and per RelationCache
  * kind); the read faces key them on a stamp of the table state
  * ([[FileStamp]]), so a commit simply mints a new key.
  * Rules, in one place:
  *  - a stopped session's entries are retired on the next call. Weak
  *    session keys cannot do this: every memoized DataFrame strongly
  *    references its session, so the entry would keep its own key alive.
  *  - a namespace holding [[Capacity]] entries resets before it takes
  *    another (a writer minting a key per commit would otherwise grow
  *    it without bound); a reset costs one rebuild and never touches
  *    another namespace's entries.
  *  - builds go through get/putIfAbsent, never computeIfAbsent: builders
  *    re-enter the memo (changeFeed calls read, icebergChangelog calls
  *    readIceberg) and a nested computeIfAbsent on one ConcurrentHashMap
  *    throws "Recursive update". A racy duplicate build is benign.
  */
private[graft] object SessionMemo {
  private val Capacity = 256

  private val memos = new ConcurrentHashMap[(SparkSession, String),
    ConcurrentHashMap[String, DataFrame]]()

  /** Whether a session's entries are still reachable by a caller. A
    * function so a spec can retire a session without stopping the shared
    * test session. */
  @volatile private[graft] var live: SparkSession => Boolean =
    s => !s.sparkContext.isStopped

  private def entries(s: SparkSession, namespace: String) = {
    memos.keySet.removeIf(k => !live(k._1))
    memos.computeIfAbsent((s, namespace),
      _ => new ConcurrentHashMap[String, DataFrame]())
  }

  /** The memoized DataFrame for `key` in `namespace`, built on a miss. */
  def apply(s: SparkSession, namespace: String, key: String)
      (build: => DataFrame): DataFrame = {
    val m = entries(s, namespace)
    val hit = m.get(key)
    if (hit != null) hit
    else {
      val built = build
      if (m.size >= Capacity) m.clear()
      val prev = m.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }

  /** Remove every entry of `namespace`, returning them. */
  def clear(s: SparkSession, namespace: String): Seq[DataFrame] = {
    val m = entries(s, namespace)
    m.keySet.asScala.toSeq.flatMap(k => Option(m.remove(k)))
  }
}

/** Stamps of table-state files for [[SessionMemo]] keys. Every file is
  * pinned by its size and millisecond mtime — enough for one the engine
  * writes once under a fresh name (manifest and log versions, checkpoints,
  * data files). A pointer file rewritten IN PLACE under the same name is
  * pinned by its content too: a same-size rewrite within one mtime tick
  * (or one that restores the old mtime) keeps size and mtime, and would
  * serve the old plan. */
private[graft] object FileStamp {
  /** Files the engine rewrites in place: the Delta checkpoint pointer, the
    * log-truncation horizon, ANALYZE statistics, and Iceberg metadata,
    * which snapshot expiry rewrites under its own version name. */
  private def rewrittenInPlace(name: String): Boolean =
    name == "_last_checkpoint" || name == "_graft_truncation" ||
      name == "_graft_stats.json" || name.endsWith(".metadata.json")

  def of(p: Path): String = {
    val sizeMtime = s"${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    if (!rewrittenInPlace(p.getFileName.toString)) sizeMtime
    else sizeMtime + ":" + java.util.HexFormat.of().formatHex(
      java.security.MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p)))
  }

  /** One stamp over a directory's listing: every entry's name and stamp. */
  def ofDir(dir: Path): String = {
    require(Files.isDirectory(dir), s"no directory at $dir")
    val sb = new StringBuilder
    val listed = Files.list(dir)
    try listed.sorted().forEach { p =>
      sb.append(p.getFileName.toString).append(':').append(of(p)).append(';')
    } finally listed.close()
    graft.plans.TextExpressions.md5Hex(sb.toString)
  }
}
