package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Keyed registry for long-lived cached relations (the corpus shingle
  * index, the 0.5-threshold dup-pair set): one cached copy per
  * (session, kind, data dir), and switching a kind to a NEW data dir
  * unpersists the previous dir's relation.
  *
  * Without this, every invocation re-cache()s and nothing ever
  * unpersists: across a long driver session touching several data dirs,
  * cached relations pile up in executor storage memory and evict each
  * other unpredictably. (Within one dir, Spark's CacheManager already
  * dedupes identical canonical plans — the leak is across dirs and
  * session lifetime, which is exactly what this registry scopes.)
  *
  * Entries live in the session's [[SessionMemo]], which retires a
  * stopped session's entries (their cached blocks died with the
  * executors; only the references linger).
  */
object RelationCache {
  /** The cached relation for (kind, dir), building + caching on first use.
    * `build` must be a pure plan constructor (no side effects). */
  def of(s: SparkSession, kind: String, dir: String)(build: => DataFrame): DataFrame =
    SessionMemo(s, s"relation.$kind", dir) {
      // dir switch: retire the kind's previous relation before caching
      // the new one, so storage memory holds one copy per kind (and the
      // kind's namespace never nears SessionMemo's reset size)
      SessionMemo.clear(s, s"relation.$kind").foreach(_.unpersist(false))
      val df = build
      // a build that pre-materialized (e.g. the CC loop caching its
      // converged result before releasing intermediates) arrives
      // already persisted — don't double-register it
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        df.cache()
      df
    }
}
