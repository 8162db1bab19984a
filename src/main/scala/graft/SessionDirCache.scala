package graft

import org.apache.spark.sql.SparkSession

/** Per-(session, dir) artifact cache, keyed by the SESSION. The weak
  * keying alone cannot evict (cached DataFrames strongly reference their
  * own session through the value side — the classic WeakHashMap
  * value-refers-to-key caveat), so `get` additionally PURGES entries
  * whose SparkContext has stopped: a stopped session's cache — and the
  * checkpointed blocks it pins — is released on the next access from any
  * live session instead of living for the JVM lifetime (multi-suite test
  * JVMs create and stop many sessions). Assumes `dir` contents are
  * immutable for the session's life — true of the driver's testdata; a
  * corpus rewritten in place mid-session would be served stale here. */
private[graft] final class SessionDirCache[V](load: (SparkSession, String) => V) {
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, V]]())
  def get(s: SparkSession, dir: String): V = {
    cache.synchronized {
      val it = cache.entrySet().iterator()
      while (it.hasNext) {
        val k = it.next().getKey
        if (k != null && k.sparkContext.isStopped) it.remove()
      }
    }
    val perSession = {
      val existing = cache.get(s)
      if (existing != null) existing
      else {
        val fresh = scala.collection.concurrent.TrieMap.empty[String, V]
        val raced = cache.putIfAbsent(s, fresh)
        if (raced != null) raced else fresh
      }
    }
    perSession.getOrElseUpdate(dir, load(s, dir))
  }
}
