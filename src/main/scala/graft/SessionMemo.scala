package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The ONE per-(session, key) memo: each [[Artifact]] holds one, and so do
  * the few per-session caches that are not artifacts (parquet schemas,
  * guard counts, per-config encodes, ANN index loads).
  *
  * Semantics preserved from the per-file ConcurrentHashMaps this replaces:
  * concurrent callers of one key block inside `computeIfAbsent` until the
  * first completes — the artifact-prebuild contract ([[Artifacts]]) and
  * the "write once, every consumer shares the materialization" discipline
  * both rely on it.
  *
  * What it adds: LIFECYCLE. The old static maps strongly retained every
  * session ever served (plus its staged read-back frames) for the process
  * lifetime — a long-lived JVM cycling sessions leaked them all. A weak-
  * keyed map is the WRONG fix: the memoized values are mostly DataFrames,
  * which strongly reference their own SparkSession, so a weak key would
  * never clear (value → session → key keeps the entry reachable). The
  * lifecycle that actually exists is the SparkContext's: stopping a
  * session stops its context, and a context-end makes every DataFrame of
  * every session on it unusable — so each memo registers one listener per
  * tracked session and drops that session's entries at
  * `onApplicationEnd`. Sessions sharing one live context still accumulate
  * (they are all still usable); the process-lifetime leak across cycled
  * contexts is what this closes. */
final class SessionMemo[K, V] {

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, K), V]

  def computeIfAbsent(s: SparkSession, k: K, f: K => V): V = {
    // compute FIRST, track after: track() of a stopped-context session
    // evicts rather than registering, so the ordering guarantees a late
    // caller's entry cannot be inserted after the eviction sweep and
    // stranded for the JVM lifetime
    val v = entries.computeIfAbsent((s, k), p => f(p._2))
    SessionMemo.track(s)
    v
  }

  /** Test seam (the invariant specs plant/restore guard counts). */
  private[graft] def put(s: SparkSession, k: K, v: V): V = {
    val prev = entries.put((s, k), v)
    SessionMemo.track(s)
    prev
  }
  private[graft] def get(s: SparkSession, k: K): V = entries.get((s, k))
  private[graft] def remove(s: SparkSession, k: K): V = entries.remove((s, k))

  private[graft] def evict(s: SparkSession): Unit = {
    val it = entries.keySet.iterator()
    while (it.hasNext) if (it.next()._1 eq s) it.remove()
  }

  SessionMemo.created(this)
}

object SessionMemo {

  /** Every live memo (they are all static vals — a bounded set). */
  private val all =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SessionMemo[_, _]]()
  private def created(m: SessionMemo[_, _]): Unit = { all.add(m); () }

  private val tracked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** First touch of a session by any memo installs its context-end
    * eviction listener; a session whose context already stopped (listener
    * bus down — addSparkListener throws) is evicted immediately instead:
    * the memo must not introduce a failure mode the plain maps never had,
    * and a dead session's entries are the exact garbage this lifecycle
    * exists to drop. */
  private def track(s: SparkSession): Unit =
    if (tracked.add(s)) {
      try {
        s.sparkContext.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            evictAll(s)
        })
        // close the registration race: if the context stopped between the
        // listener landing on the bus and the bus draining its queue, the
        // ApplicationEnd event may already have been posted PAST the new
        // listener — it would never fire and the entries would outlive the
        // context for the JVM lifetime. A stopped context after successful
        // registration means exactly that; evict inline.
        if (s.sparkContext.isStopped) evictAll(s)
      }
      catch { case _: IllegalStateException => evictAll(s) }
    }

  private[graft] def evictAll(s: SparkSession): Unit = {
    tracked.remove(s)
    all.forEach(_.evict(s))
  }
}
