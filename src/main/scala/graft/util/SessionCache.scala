package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Session-scoped memo cache for expensive derived values (the
  * IndexStore load memo, shingle and gram tables, the trained quality
  * model). Entries are keyed by (session, key) and assume the data
  * behind the key is immutable while cached — the same contract a
  * persisted index makes.
  *
  * Unlike a bare ConcurrentHashMap, entries do not outlive the
  * SparkContext that built them: the first insert against a context
  * registers ONE listener (per cache instance) that drops every entry
  * of every session sharing that context when it stops, so eagerly
  * checkpointed DataFrames and stopped sessions are not pinned for the
  * JVM lifetime. Checkpoint blocks die with the context. Caveat: a
  * `newSession()` child discarded while its context lives is held
  * until the context stops — per-session end has no Spark event; a
  * harness cycling many child sessions over one context should call
  * `clear()` (or [[SessionCache.clearAll]]) between runs, which is
  * also the hook for rewriting a cached dir mid-session.
  */
final class SessionCache[V] {
  private val map = new ConcurrentHashMap[(SparkSession, String), V]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkContext]()

  SessionCache.register(this)

  def getOrCompute(s: SparkSession, key: String)(build: => V): V = {
    val sc = s.sparkContext
    // A stopped context can never fire the eviction listener, so a
    // value computed against it must NOT enter the map (it would be
    // pinned forever) — compute uncached and let the caller deal with
    // whatever a stopped session returns.
    if (sc.isStopped) return build
    if (hooked.add(sc)) {
      // The listener holds the cache only WEAKLY (a strong capture
      // would pin a dropped instance — and everything it caches —
      // via the context's listener bus until the context stops), and
      // removes itself once fired so the bus does not accumulate dead
      // listeners across session generations.
      val ref = new java.lang.ref.WeakReference[SessionCache[V]](this)
      val listener: SparkListener = new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          val c = ref.get()
          if (c != null) {
            c.map.keySet.removeIf(_._1.sparkContext eq sc)
            c.hooked.remove(sc)
          }
          sc.removeSparkListener(this)
        }
      }
      try sc.addSparkListener(listener) catch {
        // Context stopped between the check and the registration.
        case _: IllegalStateException => hooked.remove(sc); return build
      }
    }
    // get → build → putIfAbsent, never computeIfAbsent (the
    // FixtureStores.template rule): `build` runs outside the map's
    // locks, so it may itself call getOrCompute on this instance — the
    // IndexStore memo's nested loads do — where a nested computeIfAbsent
    // throws "Recursive update" whenever the two keys share a bin. Two
    // threads racing one cold key may both build; the first insert wins
    // and both return it.
    val v = map.get((s, key)) match {
      case null =>
        val built = build
        val prior = map.putIfAbsent((s, key), built)
        if (prior == null) built else prior
      case hit => hit
    }
    // Close the remaining race: a stop whose ApplicationEnd was
    // dispatched before our listener registered would strand entries
    // inserted after it — self-evict on observation.
    if (sc.isStopped) {
      map.keySet.removeIf(_._1.sparkContext eq sc)
      hooked.remove(sc)
    }
    v
  }

  def size: Int = map.size

  def clear(): Unit = map.clear()

  /** Drop the entries whose key matches `p`, in every session. */
  def removeIf(p: String => Boolean): Unit = map.keySet.removeIf(k => p(k._2)): Unit
}

object SessionCache {
  // Weak references: intended instances are object-level singletons,
  // but a stray per-use instance (tests construct them) must not be
  // pinned by the registry for the JVM lifetime.
  private val instances = new java.util.concurrent.ConcurrentLinkedQueue[
    java.lang.ref.WeakReference[SessionCache[_]]]()

  private def register(c: SessionCache[_]): Unit =
    instances.add(new java.lang.ref.WeakReference(c))

  /** Drop every entry in every live cache instance — the one-call
    * invalidation hook for long-lived JVMs that rewrite a cached data
    * dir (`IndexStore.invalidate` covers the targeted case for loaded
    * artifacts).
    */
  def clearAll(): Unit = instances.removeIf { ref =>
    val c = ref.get()
    if (c != null) c.clear()
    c == null // prune collected instances while we're here
  }
}
