package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Session-scoped memo store for the maintained-table frames (the
  * shared-intermediate tier's in-memory half: dedup signatures, graph
  * edge lists, the partsupp surrogate, resolved relations...).
  *
  * Round-14 (VERDICT r13 #5 + ADVICE r13): every module kept its own
  * `ConcurrentHashMap[(SparkSession, String), DataFrame]`, which holds
  * a STRONG reference to the session — each session that ever touched
  * a memoized query was pinned for JVM lifetime (tests spin up
  * dozens). The previous fix attempt (`Tables.relMemo`, a
  * `WeakHashMap[SparkSession, map]`) was itself broken by the
  * WeakHashMap contract: its VALUES (DataFrames, and the per-session
  * map holding them) strongly reference the key session, so entries
  * were never reclaimed either.
  *
  * The lifetime-correct shape: anchor each session's memo map ON the
  * session itself, so the map lives exactly as long as the session.
  * The anchor must be a slot owned by the session's own SessionState
  * and nothing context-global: `listenerManager.register` looks right
  * but is NOT it — the registered listener lands in an
  * `ExecutionListenerBus` whose `listenersPlusTimers` list is itself
  * registered on the context's shared `LiveListenerBus` (only the
  * session/manager back-references are weak per SPARK-34087), so a
  * listener carrying DataFrames pins its session for CONTEXT lifetime
  * (measured: the probe spec caught exactly this). The slot used
  * instead is `session.experimental.extraStrategies`: per-session
  * `ExperimentalMethods`, strongly held only by the session's
  * SessionState. The [[Holder]] below is a planner strategy that
  * always returns Nil (a no-op candidate the planner skips) carrying
  * the per-session map: when the session becomes unreachable, holder,
  * map and memoized plans are collected with it — `SessionMemoSpec`
  * pins this with a WeakReference + GC test.
  *
  * Lookup goes through a WeakHashMap[SparkSession, WeakReference
  * [Holder]]: both sides weak, so the side table pins nothing; while
  * the session is alive the holder is strongly reachable FROM it, so
  * the WeakReference is never cleared under a live key.
  *
  * [[getOrElseUpdate]] deliberately avoids `computeIfAbsent`: memo
  * builds nest (the partsupp surrogate build resolves tables through
  * the Tables memo), and nested `computeIfAbsent` on one
  * ConcurrentHashMap may throw "Recursive update". The
  * get/build/putIfAbsent sequence admits a duplicate build under a
  * concurrent race — harmless for these idempotent, lazily-planned
  * frames, and the single-threaded query constructors never race.
  */
object SessionMemo {

  /** Memo key: a module-scoped name plus the corpus-ish discriminator
    * (usually the corpus dir; Tables uses path@stamp). A case class so
    * invalidation can match on either part without string parsing.
    */
  final case class Key(name: String, dir: String)

  private final class Holder extends SparkStrategy {
    val map = new java.util.concurrent.ConcurrentHashMap[Key, AnyRef]()
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = Nil
  }

  private val holders = new java.util.WeakHashMap[SparkSession,
    java.lang.ref.WeakReference[Holder]]()

  private def holder(s: SparkSession): Holder = holders.synchronized {
    val ref = holders.get(s)
    val h0 = if (ref == null) null else ref.get()
    if (h0 != null) h0
    else {
      val h = new Holder
      // The strong, session-lifetime anchor: ExperimentalMethods is
      // per-session state; a Nil-returning strategy is invisible to
      // planning. (A cloneSession copies the parent's list — the
      // clone then gets its OWN holder appended on first use; the
      // inherited no-op entry is dead weight until the parent dies.)
      s.experimental.extraStrategies = s.experimental.extraStrategies :+ h
      holders.put(s, new java.lang.ref.WeakReference(h))
      h
    }
  }

  def getOrElseUpdate[V <: AnyRef](s: SparkSession, name: String,
      dir: String)(build: => V): V = {
    val m = holder(s).map
    val k = Key(name, dir)
    val v = m.get(k)
    if (v != null) v.asInstanceOf[V]
    else {
      val nv = build
      val prev = m.putIfAbsent(k, nv)
      (if (prev != null) prev else nv).asInstanceOf[V]
    }
  }

  /** Drop every live session's entries matching `pred`. Iterates
    * only sessions still alive (dead ones have nothing to serve).
    */
  def invalidateIf(pred: Key => Boolean): Unit = holders.synchronized {
    holders.values.forEach { ref =>
      val h = if (ref == null) null else ref.get()
      if (h != null) { h.map.keySet.removeIf(k => pred(k)); () }
    }
  }

  /** The one reset for a corpus rewritten in place: drop every live
    * session's entries keyed on `dir` and the whole on-disk index
    * tree for `dir` ([[IndexTier.invalidate]]), so no derived
    * materialization of the old corpus is served again.
    */
  def invalidate(dir: String): Unit = {
    invalidateIf(_.dir == dir)
    IndexTier.invalidate(dir, prefix = "")
  }

  /** Number of live sessions currently holding at least one entry —
    * observability for the collectability spec.
    */
  private[graft] def liveSessions: Int = holders.synchronized {
    var n = 0
    holders.values.forEach { ref =>
      if (ref != null && ref.get() != null) n += 1
    }
    n
  }
}
