package graft

import org.apache.spark.SparkContext

/** Registry of persisted-RDD ids that must SURVIVE cross-query storage
  * cleanup (Bench.dropUnpinned).
  *
  * Why it exists: eager `localCheckpoint(true)` truncates lineage, so a
  * checkpointed frame whose blocks are dropped is unrecoverable — the
  * next action throws "checkpoint block not found" instead of
  * recomputing. Session-lifetime memos (EtlOps.memo's golden initial
  * load) therefore pin their block ids here; everything else persisted
  * during a query run is per-execution debris that a bench harness can
  * (and should) clear between timed sections, because on a real cluster
  * each query would run in its own application and never see another
  * query's storage pressure.
  */
object Pinned {
  private val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Run `body` (which is expected to persist/checkpoint RDDs), pin
    * every RDD id that became persistent during it, and return that id
    * set, so a memo that replaces an entry (`SourceMemo`'s release
    * hook) can `release` the superseded entry's blocks instead of
    * leaking one pinned checkpoint per rewrite for the session's
    * lifetime. Over-pinning a concurrent query's block is harmless
    * (one extra survivor); graft entry points run queries sequentially
    * anyway.
    */
  def pinningTracked[T](sc: SparkContext)(body: => T): (T, Set[Int]) = {
    val before = sc.getPersistentRDDs.keySet
    val r = body
    val fresh = (sc.getPersistentRDDs.keySet -- before).toSet
    fresh.foreach(ids.add(_))
    (r, fresh)
  }

  /** Unpin + unpersist a tracked id set (blocking, so the storage is
    * really gone before the replacement builds). Ids already
    * unpersisted inside their build are simply absent — harmless.
    */
  def release(sc: SparkContext, tracked: Set[Int]): Unit =
    tracked.foreach { id =>
      ids.remove(id)
      sc.getPersistentRDDs.get(id).foreach { rdd =>
        try rdd.unpersist(blocking = true)
        catch { case _: Throwable => () }
      }
    }

  def isPinned(id: Int): Boolean = ids.contains(id)

  /** Unpersist every persistent RDD except the pinned ones. Blocking,
    * so callers get a deterministic storage state (this runs OUTSIDE
    * any timed window).
    */
  def dropUnpinned(sc: SparkContext): Unit =
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!ids.contains(id))
        try rdd.unpersist(blocking = true)
        catch { case _: Throwable => () }
    }
}
