package graft

import org.apache.spark.sql.Dataset

/** Tracks intermediates a query `persist()`ed so the session can release
  * them deterministically once the query's action completes.
  *
  * Why: several queries pin a multi-consumer subtree (the shingle-hash
  * sketch table, the LSH signature index) because column pruning
  * specializes each consumer branch and defeats exchange reuse. A bare
  * `persist()` with no owner leaks executor memory across a long-lived
  * session unless the caller runs `spark.catalog.clearCache()` between
  * queries, which an embedding caller has no reason to do. Queries
  * register pinned relations here; [[SparkEntry.releaseCaches]] (called
  * after each query by every harness main and by
  * [[GraftSession.timed]], and available to any library user) frees
  * them.
  */
object CacheRegistry {
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
  private val broadcasts =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.broadcast.Broadcast[_]]()

  /** persist() + register for later release. */
  def persistTracked[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist()
    tracked.add(ds)
    ds
  }

  /** Register a per-query broadcast (bloom filters, lookup sets) so it is
    * destroyed — not just dereferenced — once the query's action
    * completes. Repeated invocations would otherwise accumulate
    * driver+executor copies for the life of the session.
    *
    * Contract (same as [[persistTracked]], but harder): `releaseAll`
    * INVALIDATES every DataFrame whose plan captured a tracked
    * broadcast — executing one afterwards fails with "Broadcast ...
    * destroyed". Release only between queries, never between building
    * a query and running it; rebuild (`SparkEntry.queries(name)(...)`)
    * after a release instead of reusing a stale DataFrame. */
  def broadcastTracked[T](bc: org.apache.spark.broadcast.Broadcast[T]): org.apache.spark.broadcast.Broadcast[T] = {
    broadcasts.add(bc)
    bc
  }

  /** Unpersist everything registered since the last release. */
  def releaseAll(): Unit = {
    var d = tracked.poll()
    while (d != null) {
      d.unpersist(blocking = false)
      d = tracked.poll()
    }
    var b = broadcasts.poll()
    while (b != null) {
      b.destroy()
      b = broadcasts.poll()
    }
  }
}
