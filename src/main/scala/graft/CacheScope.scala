package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Query-scoped lifecycle for persisted intermediates.
  *
  * Operators persist multi-use subtrees (LSH signatures, gram indexes,
  * collapsed-group frames) so the shared stage is computed once per
  * query. Before round 6 those frames were never unpersisted by the
  * engine itself — a long-lived session accumulated cached blocks
  * across queries, and MEMORY_AND_DISK's LRU eviction degraded later
  * queries (the round-5 sweep measured `dedup_jaccard_dupmap` at 19.1 s
  * in-sweep vs 6.8–11.2 s standalone from exactly this pressure).
  *
  * Contract: operators call [[persist]] instead of `Dataset.persist`;
  * whoever RUNS the query (Bench, Verify, a library user's job) calls
  * [[drain]] after the query's action completes. Draining is safe at
  * any point — unpersisting only drops cached blocks; a frame that is
  * re-used afterwards recomputes from lineage — but the intended
  * cadence is once per query, post-action, so the multi-use-subtree
  * benefit is fully realized while blocks never outlive their query.
  *
  * The registry is process-global and FIFO; entries are idempotent to
  * unpersist (Spark no-ops on an already-unpersisted frame), so
  * overlapping drains from concurrent sessions cost nothing beyond the
  * lost caching for in-flight queries — acceptable for a registry whose
  * only job is bounding block-manager pressure.
  */
object CacheScope {
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]

  /** Persist `ds` at MEMORY_AND_DISK and register it for release at the
    * next [[drain]]. Returns `ds` for chaining. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    pending.add(ds)
    ds
  }

  /** Unpersist (non-blocking) every frame registered since the last
    * drain. Call AFTER the query's action has completed. */
  def drain(): Unit = {
    var ds = pending.poll()
    while (ds != null) {
      try ds.unpersist(blocking = false)
      catch { case _: Throwable => () } // session already stopped — nothing to free
      ds = pending.poll()
    }
  }

  /** The cleanup barrier between two timed windows: [[drain]] the
    * registry, clear anything cached outside it, and collect the freed
    * blocks now instead of inside the next window. */
  def barrier(spark: SparkSession): Unit = {
    drain()
    spark.catalog.clearCache()
    System.gc()
  }
}
