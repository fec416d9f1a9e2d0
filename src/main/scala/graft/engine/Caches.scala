package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftSql}
import org.apache.spark.storage.StorageLevel

/** Session-wide registry for operator-internal caches, closing the
  * persist lifecycle the DataFrame API leaves open.
  *
  * Operators that persist reused intermediates (the dedup candidate
  * indexes, prefix-sum partials, SRP signature base) hand their caches
  * to the RETURNED lazy DataFrame's lineage — there is no in-operator
  * point "after the last action" at which to unpersist, because the
  * action belongs to the caller. Left alone, a long-lived session (the
  * 92-query bench, a notebook, a server) accumulates every dead cache
  * in the block manager: locally harmless (MEMORY_AND_DISK is
  * LRU-evictable), at cluster scale eviction churn and disk pressure.
  *
  * The contract: operators register every internal persist here;
  * drivers call [[release]] once the consuming action is done (Bench
  * and Verify do, per query). Caches whose consumers all complete
  * INSIDE the operator (the connected-components edge frames) are
  * unpersisted eagerly at the operator instead and never reach the
  * registry. CacheHygieneSpec holds the whole surface to it: after any
  * query + release, the context carries zero new persisted RDDs.
  */
object Caches {

  private val tracked = mutable.ArrayBuffer.empty[DataFrame]

  /** Register a frame this registry should unpersist on [[release]]. */
  def track(df: DataFrame): DataFrame = synchronized {
    tracked += df
    df
  }

  /** Persist AND eagerly materialize a reused intermediate, registered
    * for deferred release. Lazy persist lets AQE's concurrent stage
    * materialization race several consumers into the uncomputed cache —
    * duplicated work plus per-block lock contention (measured as
    * multi-× wall blowups). A cheap count() is a deterministic barrier:
    * every consumer then reads warm cache. */
  def materialized(df: DataFrame): DataFrame = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    track(cached)
  }

  /** The one registry-managed PLAN TRUNCATION: persist, run the single
    * `count()` barrier, track the cache for [[release]], and return the
    * frame rebased on the cached rows ([[GraftSql.rddPinned]]) together
    * with that count.
    *
    * The returned frame plans as a `LogicalRDD` leaf, so a deep
    * multi-stage composition (the q209 curation DAG) pays analyzer/
    * optimizer/explain cost per STAGE instead of per accumulated
    * lineage. Without this, every downstream plan — and every AQE
    * plan-update explain render — carries the entire upstream tree;
    * measured on the 8-stage pipeline that was a >1 GiB plan STRING
    * (driver OOM) and 100×-ish plan-time blowups on 138-row cached
    * frames, all planning cost, zero execution cost. Execution is
    * unchanged: the RDD streams the persisted blocks as InternalRows
    * (never converted to external Rows), stays distributed, and is released
    * with the registry like any other cache. The trade: Catalyst can no
    * longer push filters/prune columns INTO the truncated stage —
    * callers truncate only at stage boundaries whose output they
    * consume whole, exactly the q209 shape.
    *
    * The count is the barrier's own result, so a caller whose report
    * needs `count(stage output)` reuses it as a plan-time literal
    * instead of planning one more aggregation subtree over the cached
    * rows; it IS the count of the rows every downstream consumer
    * reads. */
  def truncated(df: DataFrame): (DataFrame, Long) = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    val n = cached.count()
    track(cached)
    (GraftSql.rddPinned(cached), n)
  }

  /** Unpersist every tracked cache (non-blocking) and forget them.
    * Correctness-neutral at any point — an unpersisted frame recomputes
    * from lineage — so callers time it after the consuming action. */
  def release(): Unit = synchronized {
    tracked.foreach(_.unpersist(blocking = false))
    tracked.clear()
  }
}
