package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** The one per-query ledger of after-action work: the deferred counts that
  * must run before release, and the releases of the query's caches.
  *
  * Caches. Some operators persist an intermediate frame because the frame
  * feeds BOTH sides of a self-join (LSH/SimHash signature indexes, token
  * explosions, embedding+norm projections) — without the barrier,
  * CollapseProject inlines the expensive computation back into the join
  * and it re-runs per PAIR (measured 2–3× whole-query cost). Those caches
  * must outlive the function (the returned plan references them), so the
  * function cannot unpersist them itself. Every such persist is registered
  * here, and the CALLER owns release — `releaseAll()` after the returned
  * frame's final action. [[Harness.run]] calls it after every query of
  * every main (paired with `spark.catalog.clearCache()`); library
  * compositions call it at pipeline boundaries. References are strong (a
  * weak ref could be collected before release — the returned plan holds
  * the logical plan, not the Dataset object — and the unpersist would be
  * silently skipped); a caller that never releases gets exactly the old
  * leak, never worse. Persists that only serve index-build actions inside
  * an operator (sample collects, counts) are NOT registered — those are
  * unpersisted before the function returns. A release is a persisted
  * frame, or the block-holding RDD of a lineage barrier ([[Par.barrier]]),
  * whose blocks no `Dataset.unpersist` reaches.
  *
  * Deferred counts ([[CapStats.recordDeferred]]). The no-silent-caps counts
  * are audit side-channels: no query result depends on them, but each used
  * to run as an eager driver-blocking job INSIDE the operator builder —
  * serialized before the main action's planning even started, and FORCING
  * the full cache build as its own up-front job (measured 0.3-0.8 s per
  * cap-bearing query at sf0.1). They are registered here instead and run
  * at [[await]]: in the harness lifecycle once, right after the main
  * action, as a cheap scan of the by-then-materialized caches, and always
  * before [[releaseAll]] drops those caches (a count after the release
  * would silently recompute the whole lineage uncached).
  *
  * Deliberately DEFERRED, not concurrent: a first cut ran the count on a
  * background pool to overlap the main action, but two jobs racing on the
  * same un-materialized InMemoryRelation DOUBLE-COMPUTE its partitions
  * (cache block stores dedup on write, not on compute) — at sf1 the 10x
  * window build ran twice and the mine-family queries were 2-3x slower
  * (ScaleBench: c2_ngram_jaccard 6.1 -> 14.1 s, c2_adamic_adar 10.0 ->
  * 22.9 s). The deferred shape is race-free by construction.
  */
object CacheRegistry {
  private val pending = ArrayBuffer.empty[(String, () => Unit)]
  private val owned = ArrayBuffer.empty[() => Unit]

  /** Persist `df` and register it for caller-owned release. */
  def persist(df: DataFrame): DataFrame = synchronized {
    df.persist()
    owned += (() => df.unpersist(false))
    df
  }

  /** Register `rdd`'s blocks for caller-owned release. */
  def own(rdd: RDD[_]): Unit = synchronized {
    owned += (() => rdd.unpersist(blocking = false))
  }

  /** Register the deferred count `tag` to run at the next [[await]]. */
  private[graft] def defer(tag: String)(count: => Unit): Unit = synchronized {
    pending += (tag -> (() => count))
  }

  /** Run every pending count, then rethrow the first failure (named by its
    * tag, later ones attached as suppressed). The ledger is drained even
    * when a count fails, so no count of a failed query runs later inside
    * the next query's timed region. Idempotent.
    */
  def await(): Unit = synchronized {
    val failures = ArrayBuffer.empty[Throwable]
    while (pending.nonEmpty) {
      val (tag, count) = pending.remove(0)
      try count()
      catch {
        case e: InterruptedException => throw e
        case e: Throwable => failures += new RuntimeException(s"deferred count for '$tag' failed", e)
      }
    }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** [[await]], then unpersist every registered cache (non-blocking) and
    * clear the ledger. A failing count is rethrown only after the sweep: a
    * failed query must not leave its caches registered for the next one,
    * and a second call is a no-op.
    */
  def releaseAll(): Unit = synchronized {
    try await()
    finally {
      owned.foreach(_())
      owned.clear()
      pending.clear()
    }
  }

  /** Registered caches not yet released. */
  def registeredCount: Int = synchronized { owned.length }

  /** Deferred counts registered and not yet run (for tests). */
  private[graft] def pendingCount: Int = synchronized { pending.length }
}
