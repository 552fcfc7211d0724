package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cache-ownership contract for operator-internal `persist()` calls.
  *
  * Some operators persist an intermediate frame because the frame feeds
  * BOTH sides of a self-join (LSH/SimHash signature indexes, token
  * explosions, embedding+norm projections) — without the barrier,
  * CollapseProject inlines the expensive computation back into the join
  * and it re-runs per PAIR (measured 2–3× whole-query cost). Those caches
  * must outlive the function (the returned plan references them), so the
  * function cannot unpersist them itself.
  *
  * The contract: every such persist is registered here, and the CALLER
  * owns release — `releaseAll()` after the returned frame's final action.
  * The Verify/Bench harnesses call it between queries (paired with
  * `spark.catalog.clearCache()`); library compositions call it at
  * pipeline boundaries. References are strong (a weak ref could be
  * collected before release — the returned plan holds the logical plan,
  * not the Dataset object — and the unpersist would be silently skipped);
  * a caller that never releases gets exactly the old leak, never worse.
  *
  * Persists that only serve index-build actions inside an operator
  * (sample collects, counts) are NOT registered — those are unpersisted
  * before the function returns.
  */
object CacheRegistry {
  private val frames = ArrayBuffer.empty[DataFrame]

  /** Persist `df` and register it for caller-owned release. */
  def persist(df: DataFrame): DataFrame = synchronized {
    df.persist()
    frames += df
    df
  }

  private val memo = scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]

  /** Persist-once by key: the first call builds and persists, later calls
    * in the same release epoch return the SAME persisted frame — so two
    * queries sharing a lineage (c6h/c6i's dHash pair mine) cache it once
    * instead of stacking identical copies in executor memory. The memo
    * lives exactly one release epoch: [[releaseAll]] clears it along with
    * the frames it points at (a stale entry would hand out an unpersisted,
    * possibly source-rotated frame).
    */
  def memoPersist(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    synchronized { memo.getOrElseUpdate((s, key), persist(build)) }

  /** Unpersist every registered frame (non-blocking) and clear the ledger.
    * Runs CapStats' deferred engagement counts FIRST — those counts scan
    * the persisted frames registered here (cheap post-action cache scans),
    * so the sweep must not drop the cache before they run (they would
    * silently recompute the whole lineage uncached). A failing count is
    * rethrown only after the sweep: a failed query must not leave its
    * caches registered for the next one.
    */
  def releaseAll(): Unit = synchronized {
    try CapStats.await()
    finally {
      frames.foreach(_.unpersist(false))
      frames.clear()
      memo.clear()
    }
  }

  /** Registered frames not yet released (for tests). */
  def registeredCount: Int = synchronized { frames.length }

  /** Bracket form of the release contract: run `body` (compose operators,
    * take the final action inside), then `releaseAll()` — even on failure.
    * Library callers that use this cannot forget the release. NOT for
    * bodies that RETURN an unconsumed lazy frame: the frame's plan
    * references the caches, so release must come after its final action.
    */
  def withReleased[A](body: => A): A =
    try body finally releaseAll()
}
