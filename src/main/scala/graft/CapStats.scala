package graft

/** Session-wide census of candidate-cap engagements (the no-silent-caps
  * discipline, r15): every bucketed/blocked candidate join that trims its
  * candidate side — the df caps ([[graft.operators.TierCSim]]'s
  * `dfCapKept`) and the md5-head occupancy caps (`headCapKept`) — records
  * how many rows/keys it excluded here, in addition to the WARN log line.
  * Zero is recorded too, so a test can distinguish "cap checked, nothing
  * dropped" from "cap never consulted". Driver-side only (caps are
  * evaluated by driver-side counts over persisted frames, never inside
  * tasks), so a plain concurrent map is the right tool.
  *
  * The counts themselves are deferred: [[recordDeferred]] registers them
  * on the query's ledger ([[CacheRegistry]], which says why deferred and
  * not concurrent), and every read here runs what is pending first, so by
  * the time a count is observable it has run, been recorded, and WARNed.
  */
object CapStats {
  private val drops = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Record the latest engagement for `tag` (last write wins — each query
    * run re-derives its own count; accumulation across runs would make
    * the number meaningless).
    */
  private[graft] def record(tag: String, dropped: Long): Unit = drops.put(tag, dropped)

  /** Register the engagement count for `tag` on the query's ledger, to run
    * at the next [[CacheRegistry.await]] (post-action in the harness
    * lifecycle, before the caches it scans are released); the result is
    * [[record]]ed and, when positive, passed to `warn`. A failure surfaces
    * at that await, named by `tag`.
    */
  def recordDeferred(tag: String)(count: => Long)(warn: Long => Unit): Unit =
    CacheRegistry.defer(tag) {
      val n = count
      record(tag, n)
      if (n > 0) warn(n)
    }

  /** [[CacheRegistry.await]]: run every pending count. Kept as its own
    * entry point because the e2ebench `capcounts` span times the counts
    * through it.
    */
  def await(): Unit = CacheRegistry.await()

  /** The most recent drop count for `tag`, if that cap has been consulted
    * this JVM.
    */
  def lastDrop(tag: String): Option[Long] = { await(); Option(drops.get(tag)) }

  /** Snapshot of every consulted cap — for logging/diagnostics. */
  def snapshot(): Map[String, Long] = {
    await()
    import scala.jdk.CollectionConverters._
    drops.asScala.toMap
  }

  def clear(): Unit = { await(); drops.clear() }
}
