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
  */
object CapStats {
  private val drops = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Record the latest engagement for `tag` (last write wins — each query
    * run re-derives its own count; accumulation across runs would make
    * the number meaningless).
    */
  def record(tag: String, dropped: Long): Unit = drops.put(tag, dropped)

  // ---- deferred engagement counts (r18)
  //
  // The cap counts are logging/audit side-channels: no query RESULT depends
  // on them, but each used to run as an eager driver-blocking job INSIDE
  // the operator builder — serialized before the main action's Catalyst
  // planning even started, and FORCING the full cache build as its own
  // up-front job (measured 0.3-0.8 s per cap-bearing query at sf0.1).
  // recordDeferred registers the count as a thunk instead; [[await]] runs
  // the thunks, and every read path ([[lastDrop]], [[snapshot]]) and the
  // cache sweep (CacheRegistry.releaseAll — always called after the
  // query's final action and before the persisted frames the counts scan
  // are dropped) awaits first. So in the normal harness lifecycle the
  // count executes ONCE, immediately after the main action, as a cheap
  // scan of the by-then-materialized cache — and by the time anyone can
  // observe the query's result or the stats, the count has run, been
  // recorded, and WARNed. The no-silent-caps contract is observationally
  // unchanged; failures are not swallowed (await rethrows, named by tag).
  //
  // Deliberately DEFERRED, not concurrent: a first cut ran the count on a
  // background pool to overlap the main action, but two jobs racing on the
  // same un-materialized InMemoryRelation DOUBLE-COMPUTE its partitions
  // (cache block stores dedup on write, not on compute) — at sf1 the
  // 10x window build ran twice and the mine-family queries were 2-3x
  // slower (ScaleBench: c2_ngram_jaccard 6.1 -> 14.1 s, c2_adamic_adar
  // 10.0 -> 22.9 s). The deferred shape is race-free by construction.
  private val pending =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, () => Long, Long => Unit)]()

  /** Register the engagement count for `tag` to run at the next [[await]]
    * (post-action in the harness lifecycle); the result is [[record]]ed
    * and, when positive, passed to `warn`.
    */
  def recordDeferred(tag: String)(count: => Long)(warn: Long => Unit): Unit =
    pending.add((tag, () => count, warn))

  /** Run every outstanding deferred count, then rethrow the first failure
    * (named by its tag, later ones attached as suppressed). The queue is
    * drained even when a count fails, so no count of a failed query runs
    * later inside the next query's timed region. Idempotent; called by
    * every stats read and by CacheRegistry.releaseAll before it unpersists
    * the frames the counts scan.
    */
  def await(): Unit = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[Throwable]
    var entry = pending.poll()
    while (entry != null) {
      val (tag, count, warn) = entry
      try {
        val n = count()
        record(tag, n)
        if (n > 0) warn(n)
      } catch {
        case e: InterruptedException => throw e
        case e: Throwable =>
          failures += new RuntimeException(s"CapStats deferred count for '$tag' failed", e)
      }
      entry = pending.poll()
    }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** Deferred counts registered and not yet run (for tests). */
  private[graft] def pendingCount: Int = pending.size

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
