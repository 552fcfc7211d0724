package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.storage.StorageLevel

import graft.functions.{Feature, MsgPack}
import graft.operators.TierCText

/** The reference's consume-side pipeline re-expressed on Structured
  * Streaming (SURVEY.md §2 A4–A12, B31–B33): wire bytes → msgpack unpack →
  * layer routing → watermark + retransmit dedup → schema-evolving keyed
  * upsert sink, effectively-once.
  *
  * Delivery semantics (A12): the file/Kafka source replays from the
  * checkpointed offset after a crash (at-least-once), retransmits are
  * dropped by `dropDuplicatesWithinWatermark` on the full message identity
  * (layer, feature_id, event_ts), and [[upsertBatch]] is idempotent — so
  * the store converges to the same state under replay: effectively-once.
  *
  * Scale posture: decode/route are map-side; the only stateful shuffles
  * are the dedup (keyed state, watermark-bounded) and the per-key upsert
  * window inside each micro-batch. The layer-partitioned parquet store is
  * the offline stand-in for a MERGE-capable sink (PostGIS upsert in the
  * reference; Delta/Iceberg MERGE or JDBC upsert at 100 TB) — swap
  * [[upsertBatch]]'s tail, keep everything upstream.
  */
object FeaturePipeline {

  /** Max eval-corpus rows [[decontamStream]] will collect for its
    * broadcast gram set. Held-out sets are thousands of documents; at
    * ~1 KB/doc the cap bounds the driver build at ~100 MB. Anything
    * larger is a mispointed path, not an eval set.
    */
  private[graft] val EvalMaxRows = 100000L

  val packUdf = udf {
    (layer: String, fid: String, wkb: Array[Byte], props: Map[String, String],
     tsUs: Long, source: String, ver: Int) =>
      MsgPack.pack(Feature(layer, fid, wkb, props, tsUs, source, ver))
  }
  val unpackUdf = udf { (b: Array[Byte]) => MsgPack.unpack(b) }

  /** A3/A4 consume side: wire bytes → typed envelope columns. */
  def decode(wire: DataFrame): DataFrame =
    wire.select(unpackUdf(col("value")).as("f"))
      .select(col("f.layer").as("layer"), col("f.feature_id").as("feature_id"),
        col("f.geom_wkb").as("geom_wkb"), col("f.props").as("props"),
        timestamp_micros(col("f.event_ts_us")).as("event_ts"),
        col("f.source").as("source"), col("f.fmt_version").as("fmt_version"))

  /** A6: layer/topic routing. */
  def route(features: DataFrame, layers: Seq[String]): DataFrame =
    features.filter(col("layer").isInCollection(layers))

  /** B31+B32: bound event-time state and drop retransmitted messages.
    * Dedup key includes event_ts: an identical redelivery is dropped, a
    * genuine new version of the same feature (newer ts) passes through.
    */
  def withEffectivelyOnce(features: DataFrame, watermark: String): DataFrame =
    features.withWatermark("event_ts", watermark)
      .dropDuplicatesWithinWatermark("layer", "feature_id", "event_ts")

  private val minhashSigUdf = udf { (text: String) =>
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    graft.functions.MinHash.signature(graft.functions.MinHash.shingles(toks)).mkString(",")
  }

  /** Streaming near-dedup (the in-flight stage of C2): drops any document
    * whose MinHash signature over NORMALIZED word shingles (lowercase,
    * whitespace-collapsed) was already seen inside the watermark — so
    * case/whitespace/formatting variants of a crawled page are shed on
    * arrival, before they cost storage or downstream compute. Signature
    * equality is the strictest LSH band (all 32 hashes), i.e. a
    * high-similarity near-dup gate; batch-mode banded LSH
    * (`TierC`/`TierCSim`) remains the wide-net offline pass. State is the
    * watermark-bounded signature set — same keyed-state scale posture as
    * [[withEffectivelyOnce]].
    *
    * @param docs streaming frame with `text` and `event_ts` columns
    */
  def nearDedupStream(docs: DataFrame, watermark: String): DataFrame =
    docs
      .withColumn("minhash_sig", minhashSigUdf(col("text")))
      .withWatermark("event_ts", watermark)
      .dropDuplicatesWithinWatermark("minhash_sig")
      .drop("minhash_sig")

  /** First-arrival marker per MinHash signature, held in the keyed state
    * store with an EVENT-TIME expiry timer: the first row of a signature
    * passes and arms a timer at its event time + horizon; every arrival
    * while the mark lives is dropped — across micro-batches, unrelated to
    * any watermark gap. When the watermark passes the deadline the timer
    * fires and clears the mark, so state is bounded by the
    * distinct-signature arrival rate × horizon, never the stream's
    * history.
    *
    * Why event-time timers and not the store's native processing-time
    * TTL: (a) `TTLConfig` is hard-gated to `TimeMode.ProcessingTime`
    * (`StatefulProcessorHandleImpl.validateTTLConfig` throws otherwise),
    * and in that mode `shouldRunAnotherBatch` is unconditionally true
    * (`TransformWithStateExecBase`, SPARK-50180) — the engine runs EMPTY
    * micro-batches back-to-back under the default trigger and even
    * `Trigger.AvailableNow` never terminates (measured here: 3k+ commits
    * before kill). (b) A wall-clock TTL is nondeterministic under
    * replay — a crash-recovered batch can see state its first run didn't
    * — which breaks the effectively-once, same-input-same-survivors
    * property a reproducible training corpus needs. Event-time expiry is
    * replay-deterministic and lets the query quiesce.
    */
  class SigFirstSeenProcessor(horizonMs: Long)
      extends StatefulProcessor[String, (String, Long, String, Long), (Long, String, Long)] {
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, String, Long)],
        timerValues: TimerValues): Iterator[(Long, String, Long)] = {
      if (seen.exists()) Iterator.empty
      else {
        seen.update(1L)
        val r = rows.next() // first representative; the rest are in-batch dups
        getHandle.registerTimer(r._4 / 1000L + horizonMs)
        Iterator((r._2, r._3, r._4))
      }
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, String, Long)] = {
      seen.clear()
      Iterator.empty
    }
  }

  /** Cross-batch streaming near-dedup — closes [[nearDedupStream]]'s
    * forgetting window: `dropDuplicatesWithinWatermark` evicts a
    * signature once the watermark passes, so a re-crawl of the same page
    * arriving an hour later is re-admitted. Here the signature set lives
    * in the keyed state store ([[SigFirstSeenProcessor]]): a duplicate
    * arriving ANY number of micro-batches later is still dropped, for as
    * long as its first sighting is within `horizon` of EVENT time. Pick
    * `horizon` as the re-crawl window worth remembering (hours–days) —
    * the state bound a watermark gap can't give, while `delay` stays the
    * small out-of-orderness bound it should be.
    *
    * Document contract (the pipeline's document shape, as tested):
    * `doc_id` long, `text` string, `event_ts` timestamp. Requires the
    * RocksDB state-store provider, like every transformWithState
    * operator here.
    */
  def nearDedupStreamCrossBatch(docs: DataFrame, horizon: java.time.Duration,
      delay: String = "0 seconds"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withWatermark("event_ts", delay)
      .select(minhashSigUdf(col("text")).as("sig"), col("doc_id"),
        col("text"), unix_micros(col("event_ts")).as("ts_us"))
      .as[(String, Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new SigFirstSeenProcessor(horizon.toMillis),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("doc_id", "text", "ts_us")
      .select($"doc_id", $"text", timestamp_micros($"ts_us").as("event_ts"))
  }

  /** In-flight test-set decontamination (the streaming stage of C4's
    * `c4_decontam`): drop any arriving document that shares ≥ one word
    * `gramSize`-gram with the EVAL corpus, before it costs storage or a
    * training run. The eval set is static and small by nature (that is
    * what makes it an eval set), so its distinct grams collect ONCE at
    * plan time and ride a broadcast into a map-side filter — no state,
    * no shuffle, no watermark interaction; the stream stays append-mode
    * pass-through. A growing eval corpus means rebuilding the stream
    * (exactly like the batch operator's index build); the corpus-scale
    * cross-source sweep remains the batch pass.
    *
    * @param docs streaming frame with a `text` column
    * @param evalDocs BATCH frame of the held-out set (`text` column)
    */
  def decontamStream(docs: DataFrame, evalDocs: DataFrame,
      gramSize: Int): DataFrame = {
    val spark = evalDocs.sparkSession
    // Driver-collect guard (the TierA.guardFixtureRows discipline): the
    // eval set is small BY NATURE, but a mispointed path — the training
    // corpus handed in as `evalDocs` — would OOM the driver silently.
    // Refuse loudly instead; the corpus-scale sweep is the batch operator.
    val evalN = evalDocs.count()
    if (evalN > EvalMaxRows)
      throw new IllegalStateException(
        s"decontamStream refuses to collect $evalN eval rows (cap $EvalMaxRows): " +
          "the eval-gram set is a driver-side broadcast build meant for " +
          "held-out sets, not corpora — run the batch c4_decontam sweep instead")
    // SAME tokenizer as the batch sweep (TierCText.wordGrams) — the
    // in-flight filter claims to be the streaming stage of c4_decontam,
    // so the two must agree gram-for-gram on every document.
    val evalGrams: Set[String] = evalDocs
      .select(col("text")).na.drop().collect()
      .iterator.flatMap(r => TierCText.wordGrams(r.getString(0), gramSize))
      .toSet
    val bc = spark.sparkContext.broadcast(evalGrams)
    val cleanUdf = udf { (text: String) =>
      text == null || !TierCText.wordGrams(text, gramSize).exists(bc.value.contains)
    }
    docs.filter(cleanUdf(col("text")))
  }

  /** Stream-stream interval enrichment join (the two-live-streams shape
    * Structured Streaming bounds with dual watermarks): each observation
    * joins every context row for the SAME layer whose timestamp falls in
    * `[obs_ts - lookback, obs_ts]` — sensor readings enriched with the
    * calibration/context feed that precedes them, both sides unbounded.
    *
    * State bound (the 100 TB property): the time-range predicate plus
    * both watermarks lets Spark evict a context row as soon as no future
    * observation could still match it (obs watermark has passed
    * `ctx_ts + lookback`), so join state is O(lookback-window of the
    * context stream per layer), never the stream's history.
    *
    * @param obs streaming frame with `layer`, `obs_ts`, observation cols
    * @param ctx streaming frame with `ctx_layer`, `ctx_ts`, context cols
    */
  /** Geofence alerting — the classic geo-stream monitoring stage: every
    * arriving point feature is tested against a STATIC fence table and
    * emits one alert row per fence it falls inside (all point columns +
    * the fence's id). Stream-static join, STATELESS: no state store, no
    * watermark, exactly the decode→filter cost per event at any rate.
    *
    * Scale shape: fences are ops-configured (dozens to thousands), so the
    * fence side is `broadcast()` — the point stream never shuffles. The
    * join condition short-circuits on the fence's cheap bbox test before
    * running the exact even-odd ray cast, so far-away fences cost four
    * double compares. For fence sets too large to broadcast, use the
    * batch grid-cell equi-join (`Spatial`/a11d) on micro-batches via
    * foreachBatch instead — same exact predicate, bounded candidates.
    *
    * `points` needs `geom_wkb` (POINT); `fences` needs `fence_id` and
    * `fence_wkb` (POLYGON/MULTIPOLYGON).
    */
  def geofenceAlerts(points: DataFrame, fences: DataFrame): DataFrame = {
    val hitUdf = udf { (fence: Array[Byte], pt: Array[Byte]) =>
      fence != null && pt != null && {
        val b = graft.functions.Wkb.bbox(pt)
        graft.functions.Wkb.bboxIntersects(fence, b.xmin, b.ymin, b.xmax, b.ymax) &&
          graft.functions.Wkb.containsPoint(fence, b.xmin, b.ymin)
      }
    }
    points.join(broadcast(fences.select(col("fence_id"), col("fence_wkb"))),
        hitUdf(col("fence_wkb"), col("geom_wkb")))
      .drop("fence_wkb")
  }

  /** One observation's zone membership snapshot (input to
    * [[geofenceTransitions]]): zones computed MAP-SIDE against a
    * driver-broadcast fence list, so no streaming aggregate precedes the
    * stateful transition operator (stateful-over-stateful is restricted).
    */
  final case class ZoneObs(entity_id: Long, ts_us: Long, zones: Seq[String])
  /** An emitted ENTER/EXIT edge. */
  final case class ZoneTransition(entity_id: Long, ts_us: Long, fence_id: String, kind: String)

  /** Streaming geofence ENTER/EXIT transition detection — the alerting
    * state machine a monitoring deployment wants instead of raw
    * containment rows ([[geofenceAlerts]] emits "is inside now";
    * operators page on "crossed the boundary"). Per entity,
    * `flatMapGroupsWithState` keeps the last zone SET and event time;
    * each batch's observations are processed in event-time order and
    * emit set-difference edges (enter = zones − prev, exit = prev −
    * zones, both in deterministic sorted order). Observations older than
    * the stored state are ignored (late data cannot retro-emit edges —
    * the replay-safe choice). State per entity is one small zone set —
    * bounded by |entities|, never history.
    *
    * `points` needs (entity_id, ts_us, x, y); `fences` is the
    * driver-side (fence_id, fence_wkb) list, broadcast inside the zone
    * UDF (64-fence scale — the a11ao/geofence posture).
    */
  def geofenceTransitions(points: DataFrame,
      fences: Seq[(String, Array[Byte])]): Dataset[ZoneTransition] = {
    val spark = points.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(fences)
    val zonesUdf = udf { (x: Double, y: Double) =>
      bc.value.collect { case (id, wkb) if graft.functions.Wkb.containsPoint(wkb, x, y) => id }
    }
    points
      .select(col("entity_id"), col("ts_us"),
        zonesUdf(col("x"), col("y")).as("zones"))
      .as[ZoneObs]
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        // state is (last ts_us, sorted zone list) as a plain tuple — the
        // tuple encoder is codegen-safe where a nested private case class
        // is not (the runningLayerStats precedent)
        (entity: Long, rows: Iterator[ZoneObs], state: GroupState[(Long, Seq[String])]) =>
          val ordered = rows.toSeq.sortBy(_.ts_us)
          var (curTs, curZones) = state.getOption.getOrElse((Long.MinValue, Seq.empty[String]))
          val out = Seq.newBuilder[ZoneTransition]
          ordered.foreach { o =>
            if (o.ts_us > curTs) {
              val prev = curZones.toSet
              val now = o.zones.toSet
              (now -- prev).toSeq.sorted.foreach(z =>
                out += ZoneTransition(entity, o.ts_us, z, "enter"))
              (prev -- now).toSeq.sorted.foreach(z =>
                out += ZoneTransition(entity, o.ts_us, z, "exit"))
              curTs = o.ts_us
              curZones = now.toSeq.sorted
            }
          }
          state.update((curTs, curZones))
          out.result().iterator
      }
  }

  final case class AsofRow(key: Long, ts_us: Long, is_quote: Boolean, v: Double)
  /** [[AsofRow]] plus the event-time column [[asofStreamEventTime]]'s
    * watermark rides on.
    */
  final case class AsofRowEt(key: Long, ts_us: Long, is_quote: Boolean,
      v: Double, ets: java.sql.Timestamp)
  final case class AsofMatch(key: Long, trade_ts_us: Long, trade_v: Double,
      quote_ts_us: Option[Long], quote_v: Option[Double])

  /** Streaming AS-OF join — the streaming twin of the batch b9 family
    * (every trade matched to the latest quote at-or-before it, per key),
    * and the SIXTH stateful family. Input is ONE tagged stream (the
    * union shape two topics land as): (key, ts_us, is_quote, v).
    *
    * Per micro-batch, a key's rows replay in event order (ties: quotes
    * before trades — as-of is ≤ — and among equal-ts quotes the largest
    * v wins, a total order both arms share); quotes advance the per-key
    * latest-quote register, trades emit immediately against it (no
    * quote yet → None — the left-outer arm).
    *
    * Horizon bound (the [[rateAnomalyStream]] discipline): a quote
    * arriving AFTER a later-ts trade was already emitted does not
    * retro-match — this is ingest-time as-of, exact when each key's
    * quotes arrive ts-monotone across batches (the equivalence pin's
    * feed), and a stated approximation otherwise. A stale quote never
    * regresses the register, and a register holding a quote from a
    * trade's FUTURE (out-of-order cross-batch arrival) never matches it:
    * the emit guard requires qTs ≤ trade ts, so the approximation can
    * only MISS matches batch b9 would find — it never emits a
    * quote_ts_us > trade_ts_us pair that violates the at-or-before
    * contract.
    *
    * Scale posture: state per key is ONE (ts, v) register — two longs,
    * bounded by the key universe, the smallest state of any family;
    * per-row work is a comparison. Emission is immediate (no watermark
    * wait): latency is one micro-batch.
    */
  def asofStream(tagged: DataFrame,
      toleranceUs: Long = Long.MaxValue): Dataset[AsofMatch] = {
    require(toleranceUs >= 0, s"asofStream: negative tolerance $toleranceUs")
    val spark = tagged.sparkSession
    import spark.implicits._
    tagged.select(col("key"), col("ts_us"), col("is_quote"), col("v")).as[AsofRow]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[AsofRow], state: GroupState[(Long, Double)]) =>
          var (qTs, qV) = state.getOption.getOrElse((Long.MinValue, 0.0))
          var hasQuote = state.exists
          val out = Seq.newBuilder[AsofMatch]
          rows.toSeq.sortBy(r => (r.ts_us, !r.is_quote, r.v)).foreach { r =>
            if (r.is_quote) {
              if (!hasQuote || r.ts_us > qTs || (r.ts_us == qTs && r.v > qV)) {
                qTs = r.ts_us; qV = r.v; hasQuote = true
              }
            } else {
              // tolerance horizon (the b54 point-in-time rule): a register
              // older than the tolerance is stale — emit unmatched rather
              // than join against ancient context. The register must also
              // not be FROM THE FUTURE: a cross-batch out-of-order arrival
              // can leave a quote with qTs > this trade's ts in state, and
              // matching it would violate the at-or-before contract — emit
              // unmatched instead (the only directions the ingest-time
              // approximation permits are miss and retro-miss, never a
              // future match).
              val fresh = hasQuote && qTs <= r.ts_us && r.ts_us - qTs <= toleranceUs
              out += AsofMatch(key, r.ts_us, r.v,
                if (fresh) Some(qTs) else None,
                if (fresh) Some(qV) else None)
            }
          }
          if (hasQuote) state.update((qTs, qV))
          out.result().iterator
      }
  }

  /** [[asofStream]] over two separate streams — tags and unions them. */
  def asofStream(trades: DataFrame, quotes: DataFrame): Dataset[AsofMatch] =
    asofStream(
      trades.select(col("key"), col("ts_us"), lit(false).as("is_quote"), col("v"))
        .unionByName(
          quotes.select(col("key"), col("ts_us"), lit(true).as("is_quote"), col("v"))))

  /** EVENT-TIME as-of join — the watermark-buffered twin of
    * [[asofStream]] that is EXACT under out-of-order arrival (the
    * remaining streaming-semantics gap the r16 verdict named): instead
    * of matching each trade immediately against a latest-quote register,
    * trades BUFFER in keyed state until the watermark passes their
    * event time — at which point every quote at-or-before the trade has
    * either arrived or is provably late — and only then emit against
    * the true max-(ts, v) quote ≤ trade ts, exactly batch b9's
    * declarative join.
    *
    * Exactness argument: a trade at ts T emits only once watermark ≥ T.
    * Any quote still in flight has event time > watermark ≥ T (rows at
    * or below the watermark are dropped as late, the standard
    * contract), so it cannot be an at-or-before match for T — the
    * emitted match is final. Under a feed whose disorder is bounded by
    * the watermark delay (nothing actually dropped), the output is
    * row-for-row the batch as-of join; with genuinely late data, both
    * sides drop exactly the late rows.
    *
    * State & latency: per key, the pending trades plus the quotes that
    * can still matter — the latest quote at-or-below the watermark and
    * every quote above it — so state is bounded by the disorder window,
    * not history (quotes older than the watermark are dominated and
    * pruned). A key that stops receiving rows keeps re-arming its
    * timeout only while it still has flushable trades or prunable
    * quotes; once collapsed it holds exactly ONE dominated register —
    * the same per-key bound as the ingest-time variant — with no
    * further wakeups. Latency is the watermark delay (the price of
    * exactness; [[asofStream]] is the zero-latency approximation).
    * Pending trades
    * flush via event-time timeouts when the watermark advances, even if
    * their key sees no further rows; trades inside the final
    * still-open watermark window flush only when the watermark moves —
    * the inherent tail of every watermark operator.
    *
    * Granularity note: Spark's watermark and event-time-timeout APIs are
    * MILLISECOND-granular; `ts_us` rides through exactly, but the seal
    * boundary quantizes to the ms — with epoch-scale microsecond
    * timestamps (every real feed) this is invisible, and the emitted
    * matches are unaffected either way (only emission TIMING quantizes,
    * never which quote wins).
    */
  def asofStreamEventTime(tagged: DataFrame, delay: String): Dataset[AsofMatch] = {
    val spark = tagged.sparkSession
    import spark.implicits._
    tagged
      .withColumn("ets", timestamp_micros(col("ts_us")))
      .withWatermark("ets", delay)
      // the watermark column must survive into the stateful operator's
      // input (Spark's event-time-timeout check looks for it there)
      .select(col("key"), col("ts_us"), col("is_quote"), col("v"), col("ets"))
      .as[AsofRowEt]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[AsofRowEt],
            state: GroupState[(Seq[(Long, Double)], Seq[(Long, Double)])]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (pTrades, pQuotes) = state.getOption.getOrElse(
            (Seq.empty[(Long, Double)], Seq.empty[(Long, Double)]))
          // in-batch accumulation in growable buffers (Seq :+ on the
          // list-backed state would copy per row — quadratic on hot keys)
          val trades = scala.collection.mutable.ArrayBuffer.from(pTrades)
          val quotes = scala.collection.mutable.ArrayBuffer.from(pQuotes)
          rows.foreach { r =>
            // at-or-below the watermark = late; dropped on BOTH arms (the
            // batch twin over an undropped feed never sees such rows)
            if (r.ts_us > wmUs) {
              if (r.is_quote) quotes += ((r.ts_us, r.v))
              else trades += ((r.ts_us, r.v))
            }
          }
          // the watermark has sealed every trade at-or-below it: no
          // earlier-ts quote can still arrive — emit final matches
          val (ready, pending) = trades.partition(_._1 <= wmUs)
          val sortedQ = quotes.sortBy(identity).toIndexedSeq
          val out = ready.sorted.map { case (tts, tv) =>
            // (ts, v)-sorted: last quote with ts <= tts is max ts, then
            // max v — the b9 tie rule
            val best = sortedQ.takeWhile(_._1 <= tts).lastOption
            AsofMatch(key, tts, tv, best.map(_._1), best.map(_._2))
          }
          // prune: every future trade has ts > wm, so only the LATEST
          // quote at-or-below wm plus the quotes above it can matter
          val (dominated, live) = sortedQ.partition(_._1 <= wmUs)
          val kept = dominated.lastOption.toSeq ++ live
          if (pending.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update((pending.toSeq, kept))
            // wake on the next watermark advance while there is work a
            // future advance can do WITHOUT new rows on this key: sealed
            // trades to flush, or still-live quotes to prune down. Once a
            // dormant key has collapsed to its single dominated register,
            // no timeout re-arms — it holds exactly the ingest-time
            // variant's one-register bound, with no per-batch re-fires.
            if (pending.nonEmpty || kept.length > 1)
              state.setTimeoutTimestamp(wmUs / 1000L + 1L)
          }
          out.iterator
      }
  }

  /** [[asofStreamEventTime]] over two separate streams. */
  def asofStreamEventTime(trades: DataFrame, quotes: DataFrame,
      delay: String): Dataset[AsofMatch] =
    asofStreamEventTime(
      trades.select(col("key"), col("ts_us"), lit(false).as("is_quote"), col("v"))
        .unionByName(
          quotes.select(col("key"), col("ts_us"), lit(true).as("is_quote"), col("v"))),
      delay)

  final case class RateObs(key: String, ts_us: Long)
  final case class RateAlert(key: String, bucket_us: Long, cnt: Long,
      ewma_e6: Long, dev_e6: Long, alarm: Boolean)

  /** Streaming rate-anomaly detection — the streaming twin of the batch
    * `b75_rate_anomaly`/`b91_cusum` pair: per key, fixed event-time
    * buckets are counted in keyed state; when a bucket CLOSES (a strictly
    * newer bucket arrives for that key) it is scored against the integer
    * fixed-point EWMA of the previously closed buckets and emitted with
    * its deviation. α = 1/8 via an arithmetic shift
    * (`ewma' = ewma + (cnt·1e6 − ewma) >> 3`, rounding toward −∞ for
    * negative steps), so the whole chain is exact integer arithmetic —
    * replayable, no IEEE drift across retries. Alarm fires when a closed
    * bucket more than doubles the forecast EWMA with a 4-event floor (a
    * cold key can't alarm on noise) and at least one prior closed bucket
    * (no baseline, no alarm).
    *
    * Semantics notes: the score uses the EWMA BEFORE folding the closed
    * bucket in (it is the forecast, not the smoothed hindsight); a
    * bucket only emits when a newer one arrives for the same key — the
    * trailing open bucket stays in state (the monitoring trade: a silent
    * key is itself an alert, covered by [[heartbeatAlerts]]). Rows for
    * already-closed buckets are dropped (the [[geofenceTransitions]]
    * ts-ordering discipline).
    *
    * Scale posture: state per key is one open bucket plus two longs —
    * bounded by the key universe, never history-sized; the per-row work
    * is a floorDiv and a counter bump, all map-side within the keyed
    * shuffle every stateful operator pays.
    */
  def rateAnomalyStream(events: DataFrame,
      bucketUs: Long = 60000000L): Dataset[RateAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("key"), col("ts_us")).as[RateObs]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        // state: (open bucket start, open count, ewma_e6, closed buckets)
        (key: String, rows: Iterator[RateObs], state: GroupState[(Long, Long, Long, Long)]) =>
          var (openB, openC, ewma, nClosed) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L, 0L))
          val out = Seq.newBuilder[RateAlert]
          rows.toSeq.sortBy(_.ts_us).foreach { r =>
            val b = Math.floorDiv(r.ts_us, bucketUs) * bucketUs
            if (b == openB) openC += 1
            else if (b > openB) {
              if (openB != Long.MinValue) {
                val cntE6 = openC * 1000000L
                val alarm = nClosed > 0 && openC >= 4 && cntE6 > 2L * ewma
                out += RateAlert(key, openB, openC, ewma, cntE6 - ewma, alarm)
                ewma = if (nClosed == 0) cntE6 else ewma + ((cntE6 - ewma) >> 3)
                nClosed += 1
              }
              openB = b
              openC = 1
            } // b < openB: late row for an already-closed bucket — dropped
          }
          state.update((openB, openC, ewma, nClosed))
          out.result().iterator
      }
  }

  /** Streaming zonal statistics — [[geofenceAlerts]]'s stateless
    * broadcast-containment feed folded to a watermarked tumbling-window
    * per-zone aggregate (the EO monitoring product: per admin zone per
    * window, observation count + exact value cents), emitted in Append
    * mode once the watermark closes the window — the streaming twin of
    * the batch `a11ao_zonal_stats`. The containment join carries no
    * state; the aggregate's state is |zones| × open windows, never
    * history-sized.
    *
    * `points` needs `geom_wkb` (POINT), `value`, `event_ts`; `fences`
    * needs `fence_id`, `fence_wkb`.
    */
  def zonalStatsStream(points: DataFrame, fences: DataFrame,
      windowDur: String, watermark: String): DataFrame =
    geofenceAlerts(points.withWatermark("event_ts", watermark), fences)
      .groupBy(window(col("event_ts"), windowDur), col("fence_id"))
      .agg(count(lit(1)).as("n_obs"),
        sum(floor(col("value") * 100.0).cast("long")).as("cents"))
      .select(col("fence_id"), col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("n_obs"), col("cents"))

  /** C6 streaming: watermarked waveform triage over a binary media stream
    * — the streaming half of `c6q_wav_rms`, for the ingest topology where
    * audio chunks arrive as messages and silence/clipping alarms must fire
    * per window, not per backfill. Input needs (layer, event_ts, payload
    * WAV bytes). The decode is the SAME
    * [[graft.operators.Multimodal.pcm16Stats]] integer core the batch
    * query runs (one definition site — the halves cannot drift), applied
    * statelessly per record; the only state is the tumbling-window
    * rollup, bounded by the watermark. Emits per (layer, window): chunk/
    * sample counts, exact Σs² energy, peak, and zero-crossings.
    */
  def waveformStream(media: DataFrame, windowDur: String,
      watermark: String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val decoded = media
      .select(col("layer"), col("event_ts"), col("payload"))
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .map { case (layer, ts, wav) =>
        val (n, sumSq, peak, flips) = graft.operators.Multimodal.pcm16Stats(wav)
        (layer, ts, n, sumSq, peak, flips)
      }
      .toDF("layer", "event_ts", "n_samples", "sum_sq", "peak", "flips")
    decoded
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), windowDur), col("layer"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_samples")).cast("long").as("n_samples"),
        sum(col("sum_sq")).cast("long").as("sum_sq"),
        max(col("peak")).cast("long").as("max_peak"),
        sum(col("flips")).cast("long").as("n_crossings"))
      .select(col("layer"), col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("n_chunks"), col("n_samples"),
        col("sum_sq"), col("max_peak"), col("n_crossings"))
  }

  def enrichStream(obs: DataFrame, ctx: DataFrame, lookbackSec: Int,
      watermark: String): DataFrame = {
    val o = obs.withWatermark("obs_ts", watermark)
    val c = ctx.withWatermark("ctx_ts", watermark)
    o.join(c, expr(
      s"""layer = ctx_layer AND
          ctx_ts >= obs_ts - interval $lookbackSec seconds AND
          ctx_ts <= obs_ts"""))
  }

  /** LEFT OUTER stream-stream interval join — [[enrichStream]] for the
    * monitoring shape where an observation with NO context is itself the
    * signal (uncalibrated sensor, orphan reading): matched rows emit as
    * they meet; an unmatched observation emits ONCE, null-padded, only
    * after the watermark proves no future context row can still fall in
    * its lookback window. Until that proof the row sits in the join
    * state — outer-join results are therefore delayed by up to the
    * watermark, which is the semantics (not a bug): emitting earlier
    * could require a retraction Append mode cannot express.
    *
    * State bound: identical to the inner join — both sides evict on the
    * opposing watermark + time constraint; the null-pad adds no state,
    * only the emission rule. Requires (and Spark enforces) the watermark
    * on the null-producing side plus the event-time range.
    */
  def enrichStreamOuter(obs: DataFrame, ctx: DataFrame, lookbackSec: Int,
      watermark: String): DataFrame = {
    val o = obs.withWatermark("obs_ts", watermark)
    val c = ctx.withWatermark("ctx_ts", watermark)
    o.join(c, expr(
      s"""layer = ctx_layer AND
          ctx_ts >= obs_ts - interval $lookbackSec seconds AND
          ctx_ts <= obs_ts"""), "leftOuter")
  }

  /** One micro-batch's prop profile: the layers it touches (`None` = null
    * layer) and, per prop key in sorted order, the narrowest type ALL of
    * its non-null batch values parse as.
    */
  private case class BatchProfile(layers: Seq[Option[String]], types: Seq[(String, DataType)])

  /** The one bounded profile pass over a micro-batch: a single job whose
    * collect holds one row per (layer, prop key) pair — layers × keys, not
    * rows. `explode_outer` keeps rows with no props (null key), so every
    * input row lands in some group: an empty result is an empty batch.
    */
  private def profile(batch: DataFrame): BatchProfile = {
    // integral = digits only (a plain cast would truncate "1.5" to 1);
    // try_cast (not cast) because ANSI mode throws on malformed input —
    // here an unparseable value must just count as "not this type"
    val asLong = when(col("v").rlike("^[+-]?\\d{1,19}$"), col("v").try_cast(LongType))
    val asBool = lower(col("v")).isin("true", "false")
    val rows = batch.select(col("layer"), explode_outer(col("props")).as(Seq("k", "v")))
      .groupBy("layer", "k").agg(
        count(col("v")).as("n"),
        count(asLong).as("n_long"),
        count(col("v").try_cast(DoubleType)).as("n_double"),
        sum(when(asBool, 1L).otherwise(0L)).as("n_bool"))
      .collect()
    val types = rows.filterNot(_.isNullAt(1)).groupBy(_.getString(1)).toSeq.sortBy(_._1)
      .map { case (k, rs) =>
        val Seq(n, nLong, nDouble, nBool) = (2 to 5).map(i => rs.map(_.getLong(i)).sum)
        k -> (
          // a key whose values were all null this batch stays a string column
          if (n == 0) StringType
          else if (nLong == n) LongType
          else if (nDouble == n) DoubleType
          else if (nBool == n) BooleanType
          else StringType)
      }
    BatchProfile(rows.map(r => Option(r.getString(0))).distinct.toSeq, types)
  }

  private def withPropColumns(batch: DataFrame, types: Seq[(String, DataType)]): DataFrame =
    types.foldLeft(batch) { case (df, (k, t)) =>
      df.withColumn(s"prop_$k", element_at(col("props"), k).cast(t))
    }.drop("props")

  /** A8: evolve the sink column set from the props seen in this batch —
    * the reference's "add missing columns on demand" PostGIS behavior —
    * and promote each new column to the narrowest type ALL of its
    * non-null batch values parse as: long, else double, else boolean,
    * else string (a key whose values are all null stays string). The
    * types come from one profile pass, the same one [[upsertBatch]] runs:
    * one distributed aggregate whose collect is bounded by layers × keys
    * (not rows), mirroring the typed DDL the reference issues per new
    * column. Cross-batch type conflicts are reconciled at the store merge
    * ([[upsertBatch]]), never here.
    */
  def evolveColumns(batch: DataFrame): DataFrame =
    withPropColumns(batch, profile(batch).types)

  /** Narrowest common supertype for cross-batch prop column conflicts:
    * the numeric pair widens to double, everything else to string — a
    * widening never nulls out previously stored values.
    */
  private def widen(a: DataType, b: DataType): DataType =
    if (a == b) a
    else if ((a == LongType && b == DoubleType) || (a == DoubleType && b == LongType)) DoubleType
    else StringType

  /** A9+A12: idempotent keyed upsert of one micro-batch into a parquet
    * store partitioned by `layer`. Latest version per (layer, feature_id)
    * wins, with a total deterministic tiebreak so replays can't flip the
    * winner.
    *
    * Scale bound: per-batch work is O(batch + store partitions the batch
    * touches), NOT O(store) — only the `layer=` partitions present in the
    * incoming batch are read (partition-pruned scan), merged, and swapped;
    * every other partition's files are never opened or rewritten. Over a
    * stream's life that turns the old full-store rewrite's quadratic cost
    * into cost linear in delivered data (times touched-partition size). A
    * finer real-world bound adds a date subpartition; the mechanism is the
    * same. Each touched partition is written fresh then swapped by rename
    * (never read-while-overwrite).
    *
    * Per micro-batch cost: ONE profile job (the [[evolveColumns]] pass,
    * which also yields the touched layers; an empty batch — e.g. the
    * watermark's no-data trigger — stops after it) plus the store write.
    * The batch is persisted (MEMORY_AND_DISK) for the call and released in
    * a `finally`: without it every action re-runs the whole upstream plan
    * (decode → route → watermark/dedup), so the stateful dedup would
    * execute once per action instead of once per trigger.
    */
  def upsertBatch(batch: DataFrame, storeDir: String): Unit = {
    batch.persist(StorageLevel.MEMORY_AND_DISK)
    try upsertProfiled(batch, storeDir)
    finally batch.unpersist()
  }

  private def upsertProfiled(batch: DataFrame, storeDir: String): Unit = {
    val spark = batch.sparkSession
    val prof = profile(batch)
    if (prof.layers.isEmpty) return
    val evolved = withPropColumns(batch, prof.types)
    // null layers land in __HIVE_DEFAULT_PARTITION__, which the swap below
    // replaces like any other touched partition — so the existing-store
    // filter must match them too (bare isInCollection's null semantics
    // would exclude them, silently dropping stored null-layer features)
    val hasNullLayer = prof.layers.contains(None)
    val layers = prof.layers.flatten
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new Path(storeDir)
    val merged =
      if (fs.exists(store)) {
        // this filter prunes to the touched layer= partitions
        val touched = (
          (if (layers.nonEmpty) Seq(col("layer").isInCollection(layers)) else Nil) ++
          (if (hasNullLayer) Seq(col("layer").isNull) else Nil)
        ).reduce(_ || _)
        val existingAll = spark.read.option("mergeSchema", "true").parquet(storeDir)
          .withColumn("layer", col("layer").cast(StringType))
        // Reconcile cross-batch prop column types by widening to the
        // common supertype ([[widen]]) — stored values are never nulled.
        // When the STORE side must widen, that is a schema migration: the
        // store cannot hold two parquet types for one column across
        // partitions (mergeSchema would refuse the next read), so the
        // batch expands to ALL layers and every partition is rewritten —
        // the bounded-touch fast path resumes on the next batch. Batch-
        // side-only widening (store already wider) stays partition-bounded.
        val exTypes = existingAll.schema.map(f => f.name -> f.dataType).toMap
        val evTypes = evolved.schema.map(f => f.name -> f.dataType).toMap
        val sharedProps = exTypes.keySet.intersect(evTypes.keySet)
          .filter(_.startsWith("prop_")).toSeq.sorted
        val storeConflicts = sharedProps
          .filter(c => widen(exTypes(c), evTypes(c)) != exTypes(c))
        val existing =
          if (storeConflicts.isEmpty) existingAll.filter(touched)
          else {
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"upsertBatch: widening store columns ${storeConflicts.mkString(", ")} — " +
                "full-store schema migration (all partitions rewritten this batch)")
            storeConflicts.foldLeft(existingAll) { (df, c) =>
              df.withColumn(c, col(c).cast(widen(exTypes(c), evTypes(c))))
            }
          }
        val evolvedW = sharedProps
          .filter(c => widen(exTypes(c), evTypes(c)) != evTypes(c))
          .foldLeft(evolved) { (df, c) =>
            df.withColumn(c, col(c).cast(widen(exTypes(c), evTypes(c))))
          }
        existing.unionByName(evolvedW, allowMissingColumns = true)
      } else evolved
    val w = Window.partitionBy(col("layer"), col("feature_id"))
      .orderBy(col("event_ts").desc, col("fmt_version").desc, col("source").desc)
    val latest = merged
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    swapPartitions(latest, storeDir)
  }

  /** Swap a set of per-layer frames into the store by directory rename —
    * the shared tail of [[upsertBatch]], [[compactLayer]] and
    * [[expireOlderThan]]: write fresh, then replace each touched
    * `layer=` dir atomically-per-partition (never read-while-overwrite).
    */
  private def swapPartitions(df: DataFrame, storeDir: String): Unit = {
    val spark = df.sparkSession
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new Path(storeDir)
    val tmp = new Path(storeDir + "_swap")
    df.write.mode("overwrite").partitionBy("layer").parquet(tmp.toString)
    if (!fs.exists(store)) fs.mkdirs(store)
    fs.listStatus(tmp).filter(_.getPath.getName.startsWith("layer="))
      .foreach { st =>
        val dest = new Path(store, st.getPath.getName)
        if (fs.exists(dest)) fs.delete(dest, true)
        fs.rename(st.getPath, dest)
      }
    fs.delete(tmp, true)
  }

  /** Small-file compaction for one layer of the store: micro-batch
    * upserts leave one file set per touched batch, and a long-running
    * stream accumulates thousands of small files per partition — the
    * classic streaming-sink operational task. Rewrites JUST the given
    * layer into `targetFiles` files (rows unchanged), leaving every other
    * partition's bytes untouched, so cost is bounded by one partition's
    * size no matter how large the store grows.
    */
  def compactLayer(spark: SparkSession, storeDir: String, layer: String,
      targetFiles: Int = 1): Unit = {
    val one = spark.read.option("mergeSchema", "true").parquet(storeDir)
      .withColumn("layer", col("layer").cast(StringType))
      .filter(col("layer") === layer)
      .repartition(targetFiles)
    swapPartitions(one, storeDir)
  }

  /** Retention: drop features with `event_ts` at-or-before the cutoff.
    * Only partitions that actually hold expired rows are rewritten (the
    * others' files are never opened past footer pruning), so steady-state
    * cost follows the expiring data volume, not the store size.
    */
  def expireOlderThan(spark: SparkSession, storeDir: String,
      cutoff: java.sql.Timestamp): Unit = {
    val all = spark.read.option("mergeSchema", "true").parquet(storeDir)
      .withColumn("layer", col("layer").cast(StringType))
    // bounded: distinct layers containing expired rows, not rows
    val touched = all.filter(col("event_ts") <= lit(cutoff))
      .select("layer").distinct().collect().map(r => Option(r.getString(0)))
    if (touched.isEmpty) return
    val layers = touched.flatten.toSeq
    val hasNull = touched.contains(None)
    val cond = (
      (if (layers.nonEmpty) Seq(col("layer").isInCollection(layers)) else Nil) ++
      (if (hasNull) Seq(col("layer").isNull) else Nil)
    ).reduce(_ || _)
    val survivors = all.filter(cond && col("event_ts") > lit(cutoff))
    // computed BEFORE the swap: survivors is lazy over the store's current
    // files, which the swap replaces — an action afterwards would re-scan
    // deleted paths
    val alive = survivors.select("layer").distinct().collect()
      .map(r => Option(r.getString(0))).toSet
    swapPartitions(survivors, storeDir)
    // a fully-expired layer writes no replacement dir — delete it explicitly
    // (same escaping the writer uses, so weird layer values still match)
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (touched.toSet -- alive).foreach { gone =>
      val dirName = "layer=" + gone.map(
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName)
        .getOrElse("__HIVE_DEFAULT_PARTITION__")
      val dest = new Path(storeDir, dirName)
      if (fs.exists(dest)) fs.delete(dest, true)
    }
  }

  /** Per-layer FILE statistics from the directory listing alone — no data
    * scan, no footer read: the operational signal a compaction policy
    * keys on (micro-batch upserts leave one file set per touched batch,
    * so file count growth IS the small-file problem, measurable for free).
    * Returns (layer, n_files, bytes) rows.
    */
  def layerFileStats(spark: SparkSession, storeDir: String): Seq[(String, Long, Long)] = {
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new Path(storeDir)
    if (!fs.exists(store)) return Seq.empty
    fs.listStatus(store).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("layer="))
      .map { st =>
        val layer = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(st.getPath.getName.stripPrefix("layer="))
        val files = fs.listStatus(st.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
        (layer, files.length.toLong, files.map(_.getLen).sum)
      }
      .sortBy(_._1)
  }

  /** MEASUREMENT-driven compaction (VERDICT r15 #8): compact every layer
    * whose file count exceeds `maxFiles` down to `targetFiles`, leaving
    * the healthy layers' bytes untouched — the policy loop an operator
    * runs on a long-lived streaming store instead of hand-picking layers.
    * Returns the layers compacted (empty = store healthy). Cost is
    * bounded by the unhealthy layers' data volume: the trigger reads
    * only the file LISTING.
    */
  def compactIfNeeded(spark: SparkSession, storeDir: String,
      maxFiles: Int, targetFiles: Int = 1): Seq[String] = {
    require(maxFiles >= targetFiles && targetFiles >= 1,
      s"compactIfNeeded: maxFiles $maxFiles must be >= targetFiles $targetFiles >= 1")
    val unhealthy = layerFileStats(spark, storeDir)
      .collect { case (layer, nFiles, _) if nFiles > maxFiles => layer }
    unhealthy.foreach(compactLayer(spark, storeDir, _, targetFiles))
    unhealthy
  }

  /** Per-layer catalog summary of the store — the observability a PostGIS
    * user gets from SQL over their tables: row and distinct-feature
    * counts, freshest event time, and the geometry extent (envelope union
    * over WKB bboxes). One scan, partition-pruned when `layers` is given,
    * everything partial-aggregated map-side — cost follows the selected
    * layers' size at any store scale.
    */
  def storeStats(spark: SparkSession, storeDir: String,
      layers: Seq[String] = Nil): DataFrame = {
    val bboxUdf = udf { (wkb: Array[Byte]) =>
      Option(wkb).map(graft.functions.Wkb.bbox)
    }
    val all0 = spark.read.option("mergeSchema", "true").parquet(storeDir)
      .withColumn("layer", col("layer").cast(StringType))
    val all =
      if (layers.isEmpty) all0 else all0.filter(col("layer").isInCollection(layers))
    // stores written from geometry-less envelopes have no geom_wkb column
    val bb =
      if (all.columns.contains("geom_wkb")) bboxUdf(col("geom_wkb"))
      else lit(null).cast("struct<xmin:double,ymin:double,xmax:double,ymax:double>")
    all.select(col("layer"), col("feature_id"), col("event_ts"), bb.as("bb"))
      .groupBy(col("layer"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("feature_id")).as("n_features"),
        max(col("event_ts")).as("latest_ts"),
        min(col("bb.xmin")).as("xmin"), min(col("bb.ymin")).as("ymin"),
        max(col("bb.xmax")).as("xmax"), max(col("bb.ymax")).as("ymax"))
      .orderBy(col("layer"))
  }

  /** The full A4→A12 consume pipeline as one streaming query. Each
    * micro-batch is the transaction unit (A10): the reference's "N inserts
    * per commit" batching maps to trigger-bounded micro-batches.
    */
  def runToStore(
      spark: SparkSession, transport: Transport, layers: Seq[String],
      storeDir: String, checkpointDir: String,
      watermark: String = "1 hour"): StreamingQuery = {
    val decoded = withEffectivelyOnce(route(decode(transport.read(spark)), layers), watermark)
    decoded.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => upsertBatch(batch, storeDir) }
      .start()
  }

  /** B33 on the Spark 4 arbitrary-state API: same running (count, max ts)
    * per layer as [[runningLayerStats]], expressed as a StatefulProcessor
    * with an explicit ValueState. Requires the RocksDB state-store
    * provider (`spark.sql.streaming.stateStore.providerClass`).
    */
  class LayerStatsProcessor
      extends StatefulProcessor[String, (String, Long), (String, Long, Long)] {
    @transient private var state: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long)](
        "layerStats", Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[(String, Long, Long)] = {
      val (n0, mx0) = if (state.exists()) state.get() else (0L, Long.MinValue)
      var n = n0
      var mx = mx0
      rows.foreach { case (_, ts) => n += 1; if (ts > mx) mx = ts }
      state.update((n, mx))
      Iterator((key, n, mx))
    }
  }

  /** [[runningLayerStats]] re-expressed through `transformWithState`. */
  def runningLayerStatsV2(features: DataFrame): Dataset[(String, Long, Long)] = {
    val spark = features.sparkSession
    import spark.implicits._
    features
      .select(col("layer"), unix_micros(col("event_ts")).as("ts_us"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new LayerStatsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Heartbeat monitor: per-layer EVENT-TIME TIMERS. Every arrival
    * re-arms the layer's timer at last_seen + gap; if the watermark then
    * passes that deadline with no newer feature, [[handleExpiredTimer]]
    * emits one (layer, last_seen_us, expiry_ms) alert — the missing-feed
    * detector an ingestion pipeline runs beside its sink. State is
    * O(layers) (one Long + one timer each); alerts fire exactly once per
    * silence because firing consumes the timer and only new data re-arms
    * it. Event-time semantics make it replay-deterministic: a crash/replay
    * reaches the same watermark and fires the same alerts.
    */
  class HeartbeatProcessor(gapMs: Long)
      extends StatefulProcessor[String, (String, Long), (String, Long, Long)] {
    @transient private var lastSeenUs: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastSeenUs = getHandle.getValueState[Long](
        "lastSeenUs", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[(String, Long, Long)] = {
      var mx = if (lastSeenUs.exists()) lastSeenUs.get() else Long.MinValue
      rows.foreach { case (_, ts) => if (ts > mx) mx = ts }
      // re-arm: retire any earlier deadline, then arm at the new one
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      lastSeenUs.update(mx)
      getHandle.registerTimer(mx / 1000L + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(String, Long, Long)] =
      Iterator((key, lastSeenUs.get(), expiredTimerInfo.getExpiryTimeInMs()))
  }

  /** Gap alerts over decoded features: (layer, last_seen_us, expiry_ms)
    * once a layer is silent for `gapMs` of event time. `delay` is the
    * watermark lateness bound of the source.
    */
  /** Streaming trending top-k, stage 1: sliding-window counts per layer
    * under a watermark, APPEND mode — a window emits exactly once, when
    * the watermark closes it. The per-window rank cut cannot live in the
    * same streaming plan (window functions over a streaming aggregate are
    * unsupported — there is no incremental top-k state Spark can keep
    * consistent under late data), so the cut is stage 2
    * ([[trendingBatchTopK]]) inside `foreachBatch`: each micro-batch
    * carries ONLY the windows the watermark just closed, so the sort is
    * over |closed windows|·|layers| rows — bounded, never corpus-sized.
    * At 100 TB the count aggregate partial-aggregates map-side per
    * (window, layer); state is |open windows|·|layers|.
    */
  def trendingCounts(features: DataFrame, windowDur: String, slideDur: String,
      watermark: String): DataFrame =
    features
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), windowDur, slideDur), col("layer"))
      .count()

  /** Streaming sessionization — the streaming half of the batch
    * `b30_session`/`b98_session_hist` pair, with the identical session
    * definition (native `session_window`, gap-based): per (user,
    * session), event count and first/last timestamps, emitted in Append
    * mode once the watermark passes the session's end (a session is only
    * final when no event can extend it — exactly the gap semantics).
    * State per key is one open session interval, evicted at emission —
    * bounded by the active-user count, not history.
    */
  def sessionizeStream(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("event_ts", watermark)
      .groupBy(session_window(col("event_ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_ts")).as("first_ts"), max(col("event_ts")).as("last_ts"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("first_ts"), col("last_ts"))

  /** Stage 2 (run inside foreachBatch on [[trendingCounts]] output): keep
    * the top-k layers per closed window, deterministic (count desc, layer
    * asc) order. Plain batch plan — WindowGroupLimit prunes per window.
    */
  def trendingBatchTopK(batch: DataFrame, k: Int): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    batch
      .withColumn("rank", row_number().over(
        Window.partitionBy($"window").orderBy($"count".desc, $"layer")))
      .filter($"rank" <= k)
      .select($"window.start".as("win_start"), $"layer", $"count", $"rank")
  }

  def heartbeatAlerts(features: DataFrame, gapMs: Long,
      delay: String = "0 seconds"): Dataset[(String, Long, Long)] = {
    val spark = features.sparkSession
    import spark.implicits._
    features
      .withWatermark("event_ts", delay)
      .select(col("layer"), unix_micros(col("event_ts")).as("ts_us"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new HeartbeatProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** B33: arbitrary stateful aggregation — running (count, max event ts)
    * per layer via flatMapGroupsWithState, state unbounded by watermark
    * (layer cardinality is small and fixed).
    */
  def runningLayerStats(features: DataFrame): Dataset[(String, Long, Long)] = {
    val spark = features.sparkSession
    import spark.implicits._
    features
      .select(col("layer"), unix_micros(col("event_ts")).as("ts_us"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (layer: String, rows: Iterator[(String, Long)], state: GroupState[(Long, Long)]) =>
          val (n0, mx0) = state.getOption.getOrElse((0L, Long.MinValue))
          var n = n0
          var mx = mx0
          rows.foreach { case (_, ts) => n += 1; if (ts > mx) mx = ts }
          state.update((n, mx))
          Iterator((layer, n, mx))
      }
  }
}
