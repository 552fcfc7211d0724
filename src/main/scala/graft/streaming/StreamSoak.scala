package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming state-bound soak (VERDICT r13 directive #7): StreamBench
  * quotes rows/s at fixture scale; this main runs a stateful pipeline
  * over ≥10× that volume ([[graft.ScaleGen]] events, default 1M rows —
  * 10× the sf0.1 fixture) and records what the watermark/state-bound
  * claims (B30/B31) actually do under load: per-batch latency and the
  * state store's row/memory footprint across the run.
  *
  * Mechanics: events land as `slices` ts-RANGE files with increasing
  * mtimes, so the file stream's batches advance event time the way a
  * live topic would — the watermark moves every batch, closed sessions
  * emit, and their state evicts. The numbers that matter:
  *
  *   - `state_rows_max` must sit near the ACTIVE-user count (open
  *     sessions), orders of magnitude under total rows — the eviction
  *     proof. A state store that grows with history would show
  *     state_rows ≈ rows_seen instead.
  *   - per-batch latency must stay flat across batches — a latency
  *     ramp means per-batch work proportional to accumulated state.
  *
  * Usage: `runMain graft.streaming.StreamSoak [nEvents] [slices] [mode]`
  * with mode `sessionize` (default — session_window state), `dedup`
  * (cross-batch MinHash near-dedup through transformWithState on
  * RocksDB: the B32/C2-streaming horizon claim — state bounded by the
  * DISTINCT signatures inside the eviction horizon, not by history),
  * `heartbeat` (r15 soak #3a — event-time TIMERS via
  * transformWithState/RocksDB: one HeartbeatProcessor key per entity,
  * state bounded by |entities| and timers firing as the watermark
  * sweeps), or `geofence` (r15 soak #3b — the flatMapGroupsWithState
  * ENTER/EXIT state machine over a 64-fence grid: state is one zone set
  * per entity, bounded by |entities|, never history).
  * Prints per-batch lines + ONE JSON summary for BENCH_NOTES.
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val slices = args.drop(1).headOption.map(_.toInt).getOrElse(20)
    val mode = args.drop(2).headOption.getOrElse("sessionize")
    // the dedup soak exercises the production state backend — RocksDB —
    // so the state_mem number is the real store's, not the HDFS-backed
    // in-memory map's
    val rocks = Seq("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = graft.Harness.session(
      (if (mode == "dedup" || mode == "heartbeat") rocks else Nil): _*)
    import spark.implicits._

    val t0us = 1704067200000000L
    val spanUs = 2592000000000L
    // ---- soak input: an event_ts-carrying frame per mode ----
    val (input, schema) = mode match {
      case "sessionize" =>
        (graft.ScaleGen.events(spark, n).select($"user_id", $"ts".as("event_ts")),
          "user_id BIGINT, event_ts TIMESTAMP")
      case "dedup" =>
        // documents with doc_id-proportional event times spanning the same
        // 30 days, so the ts-range slices advance the watermark batchwise
        (graft.ScaleGen.documents(spark, n)
          .select($"doc_id", $"text",
            timestamp_micros(lit(t0us) + $"doc_id" * (spanUs / math.max(1L, n)))
              .as("event_ts")),
          "doc_id BIGINT, text STRING, event_ts TIMESTAMP")
      case "heartbeat" =>
        // one heartbeat key per entity (~n/666 devices): the timer state
        // machine must hold ONE (last_ts, timer) per device, not history
        (graft.ScaleGen.events(spark, n)
          .select(concat(lit("u"), $"user_id").as("layer"), $"ts".as("event_ts")),
          "layer STRING, event_ts TIMESTAMP")
      case "geofence" =>
        // entities teleport across a fence grid each event — the
        // worst-case transition rate (every observation can flip zones)
        (graft.ScaleGen.events(spark, n)
          .select($"user_id".as("entity_id"), $"ts".as("event_ts"),
            (($"value" % 300.0) - 150.0).as("x"),
            (($"value" % 160.0) - 80.0).as("y")),
          "entity_id BIGINT, event_ts TIMESTAMP, x DOUBLE, y DOUBLE")
      case "rate" =>
        // per-device event-time rate buckets: the EWMA state machine's
        // state is one open bucket + two longs per key — |keys|-bounded
        (graft.ScaleGen.events(spark, n)
          .select(concat(lit("u"), $"user_id").as("key"), $"ts".as("event_ts")),
          "key STRING, event_ts TIMESTAMP")
      case "asof" | "asof_et" =>
        // tagged trade/quote mix per key: the latest-quote register is ONE
        // (ts, v) pair per key — the smallest state of any family; the
        // event-time twin additionally buffers watermark-unsealed trades
        (graft.ScaleGen.events(spark, n)
          .select($"user_id".as("key"), $"ts".as("event_ts"),
            ($"event_id" % 2L === 0L).as("is_quote"), $"value".as("v")),
          "key BIGINT, event_ts TIMESTAMP, is_quote BOOLEAN, v DOUBLE")
      case other => throw new IllegalArgumentException(s"unknown soak mode '$other'")
    }

    // ---- land n rows as ts-range slices with increasing mtimes ----
    val srcDir = Files.createTempDirectory("graft_soak_src").toString
    val ev = input.cache()
    val mt0 = System.currentTimeMillis() - 3600000L
    (0 until slices).foreach { i =>
      val lo = t0us + spanUs * i / slices
      val hi = t0us + spanUs * (i + 1) / slices
      val stage = Files.createTempDirectory("graft_soak_stage").toString
      ev.filter(unix_micros($"event_ts") >= lo && unix_micros($"event_ts") < hi)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new File(srcDir, f"slice$i%03d.parquet")
      Files.move(part.toPath, dst.toPath)
      require(dst.setLastModified(mt0 + i * 30000L))
    }
    val total = ev.count()
    ev.unpersist()

    // ---- run the pipeline to completion, one slice per batch ----
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val out = mode match {
      case "sessionize" =>
        FeaturePipeline.sessionizeStream(stream,
          gap = "30 minutes", watermark = "10 minutes")
      case "heartbeat" =>
        // 2 h heartbeat gap over ~65 min mean per-device cadence: a
        // healthy mix of firing and re-armed timers every batch
        FeaturePipeline.heartbeatAlerts(stream,
          gapMs = 2L * 3600 * 1000, delay = "10 minutes").toDF()
      case "geofence" =>
        // 8×8 grid of 30°×15° square fences tiling [-120,120]×[-60,60]
        val fences = (for (i <- 0 until 8; j <- 0 until 8) yield {
          val x0 = -120.0 + i * 30.0; val y0 = -60.0 + j * 15.0
          (f"fence_${i}_$j", graft.functions.Wkb.polygon(Seq(Seq(
            (x0, y0), (x0 + 30.0, y0), (x0 + 30.0, y0 + 15.0),
            (x0, y0 + 15.0), (x0, y0)))))
        }).toSeq
        FeaturePipeline.geofenceTransitions(
          stream.select($"entity_id", unix_micros($"event_ts").as("ts_us"),
            $"x", $"y"),
          fences).toDF()
      case "rate" =>
        // hourly buckets over the 30-day span: ~720 closable buckets per
        // device, EWMA folding as each closes
        FeaturePipeline.rateAnomalyStream(
          stream.select($"key", unix_micros($"event_ts").as("ts_us")),
          bucketUs = 3600000000L).toDF()
      case "asof" =>
        // every trade emits against the per-key latest-quote register
        FeaturePipeline.asofStream(
          stream.select($"key", unix_micros($"event_ts").as("ts_us"),
            $"is_quote", $"v")).toDF()
      case "asof_et" =>
        // EVENT-TIME as-of: trades buffer until the watermark seals them
        // (exact under disorder); trades inside the final 30 min window
        // stay unflushed at termination — the inherent watermark tail, so
        // sink_rows lands slightly under the trade count by design
        FeaturePipeline.asofStreamEventTime(
          stream.select($"key", unix_micros($"event_ts").as("ts_us"),
            $"is_quote", $"v"), delay = "30 minutes").toDF()
      case _ =>
        // 3-day horizon over 1.5-day batches: state must hold ~2 batches'
        // distinct signatures, never the run's history
        FeaturePipeline.nearDedupStreamCrossBatch(stream,
          java.time.Duration.ofDays(3), delay = "10 minutes")
    }
    var sink = 0L
    val wall0 = System.nanoTime()
    val q = out.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", Files.createTempDirectory("graft_soak_ckpt").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => sink += b.count(); () }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val wallSec = (System.nanoTime() - wall0) / 1e9

    // ---- per-batch latency + state footprint from the progress log ----
    val progs = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    case class B(batch: Long, rows: Long, ms: Long, stateRows: Long, stateMem: Long)
    val bs = progs.map { p =>
      val st = p.stateOperators.headOption
      B(p.batchId, p.numInputRows,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L),
        st.map(_.numRowsTotal).getOrElse(-1L),
        st.map(_.memoryUsedBytes).getOrElse(-1L))
    }
    bs.foreach { b =>
      System.err.println(f"[soak] batch ${b.batch}%3d  ${b.rows}%8d rows  " +
        f"${b.ms}%6d ms  state ${b.stateRows}%8d rows / ${b.stateMem / 1024}%8d KiB")
    }
    val latencies = bs.map(_.ms).filter(_ >= 0)
    val stateRowsMax = bs.map(_.stateRows).max
    val stateMemMax = bs.map(_.stateMem).max
    println(
      s"""{"metric":"stream_soak_$mode","rows":$total,"sink_rows":$sink,""" +
      f""""wall_sec":$wallSec%.1f,"rows_per_sec":${total / wallSec}%.0f,""" +
      s""""n_batches":${bs.length},""" +
      s""""batch_ms_max":${if (latencies.nonEmpty) latencies.max else -1},""" +
      s""""batch_ms_mean":${if (latencies.nonEmpty) latencies.sum / latencies.length else -1},""" +
      s""""state_rows_max":$stateRowsMax,"state_mem_max_bytes":$stateMemMax}""")
    spark.stop()
  }
}
