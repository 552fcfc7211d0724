package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming end-to-end throughput bench (VERDICT r11 #5): the batch
  * surface is timed every round by [[graft.Bench]], but the streaming
  * operators (dedup, cross-batch near-dedup, geofence, trending windows,
  * interval join) were spec-covered and never measured — a regression in
  * the state-store path or a UDF slipping into the per-event hot loop
  * would be invisible. This main drives each pipeline through a
  * MemoryStream with synthetic-but-deterministic data, forces completion
  * with `processAllAvailable`, and prints ONE JSON line with per-pipeline
  * rows/sec so BENCH_NOTES can track round-over-round.
  *
  * Measurement notes:
  *  - rows arrive in chunks with advancing event time, so watermark
  *    eviction and window closing run for real (not one giant batch);
  *  - the sink is `foreachBatch(count)` — forces full computation of
  *    every output row, stores nothing;
  *  - MemoryStream generation cost is inside the timed window on purpose:
  *    it is the same for every round, and excluding it would need an
  *    unmeasurable split of driver enqueue vs plan execution.
  *
  * Usage: `runMain graft.streaming.StreamBench [scale]` (scale defaults
  * to 1; rows per pipeline scale linearly).
  */
object StreamBench {
  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toInt).getOrElse(1)
    val spark = graft.Harness.session()
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    def ckpt(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft_sb_$tag").toString

    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Double)]

    def runPipeline[T <: Product : org.apache.spark.sql.Encoder](tag: String,
        build: MemoryStream[T] => DataFrame,
        chunks: Seq[Seq[T]], mode: OutputMode = OutputMode.Append): Unit = {
      val ms = MemoryStream[T]
      val out = build(ms)
      var sink = 0L
      val q = out.writeStream.outputMode(mode)
        .option("checkpointLocation", ckpt(tag))
        .foreachBatch { (b: DataFrame, _: Long) => sink += b.count(); () }
        .start()
      val rows = chunks.map(_.size.toLong).sum
      try {
        val sec = timed {
          chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
        }
        results += tag -> (rows, sec)
        System.err.println(f"[stream-bench] $tag%-12s $rows%8d rows  $sec%7.2f s  ${rows / sec}%9.0f rows/s  (sink=$sink)")
      } finally q.stop()
    }

    val pointUdf = udf { (x: Double, y: Double) => graft.functions.Wkb.point(x, y) }
    val us = 1000000L
    val min = 60L * us

    // 1. streaming near-dedup (dropDuplicatesWithinWatermark on the
    //    MinHash signature): 25% of rows are formatting variants of an
    //    earlier doc — the map-side signature UDF plus keyed state
    val dedupChunks = (0 until 10).map { c =>
      (0 until 10000 * scale).map { i =>
        val id = c * 10000L * scale + i
        val base = (0 until 12).map(t => s"tok${(id / 4) * 13 % 9973}_$t").mkString(" ")
        val text = if (id % 4 == 3) "  " + base.toUpperCase else base
        (id, text, c * min + (i % 60) * us)
      }
    }
    runPipeline[(Long, String, Long)]("neardedup",
      ms => FeaturePipeline.nearDedupStream(
        ms.toDF().toDF("doc_id", "text", "ts_us")
          .select($"doc_id", $"text", timestamp_micros($"ts_us").as("event_ts")),
        "5 minutes"),
      dedupChunks)

    // 2. cross-batch near-dedup (transformWithState + event-time timers):
    //    the durable-mark variant of #1 — heavier per-key state machine
    val cbChunks = (0 until 10).map { c =>
      (0 until 5000 * scale).map { i =>
        val id = c * 5000L * scale + i
        val base = (0 until 12).map(t => s"tok${(id / 4) * 17 % 9973}_$t").mkString(" ")
        (id, base, c * min + (i % 60) * us)
      }
    }
    // transformWithState requires the multi-column-family RocksDB store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    runPipeline[(Long, String, Long)]("crossbatch",
      ms => FeaturePipeline.nearDedupStreamCrossBatch(
        ms.toDF().toDF("doc_id", "text", "ts_us")
          .select($"doc_id", $"text", timestamp_micros($"ts_us").as("event_ts")),
        java.time.Duration.ofHours(6)),
      cbChunks)
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    // 3. geofence alerts: stateless broadcast point-in-polygon — the
    //    per-event decode→filter hot path at transport rates
    val fences = (0 until 64).map { f =>
      val x0 = (f % 8) * 50.0
      val y0 = (f / 8) * 50.0
      (s"zone_$f", graft.functions.Wkb.polygon(Seq(Seq(
        (x0, y0), (x0 + 40.0, y0), (x0 + 40.0, y0 + 40.0), (x0, y0 + 40.0), (x0, y0)))))
    }.toDF("fence_id", "fence_wkb")
    val geoChunks = (0 until 10).map { c =>
      (0 until 20000 * scale).map { i =>
        val id = c * 20000L * scale + i
        (id, (id * 7919 % 400).toDouble, (id * 104729 % 400).toDouble)
      }
    }
    runPipeline[(Long, Double, Double)]("geofence",
      ms => FeaturePipeline.geofenceAlerts(
        ms.toDF().toDF("feature_id", "x", "y")
          .withColumn("geom_wkb", pointUdf($"x", $"y")),
        fences),
      geoChunks)

    // 3b. streaming zonal stats: the geofence containment feed folded to
    //     a watermarked per-zone tumbling aggregate — windows close as
    //     each chunk advances event time by 10 minutes
    val zonalChunks = (0 until 10).map { c =>
      (0 until 20000 * scale).map { i =>
        val id = c * 20000L * scale + i
        (id, (id * 7919 % 400).toDouble, (id * 104729 % 400).toDouble,
          (id % 997).toDouble / 7.0, c * 10L * min + (i % 600) * us)
      }
    }
    runPipeline[(Long, Double, Double, Double, Long)]("zonal",
      ms => FeaturePipeline.zonalStatsStream(
        ms.toDF().toDF("feature_id", "x", "y", "value", "ts_us")
          .withColumn("geom_wkb", pointUdf($"x", $"y"))
          .select($"geom_wkb", $"value", timestamp_micros($"ts_us").as("event_ts")),
        fences, windowDur = "10 minutes", watermark = "1 minute"),
      zonalChunks)

    // 4. trending sliding-window counts: watermarked window agg, windows
    //    close as chunks advance event time by 10 minutes each
    val trendChunks = (0 until 10).map { c =>
      (0 until 20000 * scale).map { i =>
        val id = c * 20000L * scale + i
        (s"layer_${id % 40}", id, c * 10L * min + (i % 600) * us)
      }
    }
    runPipeline[(String, Long, Long)]("trending",
      ms => FeaturePipeline.trendingCounts(
        ms.toDF().toDF("layer", "feature_id", "ts_us")
          .select($"layer", $"feature_id", timestamp_micros($"ts_us").as("event_ts")),
        windowDur = "20 minutes", slideDur = "10 minutes", watermark = "5 minutes"),
      trendChunks)

    // 6. streaming sessionization: session_window agg in Append mode —
    //    sessions close as each chunk advances event time by 10 minutes
    //    past the 3-minute gap; state is one open interval per user
    val sessChunks = (0 until 10).map { c =>
      (0 until 20000 * scale).map { i =>
        val id = c * 20000L * scale + i
        (id % 500, id, c * 10L * min + (i % 180) * us)
      }
    }
    runPipeline[(Long, Long, Long)]("sessionize",
      ms => FeaturePipeline.sessionizeStream(
        ms.toDF().toDF("user_id", "event_id", "ts_us")
          .select($"user_id", timestamp_micros($"ts_us").as("event_ts")),
        gap = "3 minutes", watermark = "1 minute"),
      sessChunks)

    // 5. stream-stream interval enrichment join (dual watermark): the
    //    two-live-streams shape — observations join the context feed for
    //    the same layer within a 120 s lookback; state stays bounded by
    //    the watermark eviction, so throughput here is the state-store
    //    insert/evict cost, not history size
    {
      val obsMs = MemoryStream[(String, Long, Long)]
      val ctxMs = MemoryStream[(String, Long, Long)]
      val joined = FeaturePipeline.enrichStream(
        obsMs.toDF().toDF("layer", "obs_id", "ts_us")
          .select($"layer", $"obs_id", timestamp_micros($"ts_us").as("obs_ts")),
        ctxMs.toDF().toDF("ctx_layer", "ctx_id", "cts_us")
          .select($"ctx_layer", $"ctx_id", timestamp_micros($"cts_us").as("ctx_ts")),
        lookbackSec = 120, watermark = "5 minutes")
      var sink = 0L
      val q = joined.writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt("enrich"))
        .foreachBatch { (b: DataFrame, _: Long) => sink += b.count(); () }
        .start()
      val obsChunks = (0 until 10).map { c =>
        (0 until 10000 * scale).map { i =>
          val id = c * 10000L * scale + i
          (s"layer_${id % 40}", id, c * 10L * min + (i % 600) * us)
        }
      }
      val ctxChunks = (0 until 10).map { c =>
        (0 until 2000 * scale).map { i =>
          val id = c * 2000L * scale + i
          (s"layer_${id % 40}", id, c * 10L * min + (i % 600) * us)
        }
      }
      val rows = (obsChunks ++ ctxChunks).map(_.size.toLong).sum
      try {
        val sec = timed {
          obsChunks.zip(ctxChunks).foreach { case (o, c) =>
            ctxMs.addData(c); obsMs.addData(o); q.processAllAvailable()
          }
        }
        results += "enrich" -> (rows, sec)
        System.err.println(f"[stream-bench] ${"enrich"}%-12s $rows%8d rows  $sec%7.2f s  ${rows / sec}%9.0f rows/s  (sink=$sink)")
      } finally q.stop()
    }

    // 7. LEFT OUTER interval enrichment: same dual-watermark shape, but
    //    obs spread over 50 layers while ctx covers only 40 — one in five
    //    observations is unmatched and must take the watermark-delayed
    //    null-pad path, so this times the outer join's extra state hold +
    //    cleanup-emission machinery, not just the match path
    {
      val obsMs = MemoryStream[(String, Long, Long)]
      val ctxMs = MemoryStream[(String, Long, Long)]
      val joined = FeaturePipeline.enrichStreamOuter(
        obsMs.toDF().toDF("layer", "obs_id", "ts_us")
          .select($"layer", $"obs_id", timestamp_micros($"ts_us").as("obs_ts")),
        ctxMs.toDF().toDF("ctx_layer", "ctx_id", "cts_us")
          .select($"ctx_layer", $"ctx_id", timestamp_micros($"cts_us").as("ctx_ts")),
        lookbackSec = 120, watermark = "5 minutes")
      var sink = 0L
      var nullPads = 0L
      val q = joined.writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt("enrich_outer"))
        .foreachBatch { (b: DataFrame, _: Long) =>
          // one action for both totals — a second pass would recompute the
          // stateful outer-join batch inside the timed region, double-paying
          // sink work vs the inner-join bench this is compared against
          val r = b.agg(count(lit(1)), count(when(b("ctx_id").isNull, 1))).head()
          sink += r.getLong(0)
          nullPads += r.getLong(1)
          ()
        }
        .start()
      val obsChunks = (0 until 10).map { c =>
        (0 until 10000 * scale).map { i =>
          val id = c * 10000L * scale + i
          (s"layer_${id % 50}", id, c * 10L * min + (i % 600) * us)
        }
      }
      val ctxChunks = (0 until 10).map { c =>
        (0 until 2000 * scale).map { i =>
          val id = c * 2000L * scale + i
          (s"layer_${id % 40}", id, c * 10L * min + (i % 600) * us)
        }
      }
      val rows = (obsChunks ++ ctxChunks).map(_.size.toLong).sum
      try {
        val sec = timed {
          obsChunks.zip(ctxChunks).foreach { case (o, c) =>
            ctxMs.addData(c); obsMs.addData(o); q.processAllAvailable()
          }
        }
        results += "enrich_outer" -> (rows, sec)
        System.err.println(f"[stream-bench] ${"enrich_outer"}%-12s $rows%8d rows  $sec%7.2f s  ${rows / sec}%9.0f rows/s  (sink=$sink, null_pads=$nullPads)")
      } finally q.stop()
    }

    // 8. rate anomaly: keyed flatMapGroupsWithState bucket counter + the
    //    integer EWMA scorer — per-event state-machine hot path with a
    //    planted 10× burst in chunk 7 so the alarm branch really runs
    {
      val keys = 40
      val rateChunks = (0 until 10).map { c =>
        val base = (0 until 10000 * scale).map { i =>
          val id = c * 10000L * scale + i
          (s"layer_${id % keys}", c * 10L * min + (i % 600) * us)
        }
        val burst = if (c == 7) (0 until 4000 * scale).map { i =>
          (s"layer_${i % 4}", c * 10L * min + (i % 600) * us)
        } else Seq.empty
        base ++ burst
      }
      runPipeline[(String, Long)]("rateanomaly",
        ms => FeaturePipeline.rateAnomalyStream(
          ms.toDF().toDF("key", "ts_us")).toDF(),
        rateChunks)
    }

    // 9. waveform triage: per-record WAV build + RIFF chase + PCM16 decode
    //    (the binary-payload hot path) feeding a watermarked tumbling
    //    rollup — times the decode throughput, not just the window state
    {
      val waveChunks = (0 until 10).map { c =>
        (0 until 5000 * scale).map { i =>
          val id = c * 5000L * scale + i
          val payload = graft.operators.Multimodal.WavCodec.build(
            16000, 1, 16, s"sample payload $id pad ${"x" * (id % 64).toInt}".getBytes("UTF-8"))
          (s"mic_${id % 20}", c * 10L * min + (i % 600) * us, payload)
        }
      }
      runPipeline[(String, Long, Array[Byte])]("waveform",
        ms => FeaturePipeline.waveformStream(
          ms.toDF().toDF("layer", "ts_us", "payload")
            .select(col("layer"), timestamp_micros(col("ts_us")).as("event_ts"),
              col("payload")),
          windowDur = "5 minutes", watermark = "2 minutes"),
        waveChunks)
    }

    val total = results.values.map(_._2).sum
    val json = results.map { case (tag, (rows, sec)) =>
      f""""$tag":{"rows":$rows,"sec":$sec%.3f,"rows_per_sec":${(rows / sec).toLong}}"""
    }.mkString(",")
    println(s"""{"metric":"stream_bench_total_sec","value":${f"$total%.2f"},"unit":"sec","pipelines":{$json},"scale":$scale}""")
    spark.stop()
  }
}
