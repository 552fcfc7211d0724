package graft.e2ebench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType, StructField, StructType}

import graft.functions.{Feature, MsgPack, Wkb}
import graft.streaming.{FeaturePipeline, FileTransport}

/** The feature_ingest workload: the reference's Kafka → keyed store job as
  * a closed loop of one producer. Each batch is published as one
  * `FileTransport` file, the `runToStore` stream is waited on until it has
  * stored the batch, and one `storeStats` read follows.
  */
object Ingest {
  val Layers: IndexedSeq[String] = (0 until 8).map(i => s"layer$i")
  val Unrouted = "layer2"
  val Routed: Seq[String] = Layers.filterNot(_ == Unrouted)
  val T0Us = 1704067200000000L
  val BatchUs: Long = 10L * 60 * 1000000

  /** Seeded feature generator.
    *
    * Layers are Zipf-skewed; `layer2` is published but not routed. About
    * 10 % of messages are exact retransmits of recent routed messages and
    * 30 % are newer versions of live ids. From batch 2 on a few routed
    * events arrive three hours behind their batch, past the one-hour
    * watermark. The `height` prop is integral before `widenAt` and
    * fractional from it, so the store column widens from long to double.
    * The first `warm` batches are setup's warm-up; `widenAt` falls after
    * them.
    */
  final class Gen(seed: Long, val batches: Int, rows: Int, val warm: Int) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val cum = {
      val w = Layers.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    val widenAt: Int = warm + rnd.nextInt(math.max(1, batches - warm))
    /** (layer, feature_id) -> (event_ts_us, rev) of the latest routed, on-time version. */
    val expected = mutable.Map.empty[(String, String), (Long, Long)]
    /** Retransmits plus late events planted on routed layers. */
    var planted = 0L
    /** Per batch, the messages on routed layers (what reaches the dedup). */
    val routedRows = mutable.ArrayBuffer.empty[Long]
    private val lastVersion = mutable.Map.empty[(String, String), (Int, Long)]
    private val ids = mutable.ArrayBuffer.empty[(String, String)]
    private var nextId = 0L

    val wire: IndexedSeq[IndexedSeq[Array[Byte]]] = {
      var recent = IndexedSeq.empty[Array[Byte]]
      (0 until batches).map { b =>
        val base = T0Us + b * BatchUs
        val out = mutable.ArrayBuffer.empty[Array[Byte]]
        val routedNow = mutable.ArrayBuffer.empty[Array[Byte]]
        var routed = 0L
        def msg(layer: String, fid: String, ts: Long, rev: Long): Array[Byte] = {
          val height = rnd.nextInt(1000)
          val props = Map(
            "rev" -> rev.toString,
            "height" -> (if (b < widenAt) height.toString else s"$height.5"),
            "class" -> rnd.nextInt(12).toString)
          val geom = Wkb.point(rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)
          MsgPack.pack(Feature(layer, fid, geom, props, ts, s"src${rnd.nextInt(4)}", 1))
        }
        def fresh(): (String, String) = {
          val u = rnd.nextDouble()
          val layer = Layers(cum.indexWhere(u <= _) max 0)
          nextId += 1
          (layer, s"f$nextId")
        }
        while (out.size < rows) {
          val r = rnd.nextDouble()
          val poolSize = recent.size + routedNow.size
          if (r < 0.10 && poolSize > 0) {
            val i = rnd.nextInt(poolSize)
            out += (if (i < recent.size) recent(i) else routedNow(i - recent.size))
            planted += 1
            routed += 1
          } else if (r < 0.12 && b >= 2) {
            val (layer, fid) = fresh()
            val routedLayer = if (layer == Unrouted) Routed.head else layer
            out += msg(routedLayer, fid, base - 3 * 6 * BatchUs, 0)
            planted += 1
            routed += 1
          } else {
            val key =
              if (r < 0.42 && ids.nonEmpty) Some(ids(rnd.nextInt(ids.size)))
                .filter(k => lastVersion(k)._1 < b) else None
            val (layer, fid) = key.getOrElse(fresh())
            val rev = lastVersion.get((layer, fid)).map(_._2 + 1).getOrElse(0L)
            val ts = base + rnd.nextLong(BatchUs)
            val bytes = msg(layer, fid, ts, rev)
            if (key.isEmpty) ids += ((layer, fid))
            lastVersion((layer, fid)) = (b, rev)
            if (layer != Unrouted) {
              expected((layer, fid)) = (ts, rev)
              routedNow += bytes
              routed += 1
            }
            out += bytes
          }
        }
        recent = routedNow.toIndexedSeq
        routedRows += routed
        out.toIndexedSeq
      }
    }

    val wireBytes: Long = wire.map(_.map(_.length.toLong).sum).sum

    /** SHA-256 over every generated message, in publish order. */
    val inputHash: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      wire.foreach { batch =>
        md.update(java.nio.ByteBuffer.allocate(4).putInt(batch.size).array())
        batch.foreach { m =>
          md.update(java.nio.ByteBuffer.allocate(4).putInt(m.length).array())
          md.update(m)
        }
      }
      md.digest().map("%02x".format(_)).mkString
    }
  }

  private val schema = StructType(Seq(StructField("value", BinaryType)))

  /** One running stream over its own transport, store and checkpoint. */
  final class Stream(spark: SparkSession, dir: String) {
    // the file source needs its directory before the stream starts
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/topic"))
    val transport = new FileTransport(s"$dir/topic")
    val store = s"$dir/store"
    val query: StreamingQuery = FeaturePipeline.runToStore(
      spark, transport, Routed, store, s"$dir/checkpoint")
    val progress = mutable.LinkedHashMap.empty[Long, StreamingQueryProgress]

    def publish(batch: Seq[Array[Byte]]): Unit = {
      val rows = new java.util.ArrayList[Row](batch.size)
      batch.foreach(m => rows.add(Row(m)))
      transport.produce(spark.createDataFrame(rows, schema).coalesce(1))
    }

    /** Progress entries not seen before, in batch order. */
    def newProgress(): Seq[StreamingQueryProgress] =
      query.recentProgress.toSeq.filterNot(p => progress.contains(p.batchId)).map { p =>
        progress(p.batchId) = p
        p
      }

    def stop(): Unit = { query.stop(); newProgress() }
  }

  /** Setup's part: start the stream and run the warm-up batches through
    * the same publish, store and read steps as the measured ones, so the
    * measured batches start with the JIT and the state store warm.
    */
  def start(spark: SparkSession, dir: String, gen: Gen): Stream = {
    val s = new Stream(spark, dir)
    (0 until gen.warm).foreach { b =>
      s.publish(gen.wire(b))
      s.query.processAllAvailable()
      FeaturePipeline.storeStats(spark, s.store).collect()
    }
    s.newProgress()
    s
  }

  final case class Op(storedMs: Double, readMs: Double, ok: Boolean, error: String,
      liveMb: Double)
  final case class Result(ops: Seq[Op], checks: Map[String, Any], layers: Map[String, Double])

  private val PhaseOrder =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  def run(spark: SparkSession, s: Stream, gen: Gen, tr: Tracer): Result = {
    val (compiles0, compileS0) = Tracer.codegen
    val dataProgress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val lastSetupBatch = s.progress.values.filter(_.numInputRows > 0).map(_.batchId).max
    val ops = (gen.warm until gen.batches).map { b =>
      var err = ""
      var stored = Double.NaN
      var read = Double.NaN
      tr.span("batch", b) {
        val t0 = System.nanoTime()
        try {
          tr.span("produce", b)(s.publish(gen.wire(b)))
          val waitId = tr.span("wait", b) {
            s.query.processAllAvailable()
            tr.current
          }
          stored = (System.nanoTime() - t0) / 1e6
          val fresh = s.newProgress()
          // a micro-batch's jobs run inside its addBatch phase; a no-data
          // batch reports no phases we lay out, so its jobs hang under wait
          fresh.foreach { p =>
            var jobParent = waitId
            if (p.numInputRows > 0) {
              dataProgress += p
              var at = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
              PhaseOrder.foreach { ph =>
                Option(p.durationMs.get(ph)).map(_.doubleValue).foreach { d =>
                  val id = tr.addSpan(ph, b, waitId, at, at + d)
                  if (ph == "addBatch") jobParent = id
                  at += d
                }
              }
            }
            tr.mapBatch(p.batchId, jobParent)
          }
          val t1 = System.nanoTime()
          tr.span("read", b)(FeaturePipeline.storeStats(spark, s.store).collect())
          read = (System.nanoTime() - t1) / 1e6
        } catch {
          case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
      }
      // untimed, while the stream holds its state
      val live = tr.span("livemem", b)(Session.liveMb())
      Op(stored, read, err.isEmpty, err, live)
    }
    s.stop()
    tr.drain()
    val checks = check(spark, s, gen)
    val layers = mutable.Map.empty[String, Double]
    if (tr.enabled) {
      val (compiles1, compileS1) = Tracer.codegen
      layers("codegen.compiles") = (compiles1 - compiles0).toDouble
      layers("codegen.compile_s") = compileS1 - compileS0
      def med(xs: Seq[Double]): Double =
        if (xs.isEmpty) 0.0 else { val v = xs.sorted; v(v.size / 2) }
      def phase(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      Seq("latestOffset" -> "latest_offset_ms", "queryPlanning" -> "query_planning_ms",
        "addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
        "commitOffsets" -> "commit_offsets_ms").foreach { case (k, name) =>
        layers(s"streaming.$name") = med(dataProgress.map(phase(_, k)).toSeq)
      }
      val dataIds = dataProgress.map(_.batchId).toSet
      val perBatch = tr.jobsForBatches
      layers("streaming.jobs_per_batch") =
        dataIds.toSeq.map(perBatch.getOrElse(_, 0)).sum.toDouble / math.max(1, dataIds.size)
      val measured = s.progress.values.filter(_.batchId > lastSetupBatch).toSeq
      val empty = measured.filter(_.numInputRows == 0)
      layers("streaming.empty_batches") = empty.size.toDouble
      layers("streaming.empty_batch_ms") = med(empty.map(phase(_, "addBatch")))
      layers("streaming.source_reads_per_row") =
        tr.streamRecordsRead.toDouble / math.max(1L, dataProgress.map(_.numInputRows).sum)
      // state size after the last data batch, per execution of its plan (see check)
      val last = s.progress.values.filter(_.numInputRows > 0).lastOption
      val execs = checks("last_batch_executions").asInstanceOf[Double]
      layers("streaming.state_rows") =
        last.map(_.stateOperators.map(_.numRowsTotal).sum / execs).getOrElse(0.0)
      layers("streaming.state_mem_bytes") =
        last.map(_.stateOperators.map(_.memoryUsedBytes).sum / execs).getOrElse(0.0)
      layers("streaming.dropped_by_watermark") = checks("dropped_by_watermark").asInstanceOf[Long].toDouble
      layers("streaming.dropped_duplicates") = checks("dropped_duplicates").asInstanceOf[Long].toDouble
      layers("streaming.dedup_executions_per_batch") =
        checks("dedup_executions_per_batch").asInstanceOf[Double]
      val files = FeaturePipeline.layerFileStats(spark, s.store)
      layers("store.files") = files.map(_._2).sum.toDouble
      layers("store.bytes_per_input_byte") = files.map(_._3).sum.toDouble / gen.wireBytes
      layers("store.read_p50_ms") = med(ops.filter(_.ok).map(_.readMs))
      layers ++= tr.execMetrics
    }
    Result(ops, checks, layers.toMap)
  }

  /** The store against the generator: per routed layer the row count and
    * an order-independent checksum of (feature_id, event_ts, rev); the
    * unrouted layer absent; `height` widened to double; and dedup plus
    * watermark drops equal to the planted retransmits plus late events.
    *
    * The dedup operator's progress counters add up over every execution
    * of the micro-batch plan, and `upsertBatch` executes it once per
    * action. Every execution sees the same input, so per data batch the
    * counters are that many times (kept + duplicates + late) = routed
    * rows; dividing by that factor gives the drops of one execution.
    */
  def check(spark: SparkSession, s: Stream, gen: Gen): Map[String, Any] = {
    def custom(p: StreamingQueryProgress, key: String): Long =
      p.stateOperators.map(op => Option(op.customMetrics.get(key)).map(_.longValue).getOrElse(0L)).sum
    val data = s.progress.values.filter(_.numInputRows > 0).toSeq
    val perBatch = data.zip(gen.routedRows).map { case (p, routed) =>
      val late = p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      val dups = custom(p, "numDroppedDuplicateRows")
      val kept = p.stateOperators.map(_.numRowsUpdated).sum
      val execs = (kept + dups + late).toDouble / math.max(1L, routed)
      (execs, late / execs, dups / execs)
    }
    val byWatermark = math.round(perBatch.map(_._2).sum)
    val dups = math.round(perBatch.map(_._3).sum)
    val wholeExecs = perBatch.forall { case (e, _, _) => e >= 1 && math.abs(e - math.rint(e)) < 1e-9 }
    def digest(layer: String, fid: String, ts: Long, rev: Long): Long =
      scala.util.hashing.MurmurHash3.stringHash(s"$layer|$fid|$ts|$rev").toLong
    val want = gen.expected.toSeq.groupBy(_._1._1).map { case (layer, xs) =>
      layer -> (xs.size.toLong, xs.map { case ((l, f), (ts, rev)) => digest(l, f, ts, rev) }.sum)
    }
    val st = spark.read.option("mergeSchema", "true").parquet(s.store)
    val got = st.select(col("layer").cast(StringType), col("feature_id"),
        unix_micros(col("event_ts")), col("prop_rev").cast(LongType))
      .collect().toSeq
      .groupBy(_.getString(0)).map { case (layer, rs) =>
        layer -> (rs.size.toLong,
          rs.map(r => digest(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).sum)
      }
    val heightType = st.schema.find(_.name == "prop_height").map(_.dataType)
    Map(
      "store_equal" -> (got == want),
      "unrouted_absent" -> !got.contains(Unrouted),
      "height_widened" -> heightType.contains(DoubleType),
      "batches_delivered" -> (data.size == gen.batches &&
        data.forall(_.numInputRows == gen.wire(0).size)),
      "drops_equal" -> (wholeExecs && byWatermark + dups == gen.planted),
      "dedup_executions_per_batch" -> perBatch.map(_._1).sum / math.max(1, perBatch.size),
      "last_batch_executions" -> perBatch.lastOption.map(_._1).getOrElse(1.0),
      "dropped_by_watermark" -> byWatermark,
      "dropped_duplicates" -> dups,
      "planted" -> gen.planted,
      "store_rows" -> got.values.map(_._1).sum,
      "expected_rows" -> want.values.map(_._1).sum)
  }
}
