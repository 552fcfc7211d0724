package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.functions.{Feature, MsgPack}

/** Tier A streaming pipeline (A4–A12) + stateful ops (B31–B33) over
  * MemoryStream / FileTransport — SURVEY.md §5 streaming strategy.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkFixture.session

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def wire(layer: String, fid: String, tsUs: Long,
      props: Map[String, String] = Map("k" -> "1"), source: String = "s",
      ver: Int = 1): Array[Byte] =
    MsgPack.pack(Feature(layer, fid, Array[Byte](1, 1, 0), props, tsUs, source, ver))

  private def newStream(): (MemoryStream[Array[Byte]], Transport) = {
    implicit val ctx = spark.sqlContext
    implicit val enc = Encoders.BINARY
    val ms = MemoryStream[Array[Byte]]
    val t = new Transport {
      override def read(s: SparkSession): DataFrame = ms.toDF().select(col("value"))
    }
    (ms, t)
  }

  private def readStore(dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  test("A4-A12 end-to-end: route, upsert latest version, survive replayed adds") {
    val (ms, transport) = newStream()
    val store = tmpDir("store") + "/features"
    val q = FeaturePipeline.runToStore(spark, transport, Seq("roads", "rivers"),
      store, tmpDir("ckpt"), watermark = "10 minutes")
    try {
      ms.addData(wire("roads", "r1", 1000000L), wire("rivers", "w1", 1000000L),
        wire("buildings", "b1", 1000000L)) // buildings not routed
      q.processAllAvailable()
      // newer version of r1 + an identical retransmit of w1
      ms.addData(wire("roads", "r1", 2000000L, Map("k" -> "2")), wire("rivers", "w1", 1000000L))
      q.processAllAvailable()
      val rows = readStore(store).collect()
      assert(rows.map(_.getAs[String]("layer")).toSet == Set("roads", "rivers"))
      assert(rows.length == 2, s"expected 2 upserted keys, got ${rows.length}")
      val r1 = rows.find(_.getAs[String]("feature_id") == "r1").get
      assert(r1.getAs[Long]("prop_k") == 2L, "latest version did not win upsert")
    } finally q.stop()
  }

  test("A9/A12: upsertBatch is idempotent under replay") {
    import spark.implicits._
    val store = tmpDir("store") + "/idem"
    val batch = Seq(
      ("roads", "r1", Map("k" -> "1"), 1000000L),
      ("roads", "r2", Map("k" -> "2"), 1000000L))
      .toDF("layer", "feature_id", "props", "ts_us")
      .select($"layer", $"feature_id", $"props", timestamp_micros($"ts_us").as("event_ts"),
        lit("s").as("source"), lit(1).as("fmt_version"))
    FeaturePipeline.upsertBatch(batch, store)
    val first = readStore(store).collect().map(_.toString).sorted.toSeq
    FeaturePipeline.upsertBatch(batch, store)
    val second = readStore(store).collect().map(_.toString).sorted.toSeq
    assert(first == second, "replaying the same batch changed the store")
  }

  test("A9/A12: a micro-batch runs its dedup plan once (profile + write over the persisted batch)") {
    val (ms, transport) = newStream()
    val store = tmpDir("store") + "/once"
    val q = FeaturePipeline.runToStore(spark, transport, Seq("roads"),
      store, tmpDir("ckpt"), watermark = "10 minutes")
    try {
      val seen = wire("roads", "r1", 1000000L)
      ms.addData(seen)
      q.processAllAvailable()
      val dup = wire("roads", "r2", 1000000L)
      // in-batch duplicate, cross-batch retransmit, a new key, an unrouted row
      ms.addData(dup, dup, seen, wire("roads", "r3", 1000000L), wire("rivers", "w1", 1000000L))
      q.processAllAvailable()
      val p = q.recentProgress.filter(_.numInputRows > 0).last
      assert(p.numInputRows == 5L)
      val routed = 4L
      val executionsPerTrigger = 1L
      // every execution of the batch plan adds its kept + duplicate + late
      // rows to the dedup operator's counters: one execution sees each
      // routed row once
      val counted = p.stateOperators.map(op => op.numRowsUpdated + op.numRowsDroppedByWatermark +
        Option(op.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum
      assert(counted == routed * executionsPerTrigger,
        s"the dedup plan ran ${counted.toDouble / routed} times for one trigger")
      assert(readStore(store).count() == 3L)
    } finally q.stop()
  }

  test("A9: an empty batch leaves an existing store's files untouched") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val store = tmpDir("store") + "/empty"
    val batch = Seq(("roads", "r1", Map("k" -> "1"))).toDF("layer", "feature_id", "props")
      .select($"layer", $"feature_id", $"props",
        timestamp_micros(lit(1000000L)).as("event_ts"),
        lit("s").as("source"), lit(1).as("fmt_version"))
    FeaturePipeline.upsertBatch(batch, store)
    def snapshot(): Map[String, (Long, Long)] =
      JFiles.walk(Paths.get(store)).iterator().asScala
        .filter(JFiles.isRegularFile(_))
        .map(p => p.toString -> ((JFiles.getLastModifiedTime(p).toMillis, JFiles.size(p))))
        .toMap
    val before = snapshot()
    FeaturePipeline.upsertBatch(batch.filter(lit(false)), store)
    assert(snapshot() == before, "an empty batch rewrote store files")
    val staging = JFiles.list(Paths.get(store).getParent).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("empty_swap")).toSeq
    assert(staging.isEmpty, s"a swap left its staging directory behind: $staging")
  }

  private def storeBatch(layer: String, fid: String, props: Map[String, String],
      tsUs: Long = 1000000L): DataFrame = {
    import spark.implicits._
    Seq((layer, fid, props)).toDF("layer", "feature_id", "props")
      .select($"layer", $"feature_id", $"props",
        timestamp_micros(lit(tsUs)).as("event_ts"),
        lit("s").as("source"), lit(1).as("fmt_version"))
  }

  test("A9: a numeric-looking layer name stays a string through upsert and storeStats") {
    val store = tmpDir("store") + "/numlayer"
    FeaturePipeline.upsertBatch(storeBatch("01", "a", Map("k" -> "1")), store)
    // the second upsert must merge with the stored "01" rows, not replace them
    FeaturePipeline.upsertBatch(storeBatch("01", "b", Map("k" -> "2")), store)
    val rows = FeaturePipeline.readStore(spark, store).select("layer", "feature_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("01", "a"), ("01", "b")), s"store holds $rows")
    val stats = FeaturePipeline.storeStats(spark, store).collect()
    assert(stats.map(r => (r.getString(0), r.getAs[Long]("n_rows"))).toSeq == Seq(("01", 2L)))
  }

  test("A9 ops: every swap stages in its own directory — a foreign <store>_swap survives compactLayer") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val store = tmpDir("store") + "/staged"
    FeaturePipeline.upsertBatch(storeBatch("roads", "r1", Map("k" -> "1")), store)
    FeaturePipeline.upsertBatch(storeBatch("roads", "r2", Map("k" -> "2")), store)
    // what another swap (say, a live stream's) has staged at the old fixed path
    val foreign = Paths.get(store + "_swap", "layer=roads", "part-staged")
    JFiles.createDirectories(foreign.getParent)
    JFiles.write(foreign, Array[Byte](1, 2, 3))
    FeaturePipeline.compactLayer(spark, store, "roads")
    assert(JFiles.exists(foreign), "compactLayer wiped another swap's staged partition")
    assert(FeaturePipeline.readStore(spark, store).count() == 2L)
    val staging = JFiles.list(Paths.get(store).getParent).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("staged_swap-")).toSeq
    assert(staging.isEmpty, s"compactLayer left its staging directory behind: $staging")
  }

  test("A9: a store whose every layer has expired takes the next upsert as a first write") {
    val store = tmpDir("store") + "/expired"
    FeaturePipeline.upsertBatch(storeBatch("roads", "r1", Map("k" -> "1")), store)
    FeaturePipeline.expireOlderThan(spark, store, new java.sql.Timestamp(5000L))
    FeaturePipeline.upsertBatch(storeBatch("roads", "r2", Map("k" -> "2"), tsUs = 9000000L), store)
    val rows = FeaturePipeline.readStore(spark, store).select("layer", "feature_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("roads", "r2")), s"store holds $rows")
  }

  test("A4-A12: runToStore runs no state-only trigger between data batches") {
    val (ms, transport) = newStream()
    val store = tmpDir("store") + "/nodata"
    val q = FeaturePipeline.runToStore(spark, transport, Seq("roads"),
      store, tmpDir("ckpt"), watermark = "10 minutes")
    try {
      // each batch moves the watermark (max event time - 10 min) forward
      ms.addData(wire("roads", "r1", 3600L * 1000000L))
      q.processAllAvailable()
      ms.addData(wire("roads", "r2", 7200L * 1000000L))
      q.processAllAvailable()
      val progress = q.recentProgress.toSeq
      assert(progress.count(_.numInputRows > 0) == 2)
      assert(progress.forall(_.numInputRows > 0),
        s"no-data triggers ran: ${progress.map(p => p.batchId -> p.numInputRows)}")
      assert(readStore(store).count() == 2L)
    } finally q.stop()
  }

  test("A4-A12: runToStore leaves the caller's noDataMicroBatches setting as it was") {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val original = spark.conf.getAll.get(key)
    def set(v: Option[String]): Unit = v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try Seq(None, Some("true"), Some("false")).foreach { v =>
      set(v)
      val (_, transport) = newStream()
      val q = FeaturePipeline.runToStore(spark, transport, Seq("roads"),
        tmpDir("store") + "/conf", tmpDir("ckpt"))
      q.stop()
      assert(spark.conf.getAll.get(key) == v, s"caller's setting $v became ${spark.conf.getAll.get(key)}")
    } finally set(original)
  }

  test("storeStats: per-layer counts, freshest ts, and extent union over WKB") {
    import spark.implicits._
    import graft.functions.Wkb
    val store = tmpDir("store") + "/stats"
    val batch = Seq(
      ("roads", "r1", Wkb.point(1.0, 2.0), 1000000L),
      ("roads", "r2", Wkb.point(5.0, -3.0), 3000000L),
      ("roads", "r2", Wkb.point(5.0, -3.0), 3000000L), // dup feature id
      ("parks", "p1", Wkb.point(-7.0, 0.5), 2000000L))
      .toDF("layer", "feature_id", "geom_wkb", "ts_us")
      .select($"layer", $"feature_id", $"geom_wkb",
        typedLit(Map("k" -> "1")).as("props"),
        timestamp_micros($"ts_us").as("event_ts"),
        lit("s").as("source"), lit(1).as("fmt_version"))
    FeaturePipeline.upsertBatch(batch, store)
    val stats = FeaturePipeline.storeStats(spark, store).collect()
    assert(stats.map(_.getString(0)).toSeq == Seq("parks", "roads"))
    val roads = stats.find(_.getString(0) == "roads").get
    assert(roads.getAs[Long]("n_rows") == 2L) // upsert collapsed the dup
    assert(roads.getAs[Long]("n_features") == 2L)
    assert(roads.getAs[Double]("xmin") == 1.0 && roads.getAs[Double]("xmax") == 5.0)
    assert(roads.getAs[Double]("ymin") == -3.0 && roads.getAs[Double]("ymax") == 2.0)
    assert(roads.getAs[java.sql.Timestamp]("latest_ts").getTime == 3000L)
    // layer filter prunes
    val only = FeaturePipeline.storeStats(spark, store, Seq("parks")).collect()
    assert(only.length == 1 && only.head.getAs[Long]("n_rows") == 1L)
  }

  test("A9 scale bound: a batch touching one layer leaves other layers' files untouched") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val store = tmpDir("store") + "/parts"
    def batch(layer: String, fid: String, k: String, tsUs: Long = 1000000L) =
      Seq((layer, fid, Map("k" -> k))).toDF("layer", "feature_id", "props")
        .select($"layer", $"feature_id", $"props",
          timestamp_micros(lit(tsUs)).as("event_ts"),
          lit("s").as("source"), lit(1).as("fmt_version"))
    FeaturePipeline.upsertBatch(batch("roads", "r1", "1"), store)
    FeaturePipeline.upsertBatch(batch("rivers", "w1", "1"), store)
    def snapshot(layer: String): Map[String, (Long, Long, Int)] =
      JFiles.walk(Paths.get(store, s"layer=$layer")).iterator().asScala
        .filter(JFiles.isRegularFile(_))
        .map(p => p.toString -> (
          (JFiles.getLastModifiedTime(p).toMillis, JFiles.size(p),
            java.util.Arrays.hashCode(JFiles.readAllBytes(p)))))
        .toMap
    val riversBefore = snapshot("rivers")
    // update roads only — rivers' partition must not be opened or rewritten
    FeaturePipeline.upsertBatch(batch("roads", "r1", "2", tsUs = 2000000L), store)
    assert(snapshot("rivers") == riversBefore,
      "rewriting an untouched layer partition — upsert is not batch-bounded")
    val rows = readStore(store).collect()
    assert(rows.length == 2)
    assert(rows.find(_.getAs[String]("feature_id") == "r1").get.getAs[Long]("prop_k") == 2L)
    assert(rows.find(_.getAs[String]("feature_id") == "w1").get.getAs[Long]("prop_k") == 1L)
  }

  test("A9: null-layer features merge instead of being dropped on the next null-layer batch") {
    import spark.implicits._
    val store = tmpDir("store") + "/nulllayer"
    def batch(layer: Option[String], fid: String, k: String, tsUs: Long) =
      Seq((layer.orNull, fid, Map("k" -> k))).toDF("layer", "feature_id", "props")
        .select($"layer", $"feature_id", $"props",
          timestamp_micros(lit(tsUs)).as("event_ts"),
          lit("s").as("source"), lit(1).as("fmt_version"))
    FeaturePipeline.upsertBatch(batch(None, "n1", "1", 1000000L), store)
    FeaturePipeline.upsertBatch(batch(Some("roads"), "r1", "1", 1000000L), store)
    // a second null-layer batch rewrites the default partition — n1 must
    // survive the merge (null IN (...) semantics must not exclude it)
    FeaturePipeline.upsertBatch(batch(None, "n2", "2", 2000000L), store)
    val rows = readStore(store).collect()
    assert(rows.length == 3, s"expected n1+n2+r1, got ${rows.toSeq}")
    assert(rows.exists(r => r.getAs[String]("feature_id") == "n1"),
      "stored null-layer feature dropped by a later null-layer batch")
    // and a null-layer batch upserts (not duplicates) an existing null-layer id
    FeaturePipeline.upsertBatch(batch(None, "n1", "9", 3000000L), store)
    val n1 = readStore(store).filter($"feature_id" === "n1").collect()
    assert(n1.length == 1 && n1(0).getAs[Long]("prop_k") == 9L)
  }

  test("A9 ops: compactLayer merges one layer's files, other layers byte-untouched") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val store = tmpDir("store") + "/compact"
    def batch(layer: String, fid: String, tsUs: Long) =
      Seq((layer, fid, Map("k" -> fid))).toDF("layer", "feature_id", "props")
        .select($"layer", $"feature_id", $"props",
          timestamp_micros(lit(tsUs)).as("event_ts"),
          lit("s").as("source"), lit(1).as("fmt_version"))
    // three separate upserts leave roads with several files
    FeaturePipeline.upsertBatch(batch("roads", "r1", 1000000L), store)
    FeaturePipeline.upsertBatch(batch("roads", "r2", 2000000L), store)
    FeaturePipeline.upsertBatch(batch("rivers", "w1", 1000000L), store)
    def files(layer: String) =
      JFiles.walk(Paths.get(store, s"layer=$layer")).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).toSeq
    def riversBytes() = files("rivers").map(p =>
      java.util.Arrays.hashCode(JFiles.readAllBytes(p))).sorted
    val before = readStore(store).collect().map(_.toString).sorted.toSeq
    val rb = riversBytes()
    FeaturePipeline.compactLayer(spark, store, "roads", targetFiles = 1)
    assert(files("roads").length == 1, s"expected 1 compacted file, got ${files("roads")}")
    assert(readStore(store).collect().map(_.toString).sorted.toSeq == before,
      "compaction changed rows")
    assert(riversBytes() == rb, "compaction rewrote an untouched layer")
  }

  test("A9 ops: compactIfNeeded triggers from MEASURED file counts — unhealthy layer compacted, healthy untouched") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val store = tmpDir("store") + "/policy"
    def batch(layer: String, fid: String, tsUs: Long) =
      Seq((layer, fid, Map("k" -> fid))).toDF("layer", "feature_id", "props")
        .select($"layer", $"feature_id", $"props",
          timestamp_micros(lit(tsUs)).as("event_ts"),
          lit("s").as("source"), lit(1).as("fmt_version"))
    // roads lands as a MULTI-PARTITION write (one file per task per
    // layer — the production fragmentation shape; AQE's small-shuffle
    // coalescing is disabled for the write so the local fixture actually
    // fragments the way shuffle.partitions=200 does on a cluster)
    val roadsWide = (1 to 24).map(i => ("roads", s"r$i", Map("k" -> s"r$i")))
      .toDF("layer", "feature_id", "props")
      .select($"layer", $"feature_id", $"props",
        timestamp_micros(lit(1000000L)).as("event_ts"),
        lit("s").as("source"), lit(1).as("fmt_version"))
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val shufWas = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "6")
      FeaturePipeline.upsertBatch(roadsWide, store)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.conf.set("spark.sql.shuffle.partitions", shufWas)
    }
    FeaturePipeline.upsertBatch(batch("rivers", "w1", 1000000L), store)
    val stats = FeaturePipeline.layerFileStats(spark, store)
      .map { case (l, n, _) => l -> n }.toMap
    assert(stats("roads") > 2, s"fixture failed to fragment roads: $stats")
    def files(layer: String) =
      JFiles.walk(Paths.get(store, s"layer=$layer")).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).toSeq
    def riversBytes() = files("rivers").map(p =>
      java.util.Arrays.hashCode(JFiles.readAllBytes(p))).sorted
    val before = readStore(store).collect().map(_.toString).sorted.toSeq
    val rb = riversBytes()
    // threshold between the two layers' counts: the policy must pick
    // exactly the fragmented layer from the listing, not by name
    val compacted = FeaturePipeline.compactIfNeeded(spark, store, maxFiles = 2)
    assert(compacted == Seq("roads"), s"policy compacted $compacted")
    assert(files("roads").length == 1)
    assert(riversBytes() == rb, "policy rewrote a healthy layer")
    assert(readStore(store).collect().map(_.toString).sorted.toSeq == before,
      "policy compaction changed rows")
    // healthy store: second pass is a no-op
    assert(FeaturePipeline.compactIfNeeded(spark, store, maxFiles = 2).isEmpty)
  }

  test("asofStream: batch-mode semantics — register, ties, tolerance horizon, quoteless keys") {
    import spark.implicits._
    // flatMapGroupsWithState runs in single-batch mode on a static frame —
    // the direct seam for the matching rules (the cross-batch arm is
    // equivalence pin #12)
    val rows = Seq(
      // key 1: quote@10 then trade@15 (match), quote@20 stale-for, trade@500 (beyond tolerance)
      (1L, 10L, true, 5.0), (1L, 15L, false, 100.0),
      (1L, 20L, true, 6.0), (1L, 500L, false, 101.0),
      // key 1 tie rules: trade@30 sees the equal-ts quote (<=), and among
      // equal-ts quotes the larger v wins
      (1L, 30L, true, 7.0), (1L, 30L, true, 9.0), (1L, 30L, false, 102.0),
      // key 2: trade before any quote → unmatched
      (2L, 40L, false, 103.0),
      // an out-of-order INPUT row (sorted into place within the batch;
      // advances the register 20 → 25 before the ts-30 rows apply)
      (1L, 25L, true, 1.0)
    ).toDF("key", "ts_us", "is_quote", "v")
    val got = FeaturePipeline.asofStream(rows, toleranceUs = 100L)
      .collect().map(m => (m.key, m.trade_ts_us, m.quote_ts_us, m.quote_v)).toSet
    assert(got == Set(
      (1L, 15L, Some(10L), Some(5.0)),   // plain match
      (1L, 30L, Some(30L), Some(9.0)),   // equal-ts quote visible, max-v tie
      (1L, 500L, None, None),            // register stale beyond tolerance
      (2L, 40L, None, None)              // quoteless key: left-outer arm
    ), got.toString)
  }

  test("asofStream: a future quote left in state by out-of-order cross-batch " +
      "arrival never matches an earlier-ts trade") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Boolean, Double)]
    val out = FeaturePipeline.asofStream(
        ms.toDF().toDF("key", "ts_us", "is_quote", "v"))
      .toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("asof_future_quote")
      .option("checkpointLocation", tmpDir("asof_fq_ckpt")).start()
    try {
      // batch 1: only a quote at ts=100 — it lands in the key's register
      ms.addData((1L, 100L, true, 5.0))
      out.processAllAvailable()
      // batch 2 (out-of-order across batches): a trade EARLIER than the
      // registered quote must emit unmatched — matching would produce
      // quote_ts_us > trade_ts_us, violating the at-or-before contract;
      // a trade at/after the quote still matches normally
      ms.addData((1L, 50L, false, 200.0), (1L, 150L, false, 201.0))
      out.processAllAvailable()
      val got = spark.table("asof_future_quote")
        .as[FeaturePipeline.AsofMatch].collect()
        .map(m => (m.trade_ts_us, m.quote_ts_us, m.quote_v)).toSet
      assert(got == Set(
        (50L, None, None),              // future-quote guard: unmatched
        (150L, Some(100L), Some(5.0))), // normal at-or-before match
        got.toString)
    } finally out.stop()
  }

  test("asofStreamEventTime: trades buffer until the watermark seals them — " +
      "a retro quote arriving out-of-order STILL matches (exact, unlike ingest-time)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Boolean, Double)]
    val out = FeaturePipeline.asofStreamEventTime(
        ms.toDF().toDF("key", "ts_us", "is_quote", "v"), "100 milliseconds")
      .toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("asof_et")
      .option("checkpointLocation", tmpDir("asof_et_ckpt")).start()
    try {
      // batch 1: two trades and quotes around them; max ets 200 → the
      // NEXT batch's watermark is 100, sealing only the ts-60 trade
      // ts in MICROSECONDS at millisecond scale: Spark's watermark and
      // event-time-timeout APIs are ms-granular
      ms.addData((1L, 10000L, true, 1.0), (1L, 60000L, false, 500.0),
        (1L, 150000L, false, 501.0), (1L, 200000L, true, 9.0))
      out.processAllAvailable()
      // batch 2: a RETRO quote at ts 140 (out-of-order but above the
      // watermark) plus an advancing quote: wm → 300 seals trade 150,
      // which must match the retro quote — the ingest-time register
      // provably misses this
      ms.addData((1L, 140000L, true, 7.0), (1L, 400000L, true, 2.0))
      out.processAllAvailable()
      val got = spark.table("asof_et").as[FeaturePipeline.AsofMatch].collect()
        .map(m => (m.trade_ts_us, m.quote_ts_us, m.quote_v)).toSet
      assert(got == Set(
        (60000L, Some(10000L), Some(1.0)),    // sealed at wm=100ms, quote 10ms final
        (150000L, Some(140000L), Some(7.0))), // retro-matched after the fact
        got.toString)
    } finally out.stop()
  }

  test("A9 ops: expireOlderThan drops old rows, removes empty layers, skips untouched ones") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val store = tmpDir("store") + "/retention"
    def batch(layer: String, fid: String, tsUs: Long) =
      Seq((layer, fid, Map("k" -> fid))).toDF("layer", "feature_id", "props")
        .select($"layer", $"feature_id", $"props",
          timestamp_micros(lit(tsUs)).as("event_ts"),
          lit("s").as("source"), lit(1).as("fmt_version"))
    FeaturePipeline.upsertBatch(batch("roads", "r_old", 1000000L), store)
    FeaturePipeline.upsertBatch(batch("roads", "r_new", 9000000L), store)
    FeaturePipeline.upsertBatch(batch("rivers", "w_old", 1000000L), store) // fully expires
    FeaturePipeline.upsertBatch(batch("parks", "p_new", 9000000L), store)  // untouched
    def snapshot(layer: String) =
      JFiles.walk(Paths.get(store, s"layer=$layer")).iterator().asScala
        .filter(JFiles.isRegularFile(_))
        .map(p => p.toString -> JFiles.getLastModifiedTime(p).toMillis).toMap
    val parksBefore = snapshot("parks")
    FeaturePipeline.expireOlderThan(spark, store, new java.sql.Timestamp(2000L))
    val rows = readStore(store).collect()
    assert(rows.map(_.getAs[String]("feature_id")).toSet == Set("r_new", "p_new"),
      rows.mkString(","))
    assert(!JFiles.exists(Paths.get(store, "layer=rivers")),
      "fully-expired layer's directory not removed")
    assert(snapshot("parks") == parksBefore, "retention rewrote an untouched layer")
    // idempotent: nothing left to expire, second call is a no-op
    FeaturePipeline.expireOlderThan(spark, store, new java.sql.Timestamp(2000L))
    assert(readStore(store).count() == 2)
  }

  test("A9: layer values needing partition-escaping survive the store swap") {
    import spark.implicits._
    val store = tmpDir("store") + "/esc"
    // ':' and ' ' force partition-value escaping in the layer= dir name
    val weird = "ro ads:v2"
    val batch = Seq((weird, "r1", Map("k" -> "1")))
      .toDF("layer", "feature_id", "props")
      .select($"layer", $"feature_id", $"props",
        timestamp_micros(lit(1000000L)).as("event_ts"),
        lit("s").as("source"), lit(1).as("fmt_version"))
    FeaturePipeline.upsertBatch(batch, store)
    FeaturePipeline.upsertBatch(batch, store) // replay over the escaped dir
    val rows = readStore(store).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("layer") == weird,
      rows.mkString(","))
  }

  test("streaming spatial routing: bbox filter composes into the decode pipeline") {
    import graft.functions.Wkb
    val (ms, transport) = newStream()
    val inRegion = udf { (b: Array[Byte]) =>
      b != null && b.length >= 21 && Wkb.bboxIntersects(b, 0.0, 0.0, 10.0, 10.0) }
    val routed = FeaturePipeline.decode(transport.read(spark))
      .filter(inRegion(col("geom_wkb")))
    val q = routed.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("georoute_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      def geoWire(fid: String, x: Double, y: Double) =
        MsgPack.pack(Feature("roads", fid, Wkb.point(x, y), Map.empty, 1000000L, "s", 1))
      ms.addData(geoWire("in1", 5.0, 5.0), geoWire("out1", 50.0, 50.0), geoWire("in2", 0.0, 10.0))
      q.processAllAvailable()
      val got = spark.table("georoute_sink").collect().map(_.getAs[String]("feature_id")).toSet
      assert(got == Set("in1", "in2"), s"spatial routing wrong: $got")
    } finally q.stop()
  }

  test("streaming geofence: point inside fence alerts with fence_id, outside stays silent") {
    import graft.functions.Wkb
    import spark.implicits._
    val (ms, transport) = newStream()
    val fences = Seq(
      ("zone_a", Wkb.polygon(Seq(Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0))))),
      ("zone_b", Wkb.polygon(Seq(Seq((20.0, 20.0), (30.0, 20.0), (30.0, 30.0), (20.0, 30.0), (20.0, 20.0)))))
    ).toDF("fence_id", "fence_wkb")
    val alerts = FeaturePipeline.geofenceAlerts(
      FeaturePipeline.decode(transport.read(spark)), fences)
    val q = alerts.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("geofence_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      def geoWire(fid: String, x: Double, y: Double) =
        MsgPack.pack(Feature("roads", fid, Wkb.point(x, y), Map.empty, 1000000L, "s", 1))
      ms.addData(
        geoWire("inA", 5.0, 5.0),       // inside zone_a only
        geoWire("inB", 25.0, 25.0),     // inside zone_b only
        geoWire("none", 15.0, 15.0),    // between the fences
        geoWire("farEdge", 10.0 + 1e-9, 5.0)) // just outside zone_a
      q.processAllAvailable()
      val got = spark.table("geofence_sink").collect()
        .map(r => (r.getAs[String]("feature_id"), r.getAs[String]("fence_id"))).toSet
      assert(got == Set(("inA", "zone_a"), ("inB", "zone_b")), s"alerts wrong: $got")
    } finally q.stop()
  }

  test("A8: schema evolution adds prop columns for unseen keys") {
    import spark.implicits._
    val store = tmpDir("store") + "/evolve"
    def batch(fid: String, props: Map[String, String]) =
      Seq((fid, props)).toDF("feature_id", "props")
        .select(lit("roads").as("layer"), $"feature_id", $"props",
          timestamp_micros(lit(1000000L)).as("event_ts"),
          lit("s").as("source"), lit(1).as("fmt_version"))
    FeaturePipeline.upsertBatch(batch("r1", Map("a" -> "1")), store)
    FeaturePipeline.upsertBatch(batch("r2", Map("b" -> "2")), store)
    val df = readStore(store)
    assert(df.columns.contains("prop_a") && df.columns.contains("prop_b"))
    val r1 = df.filter($"feature_id" === "r1").collect().head
    assert(r1.getAs[Long]("prop_a") == 1L && r1.isNullAt(r1.fieldIndex("prop_b")))
  }

  test("A8: props promote to the narrowest all-parse type (long/double/bool/string)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val batch = Seq(
      Map("n" -> "12", "f" -> "1.5", "b" -> "true", "s" -> "x", "mixed" -> "7"),
      Map("n" -> "-3", "f" -> "2", "b" -> "FALSE", "s" -> "9", "mixed" -> "oops"))
      .map(m => ("roads", "r", m)).toDF("layer", "feature_id", "props")
    val out = FeaturePipeline.evolveColumns(batch)
    val t = out.schema.map(f => f.name -> f.dataType).toMap
    assert(t("prop_n") == LongType, "all-integral values must land as long")
    assert(t("prop_f") == DoubleType, "mixed 1.5/2 must land as double")
    assert(t("prop_b") == BooleanType, "true/FALSE must land as boolean")
    assert(t("prop_s") == StringType, "x/9 is not all-numeric; stays string")
    assert(t("prop_mixed") == StringType)
    val r = out.orderBy($"prop_n").collect()
    assert(r(0).getAs[Long]("prop_n") == -3L && r(1).getAs[Double]("prop_f") == 1.5)
    assert(r(1).getAs[Boolean]("prop_b") && !r(0).getAs[Boolean]("prop_b"))
  }

  test("A8: a key whose values are all null stays string; per-layer counts add up across layers") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val batch = Seq[(String, Map[String, String])](
      ("roads", Map("nul" -> null, "n" -> "5", "f" -> null)),
      ("rivers", Map("nul" -> null, "n" -> "7", "f" -> "2.5")),
      ("parks", null))
      .toDF("layer", "props")
    val t = FeaturePipeline.evolveColumns(batch).schema.map(f => f.name -> f.dataType).toMap
    assert(t("prop_nul") == StringType, "no non-null value to type by: must stay string")
    assert(t("prop_n") == LongType, "integral in every layer must land as long")
    assert(t("prop_f") == DoubleType, "null in one layer, 2.5 in another must land as double")
  }

  test("A8: cross-batch type conflict widens the store without flipping earlier rows") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val store = tmpDir("store") + "/typed"
    def batch(fid: String, v: String, tsUs: Long) =
      Seq(("roads", fid, Map("k" -> v))).toDF("layer", "feature_id", "props")
        .select($"layer", $"feature_id", $"props",
          timestamp_micros(lit(tsUs)).as("event_ts"),
          lit("s").as("source"), lit(1).as("fmt_version"))
    FeaturePipeline.upsertBatch(batch("r1", "11", 1000000L), store)
    assert(readStore(store).schema("prop_k").dataType == LongType)
    // long -> double widens numerically
    FeaturePipeline.upsertBatch(batch("r2", "2.5", 1000000L), store)
    val afterD = readStore(store)
    assert(afterD.schema("prop_k").dataType == DoubleType)
    assert(afterD.filter($"feature_id" === "r1").head.getAs[Double]("prop_k") == 11.0,
      "earlier row's value flipped during numeric widening")
    // double -> string widens textually, earlier values preserved
    FeaturePipeline.upsertBatch(batch("r3", "hello", 1000000L), store)
    val afterS = readStore(store)
    assert(afterS.schema("prop_k").dataType == StringType)
    assert(afterS.filter($"feature_id" === "r3").head.getAs[String]("prop_k") == "hello")
    assert(afterS.filter($"feature_id" === "r1").head.getAs[String]("prop_k") == "11.0")
    assert(afterS.count() == 3)
  }

  test("B32: retransmit dropped within watermark, new version passes") {
    val (ms, transport) = newStream()
    implicit val ctx = spark.sqlContext
    val deduped = FeaturePipeline.withEffectivelyOnce(
      FeaturePipeline.decode(transport.read(spark)), "10 minutes")
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      val m = wire("roads", "r1", 1000000L)
      ms.addData(m, m) // duplicate within one batch
      q.processAllAvailable()
      ms.addData(m) // retransmit in a later batch, still within watermark
      ms.addData(wire("roads", "r1", 2000000L)) // genuine new version
      q.processAllAvailable()
      val got = spark.table("dedup_sink").collect()
      assert(got.length == 2, s"expected original+new version, got ${got.length}")
    } finally q.stop()
  }

  test("C2 streaming: near-dedup drops formatting variants in-flight, keeps distinct docs") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[(Long, String, Long)]
    val ms = MemoryStream[(Long, String, Long)]
    val docs = ms.toDF().toDF("doc_id", "text", "ts_us")
      .select($"doc_id", $"text", timestamp_micros($"ts_us").as("event_ts"))
    val out = FeaturePipeline.nearDedupStream(docs, "10 minutes")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("neardedup_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      val base = (1 to 40).map(i => s"token$i").mkString(" ")
      ms.addData((1L, base, 1000000L))
      q.processAllAvailable()
      // same content, different case/whitespace → same normalized shingles
      ms.addData((2L, "  " + base.toUpperCase.replace(" ", "   "), 2000000L))
      // genuinely different document → kept
      ms.addData((3L, (1 to 40).map(i => s"other$i").mkString(" "), 3000000L))
      q.processAllAvailable()
      val kept = spark.table("neardedup_sink").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L), s"expected variant doc 2 dropped, got $kept")
    } finally q.stop()
  }

  test("B30 streaming: session_window closes on gap, merges within gap, emits after watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[(Long, Long)]
    val ms = MemoryStream[(Long, Long)]
    val events = ms.toDF().toDF("user_id", "ts_us")
      .select($"user_id", timestamp_micros($"ts_us").as("event_ts"))
    val out = FeaturePipeline.sessionizeStream(events, gap = "3 minutes", watermark = "1 minute")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("session_sink")
      .option("checkpointLocation", tmpDir("ckpt_sess")).start()
    try {
      val min = 60L * 1000000L
      // user 1: two events 1 min apart (one session), then a burst 10 min
      // later (second session); user 2: one lone event
      ms.addData((1L, 0L), (1L, min), (2L, min))
      ms.addData((1L, 11L * min), (1L, 12L * min))
      // advance the watermark far enough to close everything; the
      // watermark computed from a batch's max event time only takes
      // effect on the NEXT batch, so drive two advancing batches
      ms.addData((9L, 60L * min))
      q.processAllAvailable()
      ms.addData((9L, 61L * min))
      q.processAllAvailable()
      val rows = spark.table("session_sink")
        .select($"user_id", $"session_start", $"n_events").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSeq
      val u1 = rows.filter(_._1 == 1L).sortBy(_._2)
      assert(u1.map(_._3) == Seq(2L, 2L),
        s"user 1 must close two distinct sessions of 2 events each: $rows")
      assert(u1(0)._2 != u1(1)._2, s"sessions must have distinct starts: $rows")
      assert(rows.exists(r => r._1 == 2L && r._3 == 1L),
        s"user 2's singleton session missing: $rows")
    } finally q.stop()
  }

  test("C2 streaming cross-batch: duplicate beyond the watermark gap is still dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[(Long, String, Long)]
    val orig = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[(Long, String, Long)]
    val docs = ms.toDF().toDF("doc_id", "text", "ts_us")
      .select($"doc_id", $"text", timestamp_micros($"ts_us").as("event_ts"))
    val out = FeaturePipeline.nearDedupStreamCrossBatch(docs,
      java.time.Duration.ofHours(6), delay = "0 seconds")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("neardedup_xb_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def kept(): Set[Long] = spark.table("neardedup_xb_sink")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    try {
      val hour = 3600L * 1000000L // µs
      val base = (1 to 40).map(i => s"token$i").mkString(" ")
      ms.addData((1L, base, 1000000L))
      q.processAllAvailable()
      ms.addData((99L, (1 to 40).map(i => s"mid$i").mkString(" "), 1500000L))
      q.processAllAvailable()
      // the re-crawl arrives TWO micro-batches later with an event time a
      // full hour on — far beyond the 10-minute gap the watermark variant
      // remembers, well inside the 6 h horizon — as a case/whitespace
      // variant; the signature mark in the state store must drop it, while
      // a genuinely new document in the same batch is kept
      ms.addData((2L, "  " + base.toUpperCase.replace(" ", "   "), hour))
      ms.addData((3L, (1 to 40).map(i => s"other$i").mkString(" "), hour + 1L))
      q.processAllAvailable()
      assert(kept() == Set(1L, 99L, 3L), s"expected late re-crawl 2 dropped, got ${kept()}")
      // the signature memory IS keyed state: one stateful operator, state
      // rows bounded by DISTINCT signatures (3), not arrivals (4)
      val prog = q.recentProgress.filter(_.stateOperators.nonEmpty)
      assert(prog.nonEmpty, "expected a stateful operator in the plan")
      assert(prog.map(_.stateOperators.map(_.numRowsTotal).sum).max <= 3L,
        "state should hold one row per distinct signature")
      // ... and it is EVICTED, not kept forever: advance the watermark past
      // every mark's 6 h horizon, then the base document re-admits (and the
      // state rows for the expired signatures are gone)
      ms.addData((50L, (1 to 40).map(i => s"fill$i").mkString(" "), 8L * hour))
      q.processAllAvailable()
      ms.addData((4L, base, 8L * hour + 1L))
      q.processAllAvailable()
      assert(kept() == Set(1L, 99L, 3L, 50L, 4L),
        s"expected re-admit beyond horizon, got ${kept()}")
    } finally {
      q.stop()
      orig match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("C4 streaming: eval-set decontamination drops leaked docs in-flight, map-side only") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[(Long, String)]
    val leak = "the held out benchmark answer string goes here"
    val evalDocs = Seq(s"question context $leak trailing").toDF("text")
    val ms = MemoryStream[(Long, String)]
    val docs = ms.toDF().toDF("doc_id", "text")
    val out = FeaturePipeline.decontamStream(docs, evalDocs, 5)
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("decontam_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      ms.addData(
        (1L, s"scraped page quoting $leak verbatim"),         // leaked → drop
        (2L, "completely unrelated clean training text here today"), // keep
        (3L, "THE HELD OUT benchmark ANSWER string goes here too"))  // case variant → drop
      q.processAllAvailable()
      val kept = spark.table("decontam_sink").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(2L), s"expected only the clean doc, got $kept")
      // stateless: the plan carries no stateful operator
      assert(!q.lastProgress.toString.contains("stateOperators\" : [ {"),
        "decontamination should be a stateless map-side filter")
    } finally q.stop()
  }

  test("C4 streaming: decontamStream refuses an eval corpus above the driver-collect cap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[(Long, String)]
    val ms = MemoryStream[(Long, String)]
    val docs = ms.toDF().toDF("doc_id", "text")
    // a "mispointed path": the corpus handed in where the eval set belongs —
    // one row over the cap must throw loudly BEFORE any collect happens
    val tooBig = spark.range(FeaturePipeline.EvalMaxRows + 1)
      .selectExpr("concat('doc ', id) AS text")
    val ex = intercept[IllegalStateException] {
      FeaturePipeline.decontamStream(docs, tooBig, 5)
    }
    assert(ex.getMessage.contains("refuses to collect"), ex.getMessage)
    assert(ex.getMessage.contains("c4_decontam"), ex.getMessage)
  }

  test("stream-stream interval join: in-window context matches, out-of-window excluded") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    implicit val enc2 = org.apache.spark.sql.Encoders.product[(String, Long, Double)]
    implicit val enc3 = org.apache.spark.sql.Encoders.product[(String, Long, String)]
    val obsMs = MemoryStream[(String, Long, Double)]
    val ctxMs = MemoryStream[(String, Long, String)]
    val obs = obsMs.toDF().toDF("layer", "ts_us", "value")
      .select($"layer", timestamp_micros($"ts_us").as("obs_ts"), $"value")
    val ctxDf = ctxMs.toDF().toDF("ctx_layer", "ts_us", "info")
      .select($"ctx_layer", timestamp_micros($"ts_us").as("ctx_ts"), $"info")
    val joined = FeaturePipeline.enrichStream(obs, ctxDf, lookbackSec = 60, "10 minutes")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("enrich_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      val t0 = 1000000000L // 1000 s in µs
      ctxMs.addData(
        ("roads", t0 - 30000000L, "cal_recent"),   // 30 s before obs → in window
        ("roads", t0 - 120000000L, "cal_stale"),   // 120 s before → out (lookback 60)
        ("roads", t0 + 5000000L, "cal_future"),    // after obs → out
        ("water", t0 - 10000000L, "other_layer")) // layer mismatch
      obsMs.addData(("roads", t0, 42.0))
      q.processAllAvailable()
      val got = spark.table("enrich_sink")
        .select($"layer", $"value", $"info").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet
      assert(got == Set(("roads", 42.0, "cal_recent")), s"got $got")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unmatched obs null-pads only after the watermark proof") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    implicit val enc2 = org.apache.spark.sql.Encoders.product[(String, Long, Double)]
    implicit val enc3 = org.apache.spark.sql.Encoders.product[(String, Long, String)]
    val obsMs = MemoryStream[(String, Long, Double)]
    val ctxMs = MemoryStream[(String, Long, String)]
    val obs = obsMs.toDF().toDF("layer", "ts_us", "value")
      .select($"layer", timestamp_micros($"ts_us").as("obs_ts"), $"value")
    val ctxDf = ctxMs.toDF().toDF("ctx_layer", "ts_us", "info")
      .select($"ctx_layer", timestamp_micros($"ts_us").as("ctx_ts"), $"info")
    val joined = FeaturePipeline.enrichStreamOuter(obs, ctxDf, lookbackSec = 60, "1 minute")
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("enrich_outer_sink")
      .option("checkpointLocation", tmpDir("ckpt_outer")).start()
    try {
      val t0 = 1000000000L // 1000 s in µs
      ctxMs.addData(("roads", t0 - 30000000L, "cal_recent")) // matches the roads obs
      obsMs.addData(("roads", t0, 42.0), ("water", t0, 7.0)) // water has NO context
      q.processAllAvailable()
      def rows() = spark.table("enrich_outer_sink")
        .select($"layer", $"value", $"info").collect()
        .map(r => (r.getString(0), r.getDouble(1), if (r.isNullAt(2)) null else r.getString(2))).toSet
      // before the watermark passes, the unmatched obs MUST NOT have emitted:
      // a future ctx row at t0 could still match it
      assert(rows() == Set(("roads", 42.0, "cal_recent")), s"premature null-pad: ${rows()}")
      // advance event time far past t0 + lookback + watermark on BOTH streams
      val far = t0 + 600000000L // +600 s
      ctxMs.addData(("other", far, "tick"))
      obsMs.addData(("other2", far, 0.0))
      q.processAllAvailable()
      // one more nudge: outer-join null emission happens on the NEXT state
      // cleanup after the watermark moves (micro-batch boundary semantics)
      ctxMs.addData(("other", far + 1000000L, "tick2"))
      obsMs.addData(("other2", far + 1000000L, 0.0))
      q.processAllAvailable()
      val got = rows()
      assert(got.contains(("water", 7.0, null)),
        s"unmatched obs never null-padded after watermark: $got")
      assert(got.contains(("roads", 42.0, "cal_recent")))
      assert(!got.exists(r => r._1 == "roads" && r._3 == null),
        s"matched obs must not ALSO null-pad: $got")
    } finally q.stop()
  }

  test("B31: late data beyond the watermark is dropped from windowed counts") {
    val (ms, transport) = newStream()
    val hour = 3600L * 1000000L
    val counts = FeaturePipeline.decode(transport.read(spark))
      .withWatermark("event_ts", "10 minutes")
      .groupBy(window(col("event_ts"), "10 minutes")).count()
    val q = counts.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("late_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      ms.addData(wire("roads", "r1", hour), wire("roads", "r2", hour + 300000000L))
      q.processAllAvailable()
      // jump event time far ahead: watermark passes the first window's end
      ms.addData(wire("roads", "r3", hour + 2 * 3600L * 1000000L))
      q.processAllAvailable()
      // late arrival into the first (already closed) window
      ms.addData(wire("roads", "r4", hour + 60000000L))
      q.processAllAvailable()
      ms.addData(wire("roads", "r5", hour + 3 * 3600L * 1000000L))
      q.processAllAvailable()
      val firstWindow = spark.table("late_sink").collect()
        .filter(_.getStruct(0).getTimestamp(0).getTime == hour / 1000L)
      assert(firstWindow.length == 1, "first window should have emitted exactly once")
      assert(firstWindow.head.getLong(1) == 2L,
        s"late row leaked into closed window: count=${firstWindow.head.getLong(1)}")
    } finally q.stop()
  }

  test("trending top-k: closed sliding windows emit once, per-window ranks exact, open window silent") {
    val (ms, transport) = newStream()
    val hour = 3600L * 1000000L
    val min = 60L * 1000000L
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Int)]
    val counts = FeaturePipeline.trendingCounts(
      FeaturePipeline.decode(transport.read(spark)),
      windowDur = "20 minutes", slideDur = "10 minutes", watermark = "5 minutes")
    val q = counts.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("ckpt-trend"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        out.synchronized {
          out ++= FeaturePipeline.trendingBatchTopK(batch, 2).collect()
            .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getInt(3)))
        }
        ()
      }.start()
    try {
      // window [60, 80) and [70, 90) both see: roads ×3, rivers ×2, parks ×1
      ms.addData(
        wire("roads", "a", hour + 15 * min), wire("roads", "b", hour + 16 * min),
        wire("roads", "c", hour + 17 * min),
        wire("rivers", "d", hour + 15 * min), wire("rivers", "e", hour + 18 * min),
        wire("parks", "f", hour + 16 * min))
      q.processAllAvailable()
      assert(out.isEmpty, "no window is closed yet — nothing may emit")
      // advance the watermark far past both windows' ends
      ms.addData(wire("roads", "z", hour + 3 * 3600L * 1000000L))
      q.processAllAvailable()
      val got = out.synchronized(out.toList).sortBy(t => (t._1, t._4))
      // every event falls in sliding windows [60,80) and [70,90); top-2 of
      // {roads:3, rivers:2, parks:1} is (roads,1),(rivers,2) in each; the
      // [50,70) and [80,100)-family windows hold subsets — top-2 of what
      // they saw; parks (rank 3) never appears
      assert(got.nonEmpty)
      assert(got.forall(_._4 <= 2), s"rank > k leaked: $got")
      assert(!got.exists(_._2 == "parks" ), s"rank-3 layer leaked into top-2: $got")
      val full = got.filter(t => t._3 == 3L)
      assert(full.nonEmpty && full.forall(t => t._2 == "roads" && t._4 == 1),
        s"roads should rank 1 wherever all 3 events landed: $got")
      // exactly-once per window: no (window, rank) pair repeats
      assert(got.map(t => (t._1, t._4)).distinct.size == got.size, got.toString)
    } finally q.stop()
  }

  test("B33: flatMapGroupsWithState accumulates per-layer stats across batches") {
    val (ms, transport) = newStream()
    val stats = FeaturePipeline.runningLayerStats(
      FeaturePipeline.decode(transport.read(spark)))
    val q = stats.toDF("layer", "n", "max_ts_us").writeStream
      .outputMode(OutputMode.Update)
      .format("memory").queryName("stats_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      ms.addData(wire("roads", "r1", 1000000L), wire("roads", "r2", 3000000L))
      q.processAllAvailable()
      ms.addData(wire("roads", "r3", 2000000L))
      q.processAllAvailable()
      val rows = spark.table("stats_sink").collect()
        .filter(_.getString(0) == "roads").sortBy(_.getLong(1))
      assert(rows.last.getLong(1) == 3L, "running count did not accumulate")
      assert(rows.last.getLong(2) == 3000000L, "max ts wrong")
    } finally q.stop()
  }

  test("A5/A4 FileTransport: produce then consume end-to-end") {
    import spark.implicits._
    val topic = tmpDir("topic") + "/t0"
    val transport = new FileTransport(topic)
    val packed = Seq(wire("roads", "r1", 1000000L), wire("roads", "r2", 2000000L))
      .toDF("value")
    transport.produce(packed)
    val store = tmpDir("store") + "/filetr"
    val q = FeaturePipeline.runToStore(spark, transport, Seq("roads"),
      store, tmpDir("ckpt"), watermark = "10 minutes")
    try {
      q.processAllAvailable()
      assert(readStore(store).count() == 2)
    } finally q.stop()
  }

  test("A4 KafkaTransport: wired code path fails with the data-source-lookup error (no jar in image)") {
    // pins the CURRENT failure mode: the seam is compile-ready and the
    // options are wired, but this image has no spark-sql-kafka jar. On an
    // image WITH the jar this test fails loudly — flip it to an e2e test
    // then, instead of discovering the behavior change by accident.
    val t = new KafkaTransport("broker:9092", "features")
    val e = intercept[Exception] { t.read(spark) }
    val msg = (e.getMessage + " " + e.getClass.getName).toLowerCase
    assert(msg.contains("kafka"), s"unexpected failure: $e")
  }

  test("A2/A3: pack/unpack UDFs roundtrip on a stream") {
    val (ms, transport) = newStream()
    val decoded = FeaturePipeline.decode(transport.read(spark))
    val q = decoded.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("rt_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      ms.addData(wire("roads", "r1", 42000000L, Map("x" -> "7", "y" -> "8"), "srcA", 3))
      q.processAllAvailable()
      val r = spark.table("rt_sink").collect().head
      assert(r.getAs[String]("layer") == "roads")
      assert(r.getAs[String]("feature_id") == "r1")
      assert(r.getAs[Map[String, String]]("props") == Map("x" -> "7", "y" -> "8"))
      assert(r.getAs[String]("source") == "srcA")
      assert(r.getAs[Int]("fmt_version") == 3)
      assert(r.getAs[java.sql.Timestamp]("event_ts").getTime == 42000L)
    } finally q.stop()
  }

  test("B30 streaming: session windows close when the watermark passes the gap") {
    val (ms, transport) = newStream()
    val hour = 3600L * 1000000L
    val sessions = FeaturePipeline.decode(transport.read(spark))
      .withWatermark("event_ts", "5 minutes")
      .groupBy(session_window(col("event_ts"), "10 minutes"), col("layer"))
      .count()
      .select(col("session_window.start").as("ws"), col("layer"), col("count"))
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("session_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      // one session: two events 2 minutes apart (inside the 10-minute gap)
      ms.addData(wire("roads", "r1", hour), wire("roads", "r2", hour + 120000000L))
      q.processAllAvailable()
      // jump far ahead: watermark passes the session end, session emits
      ms.addData(wire("roads", "r3", hour + 2 * 3600L * 1000000L))
      q.processAllAvailable()
      ms.addData(wire("roads", "r4", hour + 4 * 3600L * 1000000L))
      q.processAllAvailable()
      val rows = spark.table("session_sink").collect()
        .filter(_.getTimestamp(0).getTime == hour / 1000L)
      assert(rows.length == 1, s"expected one closed session, got ${rows.length}")
      assert(rows.head.getLong(2) == 2L, "session did not merge the two close events")
    } finally q.stop()
  }

  test("streaming zonal stats: windows close with the watermark, multi-zone points fan out, cents exact") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val hour = 3600L * 1000000L
    // two 40x40 zones sharing the [30,40)x[0,40) overlap strip
    val fences = Seq(
      ("z0", graft.functions.Wkb.polygon(Seq(Seq(
        (0.0, 0.0), (40.0, 0.0), (40.0, 40.0), (0.0, 40.0), (0.0, 0.0))))),
      ("z1", graft.functions.Wkb.polygon(Seq(Seq(
        (30.0, 0.0), (70.0, 0.0), (70.0, 40.0), (30.0, 40.0), (30.0, 0.0))))))
      .toDF("fence_id", "fence_wkb")
    val pointUdf = udf { (x: Double, y: Double) => graft.functions.Wkb.point(x, y) }
    val ms = MemoryStream[(Double, Double, Double, Long)]
    val out = FeaturePipeline.zonalStatsStream(
      ms.toDF().toDF("x", "y", "value", "ts_us")
        .withColumn("geom_wkb", pointUdf(col("x"), col("y")))
        .select(col("geom_wkb"), col("value"), timestamp_micros(col("ts_us")).as("event_ts")),
      fences, windowDur = "10 minutes", watermark = "1 minute")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("zonal_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      // window 1: one z0-only point (value 1.23), one point in the overlap
      // strip (value 2.50 → fans out to BOTH zones), one point in no zone
      ms.addData((5.0, 5.0, 1.23, hour), (35.0, 5.0, 2.50, hour + 1000000L),
        (500.0, 500.0, 9.99, hour + 2000000L))
      q.processAllAvailable()
      // advance event time far past the window end + watermark → emit
      ms.addData((5.0, 5.0, 0.01, hour + 2L * 3600L * 1000000L))
      q.processAllAvailable()
      val rows = spark.table("zonal_sink").collect()
        .map(r => (r.getString(0), r.getLong(3), r.getLong(4))).sortBy(_._1)
      assert(rows.length == 2, s"expected z0+z1 rows, got ${rows.mkString(", ")}")
      assert(rows(0) == (("z0", 2L, 373L)), // floor(1.23*100)+floor(2.50*100)
        s"z0 aggregate wrong: ${rows(0)}")
      assert(rows(1) == (("z1", 1L, 250L)), s"z1 aggregate wrong: ${rows(1)}")
    } finally q.stop()
  }

  test("C6 streaming: waveform triage windows close exactly, decode matches the hand-built PCM, late chunk dropped") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Multimodal.WavCodec
    val sec = 1000000L
    def wav(payload: String): Array[Byte] =
      WavCodec.build(16000, 1, 16, payload.getBytes("UTF-8"))
    // "ab" -> one sample 97 + 98*256 - 16384 = 8801 (no flip)
    // "a ab" -> samples -8095 then 8801 (one strict sign flip)
    val ms = MemoryStream[(String, Long, Array[Byte])]
    val out = FeaturePipeline.waveformStream(
      ms.toDF().toDF("layer", "ts_us", "payload")
        .select(col("layer"), timestamp_micros(col("ts_us")).as("event_ts"), col("payload")),
      windowDur = "10 seconds", watermark = "5 seconds")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wave_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      ms.addData(("mic0", 1L * sec, wav("ab")), ("mic0", 5L * sec, wav("a ab")),
        ("mic0", 15L * sec, wav("ab")))
      q.processAllAvailable()
      // watermark jumps to ~57 s: both earlier windows close; the 2 s
      // chunk is now 55 s late and must be silently dropped
      ms.addData(("mic0", 62L * sec, wav("ab")), ("mic0", 2L * sec, wav("ab")))
      q.processAllAvailable()
      val rows = spark.table("wave_sink").collect()
        .map(r => (r.getTimestamp(1).getTime / 1000L, r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7))).sortBy(_._1)
      assert(rows.length == 2, s"expected two closed windows, got ${rows.mkString(", ")}")
      val sq1 = 8801L * 8801L
      val sq2 = 8801L * 8801L + 8095L * 8095L
      assert(rows(0) == ((0L, 2L, 3L, sq1 + sq2, 8801L, 1L)),
        s"window [0,10) stats wrong: ${rows(0)}")
      assert(rows(1) == ((10L, 1L, 1L, sq1, 8801L, 0L)),
        s"window [10,20) stats wrong: ${rows(1)}")
    } finally q.stop()
  }

  test("geofence transitions: enter/exit edges across batches, overlap handled, late obs ignored") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // z0 = [0,40]^2, z1 = [30,70]x[0,40] — overlapping strip [30,40]
    val fences = Seq(
      ("z0", graft.functions.Wkb.polygon(Seq(Seq(
        (0.0, 0.0), (40.0, 0.0), (40.0, 40.0), (0.0, 40.0), (0.0, 0.0))))),
      ("z1", graft.functions.Wkb.polygon(Seq(Seq(
        (30.0, 0.0), (70.0, 0.0), (70.0, 40.0), (30.0, 40.0), (30.0, 0.0))))))
    val ms = MemoryStream[(Long, Long, Double, Double)]
    val out = FeaturePipeline.geofenceTransitions(
      ms.toDF().toDF("entity_id", "ts_us", "x", "y"), fences)
    val q = out.toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("transition_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      // batch 1: entity 7 appears inside z0 only → enter z0
      ms.addData((7L, 1000L, 5.0, 5.0))
      q.processAllAvailable()
      // batch 2: moves into the overlap strip → enter z1 (still in z0),
      //          then out of z0 into z1-only → exit z0; a LATE obs (ts 500)
      //          back at the start must be ignored
      ms.addData((7L, 2000L, 35.0, 5.0), (7L, 3000L, 55.0, 5.0), (7L, 500L, 5.0, 5.0))
      q.processAllAvailable()
      // batch 3: leaves everything → exit z1
      ms.addData((7L, 4000L, 500.0, 500.0))
      q.processAllAvailable()
      val rows = spark.table("transition_sink").collect()
        .map(r => (r.getLong(1), r.getString(2), r.getString(3))).sortBy(t => (t._1, t._2))
      assert(rows.toSeq == Seq(
        (1000L, "z0", "enter"),
        (2000L, "z1", "enter"),
        (3000L, "z0", "exit"),
        (4000L, "z1", "exit")), s"got ${rows.mkString(", ")}")
    } finally q.stop()
  }

  test("rate anomaly: closed buckets score against the integer EWMA forecast, burst alarms, cold key quiet") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val B = 60000000L // 60 s buckets in µs
    def rows(key: String, bucket: Long, n: Int): Seq[(String, Long)] =
      (0 until n).map(i => (key, bucket * B + i))
    val ms = MemoryStream[(String, Long)]
    val out = FeaturePipeline.rateAnomalyStream(
      ms.toDF().toDF("key", "ts_us"))
    val q = out.toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("rate_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      // api: steady 8/bucket for b0..b2, a 40-row burst at b3, back to 8
      // at b4; b5 gets one row purely to close b4. tiny: a single 40-row
      // bucket then a closer — bursty but with NO baseline, so no alarm.
      ms.addData(rows("api", 0, 8) ++ rows("api", 1, 8))
      q.processAllAvailable()
      // a LATE row for the already-closed b0 must be dropped silently
      ms.addData(rows("api", 2, 8) ++ Seq(("api", 5L)) ++ rows("api", 3, 40))
      q.processAllAvailable()
      ms.addData(rows("api", 4, 8) ++ rows("api", 5, 1) ++
        rows("tiny", 3, 40) ++ rows("tiny", 4, 1))
      q.processAllAvailable()
      val got = spark.table("rate_sink").as[FeaturePipeline.RateAlert]
        .collect().sortBy(a => (a.key, a.bucket_us))
      // exact integer replay of the α=1/8 shift chain:
      // b0 closes with no baseline (ewma 0, no alarm), then seeds 8e6;
      // b1/b2 hold it; b3 (40 > 2×8) ALARMS with dev 32e6, folds to 12e6;
      // b4 scores against 12e6, dev −4e6, folds via (−4e6)>>3 = −5e5
      val api = got.filter(_.key == "api").map(a =>
        (a.bucket_us / B, a.cnt, a.ewma_e6, a.dev_e6, a.alarm)).toSeq
      assert(api == Seq(
        (0L, 8L, 0L, 8000000L, false),
        (1L, 8L, 8000000L, 0L, false),
        (2L, 8L, 8000000L, 0L, false),
        (3L, 40L, 8000000L, 32000000L, true),
        (4L, 8L, 12000000L, -4000000L, false)), s"got ${api.mkString(", ")}")
      val tiny = got.filter(_.key == "tiny")
      assert(tiny.length == 1 && !tiny.head.alarm && tiny.head.cnt == 40L,
        "a cold key's first closed bucket must never alarm")
    } finally q.stop()
  }

  test("B33 v2: transformWithState StatefulProcessor accumulates across batches (RocksDB store)") {
    val orig = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (ms, transport) = newStream()
    val stats = FeaturePipeline.runningLayerStatsV2(
      FeaturePipeline.decode(transport.read(spark)))
    val q = stats.toDF("layer", "n", "max_ts_us").writeStream
      .outputMode(OutputMode.Update)
      .format("memory").queryName("stats2_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      ms.addData(wire("roads", "r1", 1000000L), wire("roads", "r2", 3000000L))
      q.processAllAvailable()
      ms.addData(wire("roads", "r3", 2000000L))
      q.processAllAvailable()
      val rows = spark.table("stats2_sink").collect()
        .filter(_.getString(0) == "roads").sortBy(_.getLong(1))
      assert(rows.last.getLong(1) == 3L, "running count did not accumulate")
      assert(rows.last.getLong(2) == 3000000L, "max ts wrong")
    } finally {
      q.stop()
      orig match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("heartbeat timers: a silent layer fires one gap alert, active layers stay quiet") {
    val orig = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (ms, transport) = newStream()
    // gap = 600s of event time
    val alerts = FeaturePipeline.heartbeatAlerts(
      FeaturePipeline.decode(transport.read(spark)), gapMs = 600000L)
    val q = alerts.toDF("layer", "last_seen_us", "expiry_ms").writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("hb_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      // both layers speak at t=1000s
      ms.addData(wire("roads", "r1", 1000000000L), wire("parks", "p1", 1000000000L))
      q.processAllAvailable()
      // roads speaks again at 2000s -> watermark reaches 2000s; parks's
      // 1600s deadline is behind it, roads re-armed to 2600s
      ms.addData(wire("roads", "r2", 2000000000L))
      q.processAllAvailable()
      // one more batch so the advanced watermark drives timer expiry
      ms.addData(wire("roads", "r3", 2100000000L))
      q.processAllAvailable()
      val rows = spark.table("hb_sink").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(rows.count(_._1 == "parks") == 1, s"expected one parks alert: ${rows.toSeq}")
      val p = rows.find(_._1 == "parks").get
      assert(p._2 == 1000000000L, "last_seen should be parks's final event")
      assert(p._3 == 1600000L, "expiry should be last_seen + 600s in ms")
      assert(!rows.exists(_._1 == "roads"), s"roads was never silent: ${rows.toSeq}")
    } finally {
      q.stop()
      orig match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("A12: checkpoint recovery — a restarted query resumes from the committed offset") {
    import spark.implicits._
    val topic = tmpDir("topic") + "/recov"
    val ckpt = tmpDir("ckpt")
    val store = tmpDir("store") + "/recov"
    val transport = new FileTransport(topic)
    transport.produce(Seq(wire("roads", "r1", 1000000L)).toDF("value"))
    val q1 = FeaturePipeline.runToStore(spark, transport, Seq("roads"),
      store, ckpt, watermark = "10 minutes")
    try {
      q1.processAllAvailable()
      assert(readStore(store).count() == 1)
    } finally q1.stop()
    // new data arrives while no query is running
    transport.produce(Seq(wire("roads", "r2", 2000000L),
      wire("roads", "r1", 3000000L, Map("k" -> "9"))).toDF("value"))
    // restart from the SAME checkpoint: only the new file is processed,
    // and the idempotent upsert applies it exactly once
    val q2 = FeaturePipeline.runToStore(spark, transport, Seq("roads"),
      store, ckpt, watermark = "10 minutes")
    try {
      q2.processAllAvailable()
      val rows = readStore(store).collect()
      assert(rows.length == 2, s"expected r1+r2 after recovery, got ${rows.length}")
      val r1 = rows.find(_.getAs[String]("feature_id") == "r1").get
      assert(r1.getAs[Long]("prop_k") == 9L, "post-restart update lost")
    } finally q2.stop()
  }

  test("A10 native file source -> file sink: exactly-once manifest across restart, rogue files invisible") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val in = tmpDir("fsrc")
    val out = tmpDir("fsink") + "/data"
    val ckpt = tmpDir("fsinkckpt")
    val sch = StructType(Seq(StructField("layer", StringType), StructField("v", LongType)))
    def start() = spark.readStream.schema(sch).parquet(in)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode(OutputMode.Append).start()
    Seq(("roads", 1L), ("roads", 2L)).toDF("layer", "v")
      .coalesce(1).write.mode("append").parquet(in)
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).count() == 2)
    // a new input file lands while no query is running; the restarted
    // query must process exactly the delta (offsets from the checkpoint)
    Seq(("rivers", 3L)).toDF("layer", "v").coalesce(1).write.mode("append").parquet(in)
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val rows = spark.read.parquet(out).as[(String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(rows.toSeq == Seq(("rivers", 3L), ("roads", 1L), ("roads", 2L)),
      s"restart must append exactly the new file once, got ${rows.mkString(", ")}")
    // exactly-once READS are the _spark_metadata manifest's job: a file
    // written around the sink (a failed task's orphan, a stray backfill)
    // is not in the manifest and must stay invisible to readers
    Seq(("rogue", 99L)).toDF("layer", "v").coalesce(1).write.mode("append").parquet(out)
    assert(spark.read.parquet(out).count() == 3,
      "manifest-governed read must ignore files the sink did not commit")
  }

  test("stream-stream interval join: same key joins only within the event-time window") {
    import org.apache.spark.sql.functions.expr
    val (msL, tL) = newStream()
    val (msR, tR) = newStream()
    val left = FeaturePipeline.decode(tL.read(spark))
      .select(col("feature_id").as("l_id"), col("event_ts").as("l_ts"))
      .withWatermark("l_ts", "10 minutes")
    val right = FeaturePipeline.decode(tR.read(spark))
      .select(col("feature_id").as("r_id"), col("event_ts").as("r_ts"),
        col("source").as("r_src"))
      .withWatermark("r_ts", "10 minutes")
    val joined = left.join(right, expr(
      "l_id = r_id AND r_ts BETWEEN l_ts - INTERVAL 5 MINUTES AND l_ts + INTERVAL 5 MINUTES"))
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ssjoin_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      val hour = 3600L * 1000000L
      msL.addData(wire("roads", "r1", hour), wire("roads", "r2", hour))
      // r1 within 5 min (2 min later), r2 outside (20 min later), r3 unmatched key
      msR.addData(wire("roads", "r1", hour + 120000000L, source = "near"),
        wire("roads", "r2", hour + 1200000000L, source = "far"),
        wire("roads", "r9", hour, source = "nokey"))
      q.processAllAvailable()
      val rows = spark.table("ssjoin_sink").collect()
      assert(rows.length == 1, s"interval join wrong row count: ${rows.length}")
      assert(rows.head.getAs[String]("l_id") == "r1")
      assert(rows.head.getAs[String]("r_src") == "near")
    } finally q.stop()
  }

  test("stream-static join: decoded stream enriched from a static dimension") {
    import spark.implicits._
    val (ms, transport) = newStream()
    val dim = Seq(("roads", "line"), ("rivers", "line"), ("poi", "point"))
      .toDF("layer_name", "geom_kind")
    val enriched = FeaturePipeline.decode(transport.read(spark))
      .join(org.apache.spark.sql.functions.broadcast(dim),
        col("layer") === col("layer_name"))
      .select(col("feature_id"), col("layer"), col("geom_kind"))
    val q = enriched.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("enrich_sink")
      .option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      ms.addData(wire("roads", "r1", 1000000L), wire("unknown", "u1", 1000000L))
      q.processAllAvailable()
      val rows = spark.table("enrich_sink").collect()
      assert(rows.length == 1, "inner stream-static join should drop unmatched layers")
      assert(rows.head.getAs[String]("geom_kind") == "line")
    } finally q.stop()
  }
}
