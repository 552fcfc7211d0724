package graft.e2ebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.DataFrame

/** Benchmark JVM entry point (driven by `run.py`).
  *
  *  - `--mode prepare --data D --sf S`: generate the tables into D.
  *  - `--mode golden --set short|mine --data D --out F`: record each
  *    query's row count as the golden file F.
  *  - `--mode run --workload W --seed N --trace 0|1 ...`: set up, run the
  *    workload once, and write the raw result to `--out`.
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def writeJson(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    json.writeValue(f, v)
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = o.getOrElse("cpus", "4").toInt
    val work = o("work")
    o("mode") match {
      case "prepare" => prepare(cpus, work, o("data"), o("sf").toDouble)
      case "golden" => golden(cpus, work, o("data"), o("set"), o("out"))
      case "run" => run(o, cpus, work)
    }
  }

  /** The tables the queries read, from the program's `ScaleGen` generators,
    * each written as one parquet file like the sf testdata tables.
    */
  def prepare(cpus: Int, work: String, data: String, sf: Double): Unit = {
    val spark = Session.start(cpus, work)
    import graft.ScaleGen._
    def rows(perSf: Long): Long = math.max(1L, (perSf * sf).toLong)
    val tables: Seq[(String, DataFrame)] = Seq(
      "nation" -> nation(spark), "region" -> region(spark),
      "supplier" -> supplier(spark, rows(10000)), "part" -> part(spark, rows(200000)),
      "documents" -> documents(spark, rows(50000)), "embeddings" -> embeddings(spark, rows(20000)),
      "events" -> events(spark, rows(1000000)), "customer" -> customer(spark, rows(150000)),
      "orders" -> orders(spark, rows(1500000), rows(150000)),
      "lineitem" -> lineitem(spark, rows(6000000)))
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$data/$name.parquet")
    }
    Session.stop(spark)
  }

  def golden(cpus: Int, work: String, data: String, set: String, out: String): Unit = {
    val spark = Session.start(cpus, work)
    Queries.fixtures(spark, data)
    val tr = new Tracer(spark, enabled = false)
    val counts = Queries.specs(set).map { spec =>
      val r = Queries.runOne(spark, data, spec, 0, tr, mutable.Map.empty)
      if (!r.ok) System.err.println(s"[golden] ${spec.name} failed: ${r.error}")
      spec.name -> r.count
    }
    writeJson(out, scala.collection.immutable.TreeMap(counts: _*))
    Session.stop(spark)
  }

  private def readGolden(path: String): Map[String, Long] =
    json.readTree(new java.io.File(path)).fields().asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap

  def run(o: Map[String, String], cpus: Int, work: String): Unit = {
    val workload = o("workload")
    val seed = o("seed").toLong
    val trace = o("trace") == "1"
    val data = o("data")
    val ingest = workload == "feature_ingest"
    val prep0 = System.nanoTime()
    val gen =
      if (ingest) Some(new Ingest.Gen(seed, o("batches").toInt, o("rows").toInt, o("warm").toInt))
      else None
    val (goldenShort, goldenMine) =
      if (ingest) (Map.empty[String, Long], Map.empty[String, Long])
      else (readGolden(o("golden-short")), readGolden(o("golden-mine")))
    val golden = goldenShort ++ goldenMine
    val names = if (ingest) Nil
      else Queries.sample(goldenShort, o("short").toInt) ++ Queries.sample(goldenMine, o("mine").toInt)
    // setup is timed from JVM launch, leaving out the benchmark's own input generation
    val t0 = o("launch-ms").toLong / 1e3 + (System.nanoTime() - prep0) / 1e9
    val tmp = s"$work/setup"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
    System.setProperty("java.io.tmpdir", tmp)
    val spark = Session.start(cpus, work)
    val t1 = System.currentTimeMillis() / 1e3
    // ingest warms up on its own first micro-batches instead of the synthetic jobs
    if (!ingest) Session.warm(spark, tmp)
    val t2 = System.currentTimeMillis() / 1e3
    val stream = if (ingest) Some(Ingest.start(spark, s"$tmp/ingest", gen.get)) else None
    if (!ingest) Queries.fixtures(spark, data)
    val t3 = System.currentTimeMillis() / 1e3
    // (session start, warm-up, fixtures or stream start with the warm-up batches)
    val setupParts = Seq(t1 - t0, t2 - t1, t3 - t2)

    val tr = new Tracer(spark, trace)
    val runStart = System.nanoTime()
    val result: Map[String, Any] =
      if (ingest) {
        val r = Ingest.run(spark, stream.get, gen.get, tr)
        val failedChecks = r.checks.collect { case (k, false) => k }.toSeq.sorted
        Map(
          "op_ms" -> r.ops.filter(_.ok).map(_.storedMs),
          "peak_live_mb" -> r.ops.map(_.liveMb).max,
          "read_ms" -> r.ops.filter(_.ok).map(_.readMs),
          "work_s" -> r.ops.filter(_.ok).map(op => op.storedMs + op.readMs).sum / 1e3,
          "attempted" -> 2 * r.ops.size,
          "failed" -> (2 * r.ops.count(!_.ok) + failedChecks.size),
          "errors" -> (r.ops.filterNot(_.ok).map(_.error) ++ failedChecks.map("check failed: " + _)),
          "checks" -> r.checks,
          "input_hash" -> gen.get.inputHash,
          "layers" -> r.layers)
      } else {
        val r = Queries.run(spark, data, names, seed, tr)
        val wrong = r.recs.filter(q => q.ok && !golden.get(q.name).contains(q.count))
        val orderHash = java.security.MessageDigest.getInstance("SHA-256")
          .digest(r.order.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
        Map(
          "op_ms" -> r.recs.filter(_.ok).map(_.secs * 1e3),
          "peak_live_mb" -> r.recs.map(_.liveMb).max,
          "work_s" -> r.recs.filter(_.ok).map(_.secs).sum,
          "attempted" -> r.recs.size,
          "failed" -> (r.recs.count(!_.ok) + wrong.size),
          "errors" -> (r.recs.filterNot(_.ok).map(q => s"${q.name}: ${q.error}") ++
            wrong.map(q => s"${q.name}: count ${q.count} != golden ${golden(q.name)}")),
          "per_query_s" -> r.recs.map(q => q.name -> q.secs).toMap,
          "input_hash" -> orderHash,
          "layers" -> r.layers)
      }
    val runS = (System.nanoTime() - runStart) / 1e9
    val layers = mutable.Map.empty[String, Double] ++ result("layers").asInstanceOf[Map[String, Double]]
    if (trace) {
      tr.selfSeconds.foreach { case (name, s) => layers(s"self.${name}_s") = s }
      o.get("trace-out").foreach(writeJson(_, tr.dump))
    }
    tr.close()
    Session.stop(spark)
    writeJson(o("out"), result ++ Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup_s" -> (t3 - t0), "setup_parts_s" -> setupParts, "run_s" -> runS,
      "layers" -> layers.toMap))
  }
}
