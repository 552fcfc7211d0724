package graft.e2ebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{CacheRegistry, CapStats, QuerySpec}
import graft.operators.{Multimodal, Spatial, TierA, TierCSim}

/** The batch_queries workload: a fixed sample of two declared query sets,
  * run once each in seed-permuted order. Each query is built, counted and
  * cap-counted, then its caches are released.
  */
object Queries {
  /** The sampled sets: `short` is overhead-bound (planning, codegen, job
    * orchestration), `mine` is execution-bound (pair mines, graph loops,
    * vector search) and carries the deferred cap counts.
    */
  def specs(set: String): Seq[QuerySpec] = set match {
    case "short" => TierA.specs ++ Spatial.specs ++ Multimodal.specs
    case "mine" => TierCSim.specs
  }

  /** The first `n` names of a golden set in SHA-256 order: a sample that
    * depends only on the names, not on their speed.
    */
  def sample(golden: Map[String, Long], n: Int): Seq[String] = {
    def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    golden.keys.toSeq.sortBy(sha).take(n)
  }

  /** The disk fixtures and derived layouts the sets read, built in setup
    * as `graft.Bench` does so no timed query pays a one-time write.
    */
  def fixtures(spark: SparkSession, data: String): Unit = {
    TierA.allFixtures(spark, data)
    TierCSim.ivfPqIndexFixture(spark, data)
  }

  final case class Rec(name: String, secs: Double, ok: Boolean, count: Long, error: String,
      leaked: Int, liveMb: Double)

  /** Run one query through build, plan, action and cap counts (timed),
    * then sample live memory while its caches are still held and release
    * them (both untimed). A failure anywhere is caught here
    * and cannot reach the next query: pending cap counts are drained and
    * every cache left behind is dropped through Spark's public API.
    */
  def runOne(spark: SparkSession, data: String, spec: QuerySpec, group: Int,
      tr: Tracer, layers: mutable.Map[String, Double]): Rec =
    tr.span("query", group) {
      var count = -1L
      var error = ""
      val t0 = System.nanoTime()
      try {
        val df = tr.span("build", group)(spec.fn(spark, data))
        val counted = df.groupBy().count()
        tr.span("plan", group)(counted.queryExecution.executedPlan)
        if (tr.enabled) {
          val phases = counted.queryExecution.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { p =>
            layers(s"planner.${p}_s") = layers.getOrElse(s"planner.${p}_s", 0.0) +
              phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
          }
        }
        count = tr.span("action", group)(counted.collect().head.getLong(0))
        tr.span("capcounts", group)(CapStats.await())
      } catch {
        case e: Throwable => error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      // the sample's collection would let Spark's cleaner unpersist RDDs the
      // query dropped; holding them keeps them for the release to count
      val held = spark.sparkContext.getPersistentRDDs
      val live = tr.span("livemem", group)(Session.liveMb())
      java.lang.ref.Reference.reachabilityFence(held)
      val (releaseFailed, leaked) = tr.span("release", group)(release(spark, tr, layers))
      if (releaseFailed && error.isEmpty) error = "CacheRegistry.releaseAll failed"
      Rec(spec.name, secs, error.isEmpty, count, error, leaked, live)
    }

  /** `CacheRegistry.releaseAll` plus `clearCache`, contained. Returns
    * (whether the release threw, persisted RDDs still left afterwards).
    */
  def release(spark: SparkSession, tr: Tracer, layers: mutable.Map[String, Double]): (Boolean, Int) = {
    if (tr.enabled) {
      val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      layers("cache_registry.cached_peak_bytes") =
        math.max(layers.getOrElse("cache_registry.cached_peak_bytes", 0.0), bytes.toDouble)
      layers("cache_registry.frames") =
        layers.getOrElse("cache_registry.frames", 0.0) + CacheRegistry.registeredCount
    }
    var failed = false
    var done = false
    var tries = 0
    // each failed pending count is dequeued before it rethrows, so retrying drains the queue
    while (!done && tries < 1000) {
      try { CacheRegistry.releaseAll(); done = true }
      catch { case _: Throwable => failed = true; tries += 1 }
    }
    spark.catalog.clearCache()
    val left = spark.sparkContext.getPersistentRDDs.values.toSeq
    left.foreach(_.unpersist(blocking = false))
    (failed, left.size)
  }

  final case class Result(recs: Seq[Rec], order: Seq[String], layers: Map[String, Double])

  /** Run `names` (a sample of `golden`) in the order the seed gives. */
  def run(spark: SparkSession, data: String, names: Seq[String], seed: Long, tr: Tracer): Result = {
    val byName = (specs("short") ++ specs("mine")).map(s => s.name -> s).toMap
    val order = new scala.util.Random(seed).shuffle(names.sorted)
    val layers = mutable.Map.empty[String, Double]
    val (compiles0, compileS0) = Tracer.codegen
    val recs = order.zipWithIndex.map { case (name, i) =>
      byName.get(name) match {
        case Some(spec) => runOne(spark, data, spec, i, tr, layers)
        case None => Rec(name, 0.0, ok = false, -1L, "query no longer declared", 0, 0.0)
      }
    }
    if (tr.enabled) {
      tr.drain()
      val (compiles1, compileS1) = Tracer.codegen
      layers("codegen.compiles") = (compiles1 - compiles0).toDouble
      layers("codegen.compile_s") = compileS1 - compileS0
      layers("operators.build_jobs") = tr.jobsUnder(Set("build")).toDouble
      layers("capstats.counts") = tr.sqlExecutionsUnder("capcounts").toDouble
      layers("cache_registry.leaked_frames") = recs.map(_.leaked).sum.toDouble
      layers ++= tr.execMetrics
      layers("operators.build_s") = tr.wallSeconds("build")
      layers("capstats.await_s") = tr.wallSeconds("capcounts")
      layers("cache_registry.release_s") = tr.wallSeconds("release")
    }
    Result(recs, order, layers.toMap)
  }
}
