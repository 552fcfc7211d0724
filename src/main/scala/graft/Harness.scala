package graft

import java.nio.file.{Files, Path}

import scala.util.Using

import org.apache.spark.sql.SparkSession

/** The one query lifecycle every main runs on: one session builder, one
  * warm-up, one fixture build, one query selector, and one per-query
  * bracket ([[run]]).
  *
  * The timed-region contract of [[run]]: the clock spans the action (query
  * build plus its final action) and `CacheRegistry.await()` — the deferred
  * counts on the query's ledger — nothing else. The deferred no-silent-caps
  * counts are part of a query's declared work — for queries whose final
  * `count()` prunes the capped subtree they ARE the cache build — so they
  * are timed with it. The release (`CacheRegistry.releaseAll` plus
  * `clearCache`) is untimed: it is bookkeeping between self-contained
  * queries, not work the query asked for, and a failed query's release
  * may re-run its failed lineage through a pending count, which must not
  * be billed to any timing.
  *
  * After the release, any persisted RDD the query added and nobody
  * registered is a leak: [[run]] reports it on stderr and on the outcome,
  * then unpersists it, so the next query starts clean and the defect
  * still shows.
  */
object Harness {
  /** Cores for `local[cpus]` and the shuffle partition count:
    * `SPARK_GRAFT_CPUS`, default 4 (the BASELINE.md contract).
    */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The only session builder: `local[cpus]`, shuffle partitions = cpus,
    * UTC, nanos-as-long parquet timestamps (see `Tables.events`), UI off,
    * log level WARN. `conf` pairs are applied last, so they override.
    */
  def session(conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warm-up: JIT/codegen/parquet-reader init otherwise lands on
    * whichever query runs first (measured 10-20 s attributed to the
    * alphabetically-first heavy query). One small representative job per
    * engine path (scan, shuffle agg, string/array exprs, UDFs) warms the
    * common machinery, so per-query numbers reflect steady-state cost.
    * Synthetic only: nothing here reads a data directory, so no timed
    * query is pre-warmed with its own data. A failure is logged, not thrown.
    */
  def warm(spark: SparkSession): Unit =
    try {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      spark.range(1000).selectExpr("sum(id)").collect()
      // parquet writer+reader init on a temp file
      val tmp = Files.createTempDirectory("graft-warm")
      try {
        spark.range(4096).selectExpr("id", "cast(id as string) as s", "id % 7 as k")
          .write.mode("overwrite").parquet(tmp.toString)
        spark.read.parquet(tmp.toString).filter(col("k") > 2)
          .groupBy("k").agg(sum("id"), countDistinct("s")).count()
      } finally deleteTree(tmp)
      // string/array/hash expr paths (split/filter/array_join/md5)
      (1 to 512).map(i => s"doc $i  has   text").toDF("text")
        .select(md5(array_join(filter(split(lower($"text"), " "), t => t =!= ""), " ")))
        .count()
      // string tokenize/sliding (gram family) and the WKB codec UDFs —
      // measured 2-5 s of first-use cost otherwise attributed to whichever
      // gram/spatial query runs first alphabetically
      val toks = udf { (t: String) =>
        t.split(" ").filter(_.nonEmpty).sliding(2).map(_.mkString(" ")).toArray.distinct }
      (1 to 256).map(i => s"w$i x$i y$i z$i").toDF("t")
        .select(explode(toks($"t"))).count()
      val geo = udf { (x: Double, y: Double) =>
        val d = graft.functions.Wkb.polygon(Seq(Seq((x, y), (x + 1, y), (x + 1, y + 1), (x, y))))
        graft.functions.Wkb.containsPoint(d, x + 0.5, y + 0.25) && graft.functions.Wkb.intersects(d, d) }
      spark.range(256).select(geo($"id".cast("double"), $"id".cast("double"))).count()
    } catch { case e: Throwable => System.err.println(s"[harness] warmup: ${describe(e)}") }

  /** Untimed fixture build: every file-format fixture and derived layout
    * is built on first use of its source version ([[Fixture]]), and inside
    * a timed query that one-time collect+write (0.3-2.5 s each) lands on
    * the format's first query. The one warm-up that touches the sf dir: it
    * pre-reads tables only to write DIFFERENT files, so no timed read path
    * is pre-warmed. A fixture's name carries its source tables' mtime, so
    * after the test data is regenerated every one of them is rebuilt here;
    * a current one costs one mtime walk and one `exists`. A failure is
    * logged, not thrown.
    */
  def fixtures(spark: SparkSession, sfDir: String): Unit =
    try {
      // every fixture format (.shp/.dbf, .gpkg, ...)
      graft.operators.TierA.allFixtures(spark, sfDir)
      // the derived layouts: bucketed join tables (b124/b124b), the
      // partition-pruned events dir (b125), and the saved IVF-PQ index
      // whose probe query is declared build-once/probe-many
      // (c3_ivfpq_prebuilt)
      graft.operators.TierB.bucketedTables(spark, sfDir)
      graft.operators.TierB.partitionedEvents(spark, sfDir)
      graft.operators.TierCSim.ivfPqIndexFixture(spark, sfDir)
    } catch { case e: Throwable => System.err.println(s"[harness] fixtures: ${describe(e)}") }

  /** The declared queries named in `names`, in name order — all of them
    * when `names` is empty. A name that matches no query is reported on
    * stderr, so a typo never passes as an empty run.
    */
  def select(names: Seq[String]): Seq[QuerySpec] = {
    val wanted = names.toSet
    val unknown = wanted -- Registry.all.map(_.name)
    if (unknown.nonEmpty)
      System.err.println(s"[harness] unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    Registry.all.filter(q => wanted.isEmpty || wanted(q.name)).sortBy(_.name)
  }

  private[graft] def deleteTree(root: Path): Unit =
    Using.resource(Files.walk(root))(
      _.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p)))

  /** One query's run: the seconds of its timed region, the action's value
    * or the failure, named by query, and the number of persisted RDDs the
    * query left behind after its release.
    */
  final case class Outcome[A](secs: Double, result: Either[Throwable, A], leaked: Int) {
    def ok: Boolean = result.isRight
  }

  /** Run one self-contained query. Times `action` plus `CacheRegistry.await()`
    * (see the object doc), catches any failure and names the query, then
    * always releases the query's caches, untimed. A release failure (a
    * deferred count that fails inside `releaseAll`) is contained: attached
    * to the outcome as a failure and never thrown past the query, so the
    * next query starts with no registered frame and no pending count.
    * Every failure, and every leaked RDD (see the object doc), is logged to
    * stderr.
    */
  def run[A](spark: SparkSession, name: String)(action: => A): Outcome[A] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val timed: Either[Throwable, A] =
      try { val a = action; CacheRegistry.await(); Right(a) }
      catch { case e: Throwable => Left(new RuntimeException(s"query '$name' failed: ${describe(e)}", e)) }
    val secs = (System.nanoTime() - t0) / 1e9
    // strong references: the ContextCleaner must not drop a leaked RDD
    // before it is counted
    val held = sc.getPersistentRDDs
    // queries are self-contained: a frame persisted by one query must not
    // squeeze executor memory (or appear as an InMemoryRelation) in the next
    val result =
      try { try CacheRegistry.releaseAll() finally spark.catalog.clearCache(); timed }
      catch { case e: Throwable =>
        timed match {
          case Left(f) => f.addSuppressed(e); timed
          case Right(_) => Left(new RuntimeException(s"query '$name' release failed: ${describe(e)}", e))
        }
      }
    result.left.foreach(f => System.err.println(s"[harness] ${describe(f)}"))
    val leaked = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }.values
    java.lang.ref.Reference.reachabilityFence(held)
    if (leaked.nonEmpty) {
      System.err.println(s"[harness] query '$name' left ${leaked.size} persisted RDDs")
      leaked.foreach(_.unpersist(blocking = false))
    }
    Outcome(secs, result, leaked.size)
  }

  /** A failure as one line: its message (its class when it has none),
    * followed by those of the failures attached to it.
    */
  def describe(e: Throwable): String =
    (Option(e.getMessage).getOrElse(e.toString) +: e.getSuppressed.toSeq.map(describe)).mkString("; ")

  /** `s` as a JSON string literal: backslash, quote and every control char
    * (< 0x20) escaped — a tab or CR in builder-authored SQL, or a newline
    * in a Spark error message, would otherwise break the JSON consumer.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
