package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated star schema (TESTDATA.md).
  *
  * All reads are plain parquet scans: Catalyst pushes predicates/projections
  * into the vectorized parquet reader, so callers should filter/select as
  * early as possible and let the optimizer do the pruning. At 100 TB these
  * would be partitioned/bucketed tables behind a catalog; the loader is the
  * single seam where that swap happens.
  */
object Tables {
  /** Schema memo: `spark.read.parquet(path)` infers the schema by reading
    * parquet footers — a driver-side job that every one of the ~380
    * registry queries pays once per table it touches (measured 30-60 ms
    * each at sf0.1). A real deployment fronts these paths with a catalog
    * whose schema is metadata, not a per-query footer read; this memo is
    * that catalog seam, per (JVM, path). It caches SCHEMA ONLY — never
    * data, never results: every query still computes from the parquet
    * bytes, and the physical scan is byte-identical (`.schema(s)` on a
    * path whose footer says `s` plans the exact same FileSourceScan).
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, org.apache.spark.sql.types.StructType)]()

  /** Source mtime stored with each memo entry (ADVICE r17): testdata is
    * regenerated at the SAME paths, and every other mtime-keyed
    * cache in the repo (TierA fixtures, bucketedTables, ivfPqIndexFixture)
    * refreshes on that; a schema served without the mtime check would
    * silently feed a stale schema to `spark.read.schema(...)` (nulls/missing
    * columns, not an error) if a table's shape ever changed at a reused
    * path within one JVM. A directory-shaped parquet path checks the dir's
    * own mtime (rewrites replace files inside it, bumping it). The memo is
    * keyed by path alone and an entry is replaced when its mtime differs,
    * so it holds one entry per table path however often tables are rewritten.
    */
  private def mtime(path: String): Long =
    try java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(path)).toMillis
    catch { case _: Throwable => 0L }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val m = mtime(path)
    val cached = schemaMemo.get(path)
    if (cached != null && cached._1 == m) spark.read.schema(cached._2).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaMemo.put(path, (m, df.schema))
      df
    }
  }

  /** Memo entries held (for tests). */
  private[sources] def schemaMemoSize: Int = schemaMemo.size

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")

  /** events.ts has shipped in several physical shapes across testdata
    * regenerations: parquet TIMESTAMP(NANOS) read as a raw nanos LONG (via
    * `spark.sql.legacy.parquet.nanosAsLong=true`), plain `timestamp[us]`
    * which Spark reads as TIMESTAMP_NTZ, and tz-annotated `timestamp[us]`
    * which reads as TimestampType directly. This loader normalizes ALL of
    * them to a µs TimestampType so every downstream query sees one stable
    * column type regardless of how the data was written:
    *   - nanos LONG → integer DIV 1000 (same floor-truncation Spark applies
    *     natively for ns→µs) then timestamp_micros;
    *   - TIMESTAMP_NTZ → cast to TimestampType (session TZ is pinned UTC,
    *     so the cast is value-preserving);
    *   - TimestampType → pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(CAST(ts div 1000 AS BIGINT))"))
      case TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case TimestampType => df
      // no silent pass-through: an unhandled physical shape must name the
      // loader HERE (both in tests and in Verify's direct runs), not crash
      // as an analysis exception in whichever query touches ts first —
      // the r9 failure mode this loader exists to eliminate
      case other => throw new IllegalStateException(
        s"Tables.events: unhandled physical type $other for events.ts — " +
          "add a normalization arm in sources/Tables.scala")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
