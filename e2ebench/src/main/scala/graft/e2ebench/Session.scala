package graft.e2ebench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Session start, and the warm-up that `graft.Bench` runs before its pass:
  * synthetic jobs over the common engine paths (range agg, parquet
  * write/read, string/array exprs, tokenizer and WKB UDFs). None of them
  * touches the benchmark data. Both count as setup, not as query time.
  */
object Session {
  def start(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Live memory in MB: heap still in use after a full collection, plus
    * non-heap in use (metaspace, code cache). It follows what the program
    * holds (cached frames, state stores, generated classes), not how far
    * the JVM chose to grow its heap. The collection is a stop-the-world
    * pause, so callers take it outside timed regions.
    */
  def liveMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  def warm(spark: SparkSession, tmp: String): Unit = {
    import spark.implicits._
    spark.range(1000).selectExpr("sum(id)").collect()
    val dir = s"$tmp/warm-parquet"
    spark.range(4096).selectExpr("id", "cast(id as string) as s", "id % 7 as k")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).filter(col("k") > 2)
      .groupBy("k").agg(sum("id"), countDistinct("s")).count()
    (1 to 512).map(i => s"doc $i  has   text").toDF("text")
      .select(md5(array_join(filter(split(lower($"text"), " "), t => t =!= ""), " ")))
      .count()
    val toks = udf { (t: String) =>
      t.split(" ").filter(_.nonEmpty).sliding(2).map(_.mkString(" ")).toArray.distinct }
    (1 to 256).map(i => s"w$i x$i y$i z$i").toDF("t").select(explode(toks($"t"))).count()
    val geo = udf { (x: Double, y: Double) =>
      val d = graft.functions.Wkb.polygon(Seq(Seq((x, y), (x + 1, y), (x + 1, y + 1), (x, y))))
      graft.functions.Wkb.containsPoint(d, x + 0.5, y + 0.25) &&
        graft.functions.Wkb.intersects(d, d)
    }
    spark.range(256).select(geo($"id".cast("double"), $"id".cast("double"))).count()
  }
}
