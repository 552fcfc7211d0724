package graft

/** Scale-soak runner (VERDICT r13 directive #1): times named registry
  * queries against a [[ScaleGen]]-materialized directory (sf1/sf5) so the
  * families engineered for 100 TB show a MEASURED scaling curve, not just
  * plan pins. One JSON line per query (seconds + output rows), min-of-1 —
  * soak runs are long enough that JIT noise is amortized; run twice and
  * compare if a number looks off.
  *
  * Usage: `runMain graft.ScaleBench <sfDir> <query> [query...]`
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleBench <sfDir> <query> [query...]")
    val sfDir = args.head
    // At soak scale the per-partition volume, not the operator, is what
    // bench-posture partitions get wrong — a real cluster sizes partition
    // count with the data. Default cpus: pass
    // SPARK_GRAFT_SHUFFLE explicitly per soak point.
    val spark = Harness.session("spark.sql.shuffle.partitions" ->
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", Harness.cpus.toString))
    // no fixture writers: their driver-side collect caps are deliberately
    // too small for soak-scale events
    Harness.warm(spark)
    // min-of-k (SPARK_GRAFT_REPEAT, default 1): the r14 c2_dedup_near
    // episode — a neighbor query's cache pressure inflated one point
    // 6× — is exactly what a min-of-2 makes impossible to misread
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    Harness.select(args.tail.toSeq).foreach { case QuerySpec(name, _, _, fn) =>
      // default action is count() — comparable with Bench and every
      // prior soak row, but the optimizer PRUNES deterministic
      // projection columns under it (measured r17: a11ax at sf1 is
      // 1.8 s counted vs 9.5 s evaluated), so for PROJECTION-ONLY
      // queries it times scan+plan, not the operator.
      // SPARK_GRAFT_EVAL=full forces full row evaluation via the
      // executed plan's RDD — use it when soaking map-side compute.
      def once() = Harness.run(spark, name) {
        val df = fn(spark, sfDir)
        if (sys.env.get("SPARK_GRAFT_EVAL").contains("full")) df.queryExecution.toRdd.count()
        else df.count()
      }
      // min-of-k, stopping at the first failure
      var runs = Vector(once())
      while (runs.size < repeat && runs.last.ok) runs :+= once()
      runs.last.result match {
        case Right(rows) =>
          println(f"""{"query":"$name","sec":${runs.map(_.secs).min}%.2f,"rows":$rows,"sf_dir":"$sfDir"}""")
        case Left(e) =>
          val err = Harness.jsonString(Harness.describe(e).take(120))
          println(s"""{"query":"$name","sec":-1.0,"err":$err,"sf_dir":"$sfDir"}""")
      }
    }
    spark.stop()
  }
}
