package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = Harness.session()
    // Oracle-type lint (loud, non-fatal here so one bad SQL can't zero the
    // whole round's dump; OracleLintSpec turns the same check into a hard
    // test failure): uncast DuckDB window SUMs return HUGEINT and
    // hash-mismatch on type alone — the round-5 red-row family.
    OracleLint.violations(SparkEntry.oracleSql).foreach { case (name, snip) =>
      System.err.println(s"[verify][lint] $name: uncast window SUM (DuckDB HUGEINT) near: $snip")
    }
    new java.io.File(outDir).mkdirs()
    // extra args = query-name filter (local iteration; none = every query)
    val selected = Harness.select(args.drop(2).toSeq)
    // a failed query is logged by Harness.run and left out of `written`
    val written = selected.count { case QuerySpec(name, _, _, fn) =>
      Harness.run(spark, name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }.ok
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Registry-vs-dump reconciliation (VERDICT r9 #7): a query that crashes
    // is otherwise silently ABSENT from the driver's correctness JSON; this
    // line makes the miscount detectable from the artifact alone.
    println(s"""{"declared": ${selected.size}, "written": $written}""")
    if (written < selected.size)
      System.err.println(s"[verify] WARNING: ${selected.size - written} declared " +
        "queries crashed and are missing from the dump — see failures above")
    spark.stop()
  }
}
