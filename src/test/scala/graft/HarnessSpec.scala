package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one query lifecycle ([[Harness.run]]): every query's caches
  * and deferred cap counts are released after it, a failure — the
  * action's or the release's — and its jobs stay with the query that
  * caused it, a persisted RDD nobody registered is reported and dropped,
  * no main builds its own session or installs a listener, no code outside
  * [[Par.barrier]] checkpoints and no operator keys a fixture outside
  * [[Fixture]].
  */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.session

  private def simhash(): Long = {
    val docs = graft.sources.Tables.documents(spark, SparkFixture.sfDir)
    graft.operators.TierCSim.simhashPairs(spark, docs, 3).count()
  }

  /** The parts of a run's counts that do not depend on timing. */
  private def shape(c: Harness.Counts) =
    (c.jobs, c.stages, c.tasks, c.shuffleReadBytes, c.shuffleWriteBytes, c.spillBytes)

  test("run releases on success and on failure") {
    import spark.implicits._
    CacheRegistry.releaseAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ok = Harness.run(spark, "spec_ok")(simhash())
    assert(ok.result.exists(_ >= 0L))
    assert(CacheRegistry.registeredCount == 0, "run must release on success")
    val failed = Harness.run(spark, "spec_fails") {
      CacheRegistry.persist(Seq(1, 2).toDF("x")).count()
      throw new RuntimeException("boom")
    }
    assert(!failed.ok)
    assert(CacheRegistry.registeredCount == 0, "run must release on failure")
    assert(ok.leaked == 0 && failed.leaked == 0, (ok.leaked, failed.leaked))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"net-new persisted RDDs after run: $leaked")
  }

  test("run bills each query its own jobs, stages and tasks") {
    val sc = spark.sparkContext
    sc.parallelize(1 to 8, 8).count() // outside any run: billed to no query
    val three = Harness.run(spark, "spec_three_jobs") {
      (1 to 3).foreach(_ => sc.parallelize(1 to 10, 2).count())
    }
    val shuffle = Harness.run(spark, "spec_one_shuffle") {
      sc.parallelize(1 to 100, 4).map(x => (x % 3, 1)).reduceByKey(_ + _, 2).collect()
    }
    assert(three.counted && shuffle.counted)
    val t = three.counts
    assert((t.jobs, t.stages, t.tasks, t.shuffleWriteBytes) == (3, 3, 6, 0L), t)
    val s = shuffle.counts
    assert((s.jobs, s.stages, s.tasks) == (1, 2, 6), s)
    assert(s.shuffleWriteBytes > 0 && s.shuffleReadBytes > 0 && s.taskSecs > 0, s)
  }

  test("a failing cap-bearing query leaves the next query unaffected") {
    import spark.implicits._
    CacheRegistry.releaseAll()
    // first-read work (schema, codegen) stays out of both measured runs
    Harness.run(spark, "spec_b_warm")(simhash())
    val alone = Harness.run(spark, "spec_b_alone")(simhash())
    assert(alone.ok, alone.result)
    val before = spark.sparkContext.getPersistentRDDs.keySet

    // query A: a persisted frame, a deferred count that runs one 7-task
    // job and then fails slowly, and an action that fails before the count
    // could run in the timed region
    var countRuns = 0
    val a = Harness.run(spark, "spec_query_a") {
      CacheRegistry.persist(Seq(1, 2).toDF("x"))
      CapStats.recordDeferred("spec_cap_a") {
        countRuns += 1
        spark.sparkContext.parallelize(1 to 7, 7).count()
        Thread.sleep(3000)
        throw new IllegalStateException("count boom")
      }(_ => ())
      throw new IllegalStateException("action boom")
    }
    val failure = a.result.left.toOption.getOrElse(fail("query A must fail"))
    val described = Harness.describe(failure)
    assert(described.contains("spec_query_a") && described.contains("spec_cap_a"), described)
    assert(countRuns == 1 && CacheRegistry.pendingCount == 0,
      "A's count runs in A's release, not in the next query")
    assert(a.secs < 3.0, s"the release is untimed, yet A took ${a.secs} s")
    assert(CacheRegistry.registeredCount == 0)
    assert(a.counted && (a.counts.jobs, a.counts.stages, a.counts.tasks) == (1, 1, 7),
      s"A's release-time count job is billed to A: ${a.counts}")

    val b = Harness.run(spark, "spec_query_b")(simhash())
    assert(b.result == alone.result, s"B after A: ${b.result}, alone: ${alone.result}")
    assert(b.counted && shape(b.counts) == shape(alone.counts),
      s"B after A: ${b.counts}, alone: ${alone.counts}")
    assert(CacheRegistry.registeredCount == 0)
    assert(CacheRegistry.pendingCount == 0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"net-new persisted RDDs after A and B: $leaked")
  }

  test("run reports and drops a persisted RDD nobody registered") {
    CacheRegistry.releaseAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    val out =
      try Harness.run(spark, "spec_leaks")(spark.sparkContext.parallelize(1 to 10).persist().count())
      finally System.setErr(err)
    assert(out.result == Right(10L) && out.leaked == 1, out)
    assert(buf.toString.contains("[harness] query 'spec_leaks' left 1 persisted RDDs"), buf.toString)
    val left = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(left.isEmpty, s"net-new persisted RDDs after run: $left")
  }

  test("warm leaves no temp directory behind") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def warmDirs(): Set[String] = Using.resource(Files.list(tmp))(
      _.iterator.asScala.map(_.getFileName.toString).filter(_.startsWith("graft-warm")).toSet)
    val before = warmDirs()
    Harness.warm(spark)
    assert(warmDirs().diff(before).isEmpty, warmDirs().diff(before))
  }

  test("select returns the named queries in name order and names the unknown ones on stderr") {
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    val picked =
      try Harness.select(Seq("c2_simhash", "spec_no_such_query", "b11_agg_groupby", "c2_hitz"))
      finally System.setErr(err)
    assert(picked.map(_.name) == Seq("b11_agg_groupby", "c2_simhash"))
    assert(buf.toString.contains("[harness] unknown query names: c2_hitz, spec_no_such_query"),
      buf.toString)
    assert(Harness.select(Nil).map(_.name) == Registry.all.map(_.name).sorted)
  }

  test("jsonString round-trips quotes, backslashes and control chars") {
    val s = "analysis error: \"col\" at C:\\tmp\nnext line\ttab \u0001 end"
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Harness.jsonString(s), classOf[String])
    assert(back == s)
  }

  test("only Harness builds a session or reads SPARK_GRAFT_CPUS, only Par checkpoints") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no main sources at ${root.toAbsolutePath}")
    val checkpoint = """\.(localCheckpoint|checkpoint)\b""".r.unanchored
    val operators = root.resolve("graft/operators")
    // (the files allowed to, what no other file may contain); fixture
    // freshness and tmpdir placement belong to graft.Fixture alone
    val rules: Seq[(Path => Boolean, String => Boolean)] = Seq(
      (_ == root.resolve("graft/Harness.scala"),
        l => l.contains("SparkSession.builder") || l.contains("\"SPARK_GRAFT_CPUS\"") ||
          l.contains("addSparkListener")),
      (_ == root.resolve("graft/Par.scala"), l => checkpoint.matches(l)),
      (!_.startsWith(operators), l => l.contains("lastModified") || l.contains("java.io.tmpdir")))
    val offenders = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if rules.exists { case (allowed, bad) => !allowed(p) && bad(line) } =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
