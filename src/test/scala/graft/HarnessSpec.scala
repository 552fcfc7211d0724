package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one query lifecycle ([[Harness.run]]): every query's caches
  * and deferred cap counts are released after it, a failure — the
  * action's or the release's — stays with the query that caused it, and
  * no main builds its own session.
  */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.session

  private def simhash(): Long = {
    val docs = graft.sources.Tables.documents(spark, SparkFixture.sfDir)
    graft.operators.TierCSim.simhashPairs(spark, docs, 3).count()
  }

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
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"net-new persisted RDDs after run: $leaked")
  }

  test("a failing cap-bearing query leaves the next query unaffected") {
    import spark.implicits._
    CacheRegistry.releaseAll()
    val alone = Harness.run(spark, "spec_b_alone")(simhash())
    assert(alone.ok, alone.result)
    val before = spark.sparkContext.getPersistentRDDs.keySet

    // query A: a persisted frame, a deferred count that fails slowly, and
    // an action that fails before the count could run in the timed region
    var countRuns = 0
    val a = Harness.run(spark, "spec_query_a") {
      CacheRegistry.persist(Seq(1, 2).toDF("x")).count()
      CapStats.recordDeferred("spec_cap_a") {
        countRuns += 1
        Thread.sleep(3000)
        throw new IllegalStateException("count boom")
      }(_ => ())
      throw new IllegalStateException("action boom")
    }
    val failure = a.result.left.toOption.getOrElse(fail("query A must fail"))
    val described = Harness.describe(failure)
    assert(described.contains("spec_query_a") && described.contains("spec_cap_a"), described)
    assert(countRuns == 1 && CapStats.pendingCount == 0,
      "A's count runs in A's release, not in the next query")
    assert(a.secs < 3.0, s"the release is untimed, yet A took ${a.secs} s")
    assert(CacheRegistry.registeredCount == 0)

    val b = Harness.run(spark, "spec_query_b")(simhash())
    assert(b.result == alone.result, s"B after A: ${b.result}, alone: ${alone.result}")
    assert(CacheRegistry.registeredCount == 0)
    assert(CapStats.pendingCount == 0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"net-new persisted RDDs after A and B: $leaked")
  }

  test("jsonString round-trips quotes, backslashes and control chars") {
    val s = "analysis error: \"col\" at C:\\tmp\nnext line\ttab \u0001 end"
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Harness.jsonString(s), classOf[String])
    assert(back == s)
  }

  test("only Harness builds a session or reads SPARK_GRAFT_CPUS") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no main sources at ${root.toAbsolutePath}")
    val harness = root.resolve("graft/Harness.scala")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != harness)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder") ||
              line.contains("\"SPARK_GRAFT_CPUS\"") => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
