package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the caller-owned cache contract ([[CacheRegistry]]): operator
  * functions that persist plan-reuse frames register them, and one
  * releaseAll() after the consuming action leaves NO net-new persisted
  * RDDs behind — the r6 "17 leaked persists" audit finding, made a gate.
  */
class CacheRegistrySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.session

  test("operator persists are registered and releaseAll leaves no net-new cached RDDs") {
    import spark.implicits._
    CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = graft.sources.Tables.documents(spark, SparkFixture.sfDir)
    val embs = graft.sources.Tables.embeddings(spark, SparkFixture.sfDir)

    // one operator from each persist family: SimHash (signature reuse),
    // n-gram Jaccard (explode + hot-gram reuse), IVF (index build +
    // assigned frame), MinHash LSH (signature + token reuse)
    graft.operators.TierCSim.simhashPairs(spark, docs, 3).count()
    graft.operators.TierCSim.ngramJaccardPairs(spark, docs, 0.6, 10000).count()
    graft.operators.TierCSim.ivfTopK(spark, embs, 3).count()
    graft.operators.TierCSim.annTopK(spark, embs, 3).count()
    graft.operators.TierC.nearDuplicatePairs(spark, docs, 0.8).count()

    assert(CacheRegistry.registeredCount > 0,
      "operators should have registered their plan-reuse persists")
    CacheRegistry.releaseAll()
    assert(CacheRegistry.registeredCount == 0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"net-new persisted RDDs after releaseAll: $leaked")
  }

  test("withReleased brackets the release — on success AND on failure") {
    import spark.implicits._
    CacheRegistry.releaseAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val n = CacheRegistry.withReleased {
      val docs = graft.sources.Tables.documents(spark, SparkFixture.sfDir)
      graft.operators.TierCSim.simhashPairs(spark, docs, 3).count()
    }
    assert(n >= 0L)
    assert(CacheRegistry.registeredCount == 0, "bracket must release on success")
    intercept[RuntimeException] {
      CacheRegistry.withReleased {
        CacheRegistry.persist(Seq(1, 2).toDF("x")).count()
        throw new RuntimeException("boom")
      }
    }
    assert(CacheRegistry.registeredCount == 0, "bracket must release on failure")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"net-new persisted RDDs after withReleased: $leaked")
  }

  test("a failing deferred count still releases every frame and drains the other counts") {
    import spark.implicits._
    CacheRegistry.releaseAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CacheRegistry.persist(Seq(1, 2).toDF("x")).count()
    var ran = 0
    CapStats.recordDeferred("spec_count_fails")(throw new IllegalStateException("boom"))(_ => ())
    CapStats.recordDeferred("spec_count_after")({ ran += 1; 0L })(_ => ())
    val e = intercept[RuntimeException](CacheRegistry.releaseAll())
    assert(e.getMessage.contains("spec_count_fails"), e.getMessage)
    assert(CacheRegistry.registeredCount == 0, "a failed count must not skip the unpersist")
    assert(CapStats.pendingCount == 0, "a failed count must not leave later counts pending")
    assert(ran == 1, "the count queued after the failing one must still run")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"net-new persisted RDDs after a failed releaseAll: $leaked")
    CapStats.clear()
  }
}
