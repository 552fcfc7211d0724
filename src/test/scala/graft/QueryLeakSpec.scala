package graft

import org.apache.spark.rdd.RDD
import org.scalatest.funsuite.AnyFunSuite

/** The iterative-loop and star-CC queries whose lineage barriers used to
  * outlive them (local-checkpoint blocks nobody registered, left for the
  * ContextCleaner): each one, run through [[Harness.run]], leaves no
  * persisted RDD behind and reports none leaked.
  */
class QueryLeakSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.session

  Seq("b52_hierarchy_closure", "c2_hits", "c2_kcore", "c2_cluster", "c2_cluster_sizes",
      "c2_dedup_corpus", "c2_semdedup", "c6i_media_dedup").foreach { name =>
    test(s"$name leaves no persisted RDD behind") {
      val sc = spark.sparkContext
      CacheRegistry.releaseAll()
      val before = sc.getPersistentRDDs.keySet
      var held: collection.Map[Int, RDD[_]] = Map.empty
      val out = Harness.run(spark, name) {
        val n = Registry.queries(name)(spark, SparkFixture.sfDir).count()
        // a strong copy, so the ContextCleaner cannot hide a leak by
        // dropping it before the check below
        held = sc.getPersistentRDDs
        n
      }
      assert(out.ok, out.result)
      assert(held.keySet.diff(before).nonEmpty, s"$name persisted nothing, so nothing is checked")
      assert(out.leaked == 0, s"$name left ${out.leaked} persisted RDDs")
      val left = sc.getPersistentRDDs.keySet.diff(before)
      java.lang.ref.Reference.reachabilityFence(held)
      assert(left.isEmpty, s"net-new persisted RDDs after $name: $left")
    }
  }
}
