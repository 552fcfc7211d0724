package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits (the 100 TB posture checks from the builder
  * brief): predicates reach the parquet scan, projections prune columns,
  * dimension joins broadcast, top-k avoids a global sort, and the
  * flagship aggregate partial-aggregates before its shuffle. These pin
  * the plans so a refactor can't silently regress them.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.session
  private val sf = SparkFixture.sfDir

  private def plan(name: String): String =
    Registry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("b3_filter: predicates pushed to the parquet scan") {
    val p = plan("b3_filter")
    // plan toString truncates the filter list — assert the scan carries a
    // non-empty pushed-filter set including the leading shipdate bound
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
  }

  test("b2_project: scan reads only the projected columns") {
    val p = plan("b2_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"),
      "unprojected columns reach the scan: " + readSchema)
  }

  test("b7_join_broadcast: both dimension joins broadcast, fact side never shuffles for the join") {
    val p = plan("b7_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, p)
    assert(!p.contains("SortMergeJoin"), "dimension join fell back to SMJ:\n" + p)
  }

  test("b18_topk: orderBy+limit compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("b18_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("b11 flagship: hash aggregation is partial before the shuffle") {
    val p = plan("b11_agg_groupby")
    // partial + final HashAggregate pair around one exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("Exchange hashpartitioning(l_returnflag"), p)
  }

  test("spatial joins: cell-key equi-joins, never nested-loop or cartesian") {
    for (name <- Seq("a11d_spatial_join", "a11f_polygon_join")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name: grid blocking failed to produce an equi-join:\n" + p)
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        s"$name: expected a hash/merge join on the cell key:\n" + p)
    }
  }

  test("c1c keep-best: single partial-aggregated max_by, no window, no per-group sort") {
    val p = plan("c1c_dedup_keep_best")
    assert(!p.contains("Window"), "keep-best regressed to a window formulation:\n" + p)
    assert(p.contains("partial_max_by") || p.contains("partial_maxby") ||
      ("Aggregate".r.findAllIn(p).length >= 2 && p.contains("max_by")),
      "max_by is not partial-aggregating before the shuffle:\n" + p)
  }

  test("nearest-polygon join: equi-join on the cell key plus WindowGroupLimit argmin") {
    val p = plan("a11j_nearest_poly")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), "per-point argmin not group-limited:\n" + p)
  }

  test("spatial kNN join: cell equi-join, WindowGroupLimit top-k, no cartesian") {
    val p = plan("a11aq_knn_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), "per-point top-k not group-limited:\n" + p)
  }

  test("a11ar_trajectory: every window keys on user_id; one user exchange feeds lags and rollup") {
    val p = plan("a11ar_trajectory")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toList
    assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
      "every lag window must partition by user_id:\n" + specs.mkString("\n"))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      "the lag windows and the rollup must share ONE user exchange:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b13c count-min: sketch aggregation is partial before its single-row shuffle") {
    val p = plan("b13c_countmin")
    // typed Aggregator → ObjectHashAggregate, partial + final pair
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("c3_knn: native dot expression stays inside whole-stage codegen") {
    // AQE's pre-execution toString hides codegen stage markers; disable it
    // for the audit so `*(n)` spans are printed
    val orig = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val exec = Registry.queries("c3_knn_cosine")(spark, sf)
        .queryExecution.executedPlan.toString
      val dotLines = exec.linesIterator.filter(_.contains("graft_dot_f")).toSeq
      assert(dotLines.nonEmpty, exec)
      assert(dotLines.exists(_.contains("*(")),
        "dot-product projection fell out of whole-stage codegen:\n" + exec)
    } finally spark.conf.set("spark.sql.adaptive.enabled", orig)
  }

  test("b8b interval join: bucket equi-join, never nested-loop or cartesian") {
    val p = plan("b8b_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "interval join degraded to a per-pair scan:\n" + p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("a11m morton: pure projection — no shuffle except the presentation sort") {
    val p = plan("a11m_morton")
    // exactly one Exchange (the final orderBy's range partitioning)
    assert("Exchange".r.findAllIn(p).length == 1, p)
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLUDF"), p)
  }

  test("c1e bloom dedup: filter broadcast once, verification join never full-cross") {
    val p = plan("c1e_bloom_dedup")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b37 gapfill: grid, join, and LOCF window share the event_type shuffle key") {
    val exec = Registry.queries("b37_gapfill")(spark, sf).queryExecution.executedPlan
    // adjacent same-key operators must not re-exchange: the plan has at
    // most 3 shuffles (two agg sides + final sort) even though it contains
    // grid-gen + join + window + sort
    val shuffles = exec.toString.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 3, s"$shuffles hash exchanges:\n" + exec)
  }

  test("c3_rerank: coarse pair shuffle carries the 16-float prefix, never the full embedding") {
    // at sf0.01 the label join broadcasts; force the at-scale SMJ shape
    // (the ScaleSpec broadcast-off pattern) so the coarse exchanges exist
    val orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val exec = Registry.queries("c3_rerank")(spark, sf)
        .queryExecution.executedPlan.toString
      val lines = exec.linesIterator.toIndexedSeq
      val labelExchanges = lines.zipWithIndex.filter(_._1.contains(
        "Exchange hashpartitioning(label")).map(_._2)
      assert(labelExchanges.nonEmpty, "no label-keyed coarse exchange:\n" + exec)
      // the subtree under each coarse exchange holds p16, not embedding
      labelExchanges.foreach { i =>
        val feeding = lines.drop(i + 1).take(4).mkString("\n")
        assert(feeding.contains("p16"), s"coarse exchange input lacks prefix:\n$feeding")
        assert(!feeding.contains("embedding#"),
          s"full embedding rides the coarse pair exchange:\n$feeding")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
    graft.CacheRegistry.releaseAll()
  }

  test("hotPreFilter dedup paths: no window over the raw posting list, hot set broadcast") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
    val p = graft.operators.TierCSim
      .ngramJaccardPairs(spark, docs, 0.6, 10000, hotPreFilter = true)
      .queryExecution.executedPlan.toString
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window"),
      "scale path still runs the df window over posting lists:\n" + p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "hot-gram set is not a broadcast anti-join:\n" + p)
    graft.CacheRegistry.releaseAll()
  }

  test("c1h global shuffle: range + pid exchanges only — never a single-partition sort") {
    val exec = Registry.queries("c1h_global_shuffle")(spark, sf)
      .queryExecution.executedPlan.toString
    // the global total order must come from range partitioning + local
    // ranks, not an Exchange SinglePartition feeding one giant sort
    assert(!exec.contains("Exchange SinglePartition"),
      "global shuffle collapsed to a single-task sort:\n" + exec)
    assert(exec.contains("Exchange rangepartitioning(k"),
      "expected the md5-key range exchange:\n" + exec)
    graft.CacheRegistry.releaseAll()
  }

  test("c2_incremental: arriving side filtered to is_new before the equi-join — old×old never generated") {
    val p = plan("c2_incremental")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "incremental admission regressed to a non-equi join:\n" + p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "expected a hash/merge join on (source, gram):\n" + p)
    // the build side must be the increment's postings only: an is_new
    // predicate has to sit under the join, not after it
    val joinLine = p.linesIterator.indexWhere(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    val below = p.linesIterator.drop(joinLine + 1).mkString("\n")
    assert(below.contains("is_new"),
      "no is_new filter under the candidate join — old×old pairs would be generated:\n" + p)
    graft.CacheRegistry.releaseAll()
  }

  test("c2_pagerank: edges cached once, contributions partial-aggregate before the shuffle") {
    val p = plan("c2_pagerank")
    assert(p.contains("InMemoryTableScan"),
      "edge frame is not cached — every iteration would rebuild the pair graph:\n" + p)
    assert(p.contains("partial_sum"),
      "contribution sum is not partial-aggregating map-side:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    graft.CacheRegistry.releaseAll()
  }

  test("c4_hashscore: weight lookup broadcasts, per-doc sum partial-aggregates") {
    val p = plan("c4_hashscore")
    assert(p.contains("BroadcastHashJoin"),
      "weight table is not broadcast — the corpus would shuffle for a 256-row lookup:\n" + p)
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "per-doc score is not partial-aggregating map-side:\n" + p)
  }

  test("c1i stratified top-k: rank filter compiles to WindowGroupLimit — no stratum global sort") {
    val p = plan("c1i_stratified_topk")
    assert(p.contains("WindowGroupLimit"),
      "per-stratum top-k is not group-limited (full sort per source):\n" + p)
  }

  test("a11w geofence: fences broadcast, the point stream side never shuffles for the join") {
    val p = plan("a11w_geofence")
    // UDF join condition ⇒ BroadcastNestedLoopJoin is the CORRECT shape
    // here: the build side is the ops-sized fence table (rows = fences,
    // never corpus), and broadcasting it is exactly what keeps the point
    // side shuffle-free — the property geofenceAlerts promises at scale
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "fence table is not broadcast — the point stream would shuffle:\n" + p)
    assert(!p.contains("CartesianProduct"),
      "fence join fell back to a cartesian product:\n" + p)
    // the only exchange allowed is the presentation sort's range partition
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).toList
    assert(!exchanges.exists(_.contains("hashpartitioning")),
      "points hash-shuffled for the fence join:\n" + p)
  }

  test("c2_fuzzy_join: block-key equi-join, never nested-loop or cartesian") {
    val p = plan("c2_fuzzy_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "fuzzy join lost its block equi-join (all-pairs levenshtein at scale):\n" + p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "expected a hash/merge join on the block key:\n" + p)
  }

  test("c4_bpe_pairs: pair count partial-aggregates map-side, top-50 is TakeOrdered") {
    val p = plan("c4_bpe_pairs")
    assert(p.contains("partial_count") || "HashAggregate".r.findAllIn(p).length >= 2,
      "pair counting does not partial-aggregate before the exchange:\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-50 pairs runs a global sort instead of TakeOrdered:\n" + p)
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      "bigram extraction left whole-stage codegen (UDF in the hot path):\n" + p)
  }

  test("b13d/b13e sketches: typed aggregation is partial before the group shuffle") {
    for (name <- Seq("b13d_hll_replay", "b13e_bottomk_quantile")) {
      val p = plan(name)
      // typed Aggregator → ObjectHashAggregate partial+final pair: each
      // partition ships ONE fixed-size sketch per group, never raw rows
      assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
        s"$name: sketch does not partial-aggregate map-side:\n" + p)
    }
  }

  test("a11z intersection: per-row map work — no shuffle except the presentation sort") {
    val p = plan("a11z_intersection")
    assert("Exchange".r.findAllIn(p).length == 1,
      "convex clip should be shuffle-free up to the final sort:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      "constant clip polygon must not become a join:\n" + p)
  }

  test("c4_bpe_encode: corpus joins the vocab-sized encoding table, no per-doc merge loop") {
    val p = plan("c4_bpe_encode")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "encode join degraded:\n" + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      "expected an equi-join on the word key:\n" + p)
    // token totals partial-aggregate before the doc_id shuffle
    assert(p.contains("partial_sum") || "HashAggregate".r.findAllIn(p).length >= 2,
      "per-doc token sum is not partial-aggregating:\n" + p)
    graft.CacheRegistry.releaseAll()
  }

  test("c1o token budget: per-source cumsum via range + pid windows — never one task per source") {
    val exec = Registry.queries("c1o_token_budget")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("Exchange SinglePartition"),
      "budget cumsum collapsed to a single-task shape:\n" + exec)
    assert(exec.contains("Exchange rangepartitioning(source"),
      "expected the (source, md5-key) range exchange:\n" + exec)
    // the running-sum window must be pid-local, not a whole-source window
    val winLine = exec.linesIterator.find(_.contains("windowspecdefinition")).getOrElse("")
    assert(winLine.contains("pid"),
      "window is not pid-partitioned — one task would serialize each source:\n" + winLine)
    graft.CacheRegistry.releaseAll()
  }

  test("TPC-H composites: equi-joins only, partial agg, Q3 top-10 is TakeOrdered") {
    val q3 = plan("b43_tpch_q3")
    assert(!q3.contains("CartesianProduct") && !q3.contains("BroadcastNestedLoopJoin"), q3)
    assert(q3.contains("TakeOrderedAndProject"),
      "Q3 top-10 runs a global sort instead of TakeOrdered:\n" + q3)
    assert("HashAggregate".r.findAllIn(q3).length >= 2,
      "Q3 revenue is not partial-aggregating:\n" + q3)
    val q5 = plan("b44_tpch_q5")
    assert(!q5.contains("CartesianProduct") && !q5.contains("BroadcastNestedLoopJoin"), q5)
    // the supplier⋈nation⋈region probe side broadcasts into the fact flow
    assert(q5.contains("BroadcastHashJoin"),
      "Q5 dimension flow is not broadcasting:\n" + q5)
    assert("HashAggregate".r.findAllIn(q5).length >= 2,
      "Q5 revenue is not partial-aggregating:\n" + q5)
  }

  test("b48_grouping_sets: one Expand + one partial/final agg pair, not a multi-scan union") {
    val p = plan("b48_grouping_sets")
    // the four grouping sets must compile to a single Expand over ONE scan
    assert("Expand".r.findAllIn(p).length == 1, "expected exactly one Expand:\n" + p)
    assert("Scan parquet".r.findAllIn(p).length == 1,
      "grouping sets re-scanned the fact table:\n" + p)
    assert(!p.contains("Union"), "grouping sets fell back to a UNION of scans:\n" + p)
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "grouping-sets agg is not partial-aggregating:\n" + p)
  }

  test("a11ab hilbert: one codegen'd expression node, no shuffle except the presentation sort") {
    val p = plan("a11ab_hilbert")
    assert(p.contains("graft_hilbert"), "native hilbert node missing:\n" + p)
    assert("Exchange".r.findAllIn(p).length == 1, p)
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLUDF"), p)
  }

  test("c2_triangles: edge list cached once, equi-joins only, never cartesian") {
    val p = plan("c2_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "triangle enumeration degraded to all-pairs:\n" + p)
    // the cached sourced edge list + orientation feed every consumer —
    // without the persist each reference recomputes the whole pair join
    assert(p.contains("InMemoryTableScan"), "edge list not cached:\n" + p)
    graft.CacheRegistry.releaseAll()
  }

  test("b49_snapshot_diff: one full-outer join on the key, snapshot filters pushed to the scans") {
    val p = plan("b49_snapshot_diff")
    assert(p.contains("FullOuter"), p)
    assert("Join".r.findAllIn(p).length == 1, "diff must be a single join:\n" + p)
    assert("Scan parquet".r.findAllIn(p).length == 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("b50_agg_merge: slice predicates pushed, merge agg partial-aggregates over group-sized input") {
    val p = plan("b50_agg_merge")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate") ||
      p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual"), p)
    // 2 slice partial/final pairs + the merge partial/final pair
    assert("HashAggregate".r.findAllIn(p).length == 6, p)
    assert("Scan parquet".r.findAllIn(p).length == 2,
      "merge must not rescan the base beyond its two slices:\n" + p)
  }

  test("b51_tpch_q18: pre-agg before any join, single fact scan, top-100 is TakeOrdered") {
    val p = plan("b51_tpch_q18")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("Scan parquet .*lineitem".r.findAllIn(p).length == 1,
      "Q18 re-scanned the fact table:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the quantity aggregate must partial-aggregate below its exchange
    assert(p.contains("partial_sum"), p)
  }

  test("b58_tpch_q21: EXISTS/NOT-EXISTS arms fused into one profile — one cached fact, no cartesian") {
    val p = plan("b58_tpch_q21")
    // the rewrite reads the CACHED lineitem projection twice (profile +
    // late lines) instead of three fact scans for l1/l2/l3. The nested
    // cached plan still prints its parquet scan, so the string count is
    // one per InMemoryTableScan — assert both cache hits and that no
    // THIRD (uncached, per-EXISTS-arm) scan exists
    assert("InMemoryTableScan".r.findAllIn(p).length == 2, p)
    assert("Scan parquet .*lineitem".r.findAllIn(p).length <= 2,
      "Q21 rewrite must not rescan lineitem per EXISTS arm:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // nation-filtered supplier dim rides a broadcast; top-100 is TakeOrdered
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the supplier-profile countDistincts partial-aggregate below their exchange
    assert(p.contains("partial_count"), p)
  }

  test("b52_hierarchy_closure: rounds cut lineage — final plan reads a checkpoint, not a join tree") {
    val p = plan("b52_hierarchy_closure")
    // the 6 doubling rounds ran eagerly at plan-build time (localCheckpoint);
    // the declared frame's own plan is just sort-over-checkpoint-scan
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      "closure plan did not truncate at the checkpoint barrier:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "final plan still carries the doubling joins — lineage not cut:\n" + p)
  }

  test("b53_ewma: one shuffle on the key, fold is codegen'd aggregate — no UDF anywhere") {
    val p = plan("b53_ewma")
    // history agg + presentation sort — nothing else may shuffle
    assert("Exchange".r.findAllIn(p).length == 2, p)
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLUDF") &&
      !p.contains("ScalaUDF"), "EWMA fold fell back to a UDF:\n" + p)
    assert(p.contains("aggregate(") || p.contains("Aggregate("), p)
  }

  test("c5b_bm25: top-10 is TakeOrdered — no unpartitioned window over the score frame") {
    val p = plan("c5b_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      "BM25 top-10 regressed to a global-window sort:\n" + p)
  }

  test("b59_gap_fill: spine and fill windows are partitioned by user — nothing unpartitioned") {
    val p = plan("b59_gap_fill")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "gap fill built a global calendar cross join:\n" + p)
    // every Window operator must carry a user_id partition spec
    p.linesIterator.filter(_.contains("Window ")).foreach { l =>
      assert(l.contains("user_id"), "unpartitioned window in gap fill: " + l)
    }
  }

  test("b60_merge_upsert: base streams past broadcast changes — base-side never exchanges") {
    val p = plan("b60_merge_upsert")
    assert(!p.contains("SortMergeJoin"),
      "MERGE arm fell back to shuffling the base table:\n" + p)
    // all three joins (kept, matched-keys, insert-anti) must be broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).length == 3, p)
    // only the presentation sort may exchange
    assert(!p.contains("Exchange hashpartitioning"),
      "base side hash-exchanged in MERGE:\n" + p)
  }

  test("b61_profile: single scan of orders, one Expand for the multi-countDistinct") {
    val p = plan("b61_profile")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      "profiler scans the table more than once:\n" + p)
    assert("Expand".r.findAllIn(p).length == 1, p)
  }

  test("c4_chunk_dedup: first-occurrence via hash agg — no window over the fingerprint (mega-key safe)") {
    val p = plan("c4_chunk_dedup")
    assert(!p.contains("Window"),
      "chunk dedup regressed to a window over the fingerprint:\n" + p)
    // min_by first-occurrence agg must partial-aggregate before its exchange
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
  }

  test("c3_rand_proj: projection is map-side — no hash exchange, no join, sign matrix rides as literals") {
    val p = plan("c3_rand_proj")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"),
      "JL projection stopped being map-side:\n" + p)
  }

  test("c3_binary_hamming: packed-bits frame cached once, candidate join is equi on label") {
    val p = plan("c3_binary_hamming")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("InMemoryTableScan"),
      "packed-bit frame is recomputed per join side:\n" + p)
  }

  test("b62_groupwise_min: one fact scan + partial-agged struct-min, dims broadcast, no window/subquery rescan") {
    val p = plan("b62_groupwise_min")
    assert("Scan parquet".r.findAllIn(p).toSeq.count(_ => true) >= 1)
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) == 1,
      "fact table scanned more than once:\n" + p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "supplier/nation enrichment stopped broadcasting:\n" + p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("a11ad_hexbin: map-side hex key, one partial-agged shuffle + presentation sort only") {
    val p = plan("a11ad_hexbin")
    assert("Exchange".r.findAllIn(p).length == 2, p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("ScalaUDF"), "hex key fell out of codegen into a UDF:\n" + p)
  }

  test("c4_reject_reasons: per-doc features map-side (HOFs, no explode-groupBy), one source rollup") {
    val p = plan("c4_reject_reasons")
    assert("Exchange".r.findAllIn(p).length == 2, p)
    assert(!p.contains("Generate"),
      "per-doc features regressed to an explode:\n" + p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("c5c_ql_dirichlet: top-10 is TakeOrdered, global LM stats broadcast — the audited BM25 shape") {
    val p = plan("c5c_ql_dirichlet")
    assert(p.contains("TakeOrderedAndProject"),
      "QL top-10 regressed to a global-window sort:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "one-row global stats frame stopped broadcasting:\n" + p)
  }

  test("a11ae_validity: orientation predicate is map-side codegen, one rollup + presentation sort") {
    val p = plan("a11ae_validity")
    assert("Exchange".r.findAllIn(p).length == 2, p)
    assert(!p.contains("ScalaUDF"),
      "validity predicate fell out of codegen into a UDF:\n" + p)
  }

  test("c2_kcore: peel rounds cut lineage — final plan reads a checkpointed RDD, not a 4-round join tree") {
    val p = plan("c2_kcore")
    // the measured failure mode was 2^rounds recomputation from a
    // twice-referenced lazy-persist plan; localCheckpoint leaves the last
    // round reading an ExistingRDD scan with at most one join pair above it
    assert(p.contains("Scan ExistingRDD"),
      "k-core rounds no longer checkpoint — lineage will double per round:\n" + p)
    assert(!p.contains("lineitem.parquet") && !p.contains("documents.parquet"),
      "final k-core plan re-reads base tables — checkpoint not cutting lineage:\n" + p)
  }

  test("b63_ohlc: one scan, one partial-agged hash agg — argmin/argmax inside the aggregate, no window, no self-join") {
    val p = plan("b63_ohlc")
    assert(p.linesIterator.count(_.contains("events.parquet")) == 1,
      "OHLC re-scans or self-joins the fact table:\n" + p)
    assert(!p.contains("Window"), p)
    assert("Exchange".r.findAllIn(p).length == 2, p)
  }

  test("c3_quantize_channel: dim-max calibration partial-aggregates, scales broadcast, quantize map-side") {
    val p = plan("c3_quantize_channel")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "per-channel scales stopped broadcasting:\n" + p)
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "dim-max lost its partial aggregation:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("b64_top_paths: sessionization windows carry user_id, census top-20 is TakeOrdered") {
    val p = plan("b64_top_paths")
    p.linesIterator.filter(_.contains("Window ")).foreach { l =>
      assert(l.contains("user_id"), "unpartitioned sessionization window: " + l)
    }
    assert(p.contains("TakeOrderedAndProject"),
      "path census regressed to a global sort:\n" + p)
  }

  test("graft_dot registers through SparkSessionExtensions and matches the Column API") {
    val fixture = spark // force fixture init before we swap sessions
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // new session (shared SparkContext) so withExtensions actually applies
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      val df = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
      df.createOrReplaceTempView("v")
      val sql = s2.sql("SELECT graft_dot(a, b) AS d FROM v").collect().head.getDouble(0)
      val col = df.select(functions.VectorExprs.dotF($"a", $"b")).collect().head.getDouble(0)
      assert(sql == 11.0 && col == 11.0)
      s2.catalog.dropTempView("v")
      // graft_morton: SQL surface matches the Column-arithmetic key and
      // stays a pure expression tree (no ScalaUDF node in the plan)
      val m = Seq((12345L, 54321L)).toDF("qx", "qy")
      m.createOrReplaceTempView("mv")
      val mSql = s2.sql("SELECT graft_morton(qx, qy) AS k FROM mv")
      val mCol = m.select(operators.Spatial.mortonCol($"qx", $"qy")).collect().head.getLong(0)
      assert(mSql.collect().head.getLong(0) == mCol)
      assert(!mSql.queryExecution.executedPlan.toString.contains("UDF"))
      // graft_hilbert: native expression registers, matches the Column API
      // (over the literal view the optimizer constant-folds the node —
      // which itself exercises the interpreted eval path)
      val hSql = s2.sql("SELECT graft_hilbert(qx, qy) AS h FROM mv")
      val hCol = m.select(operators.Spatial.hilbertCol($"qx", $"qy")).collect().head.getLong(0)
      assert(hSql.collect().head.getLong(0) == hCol)
      s2.catalog.dropTempView("mv")
    } finally {
      SparkSession.setDefaultSession(fixture)
      SparkSession.setActiveSession(fixture)
    }
  }

  test("b66_tpch_q15: revenue view cached (fact scanned once), MAX probe is a broadcast hash join") {
    val p = plan("b66_tpch_q15")
    // the view is persisted and reused for both the MAX arm and the
    // equality probe — the plan text prints the cached build plan under
    // each InMemoryTableScan, but there is exactly one InMemoryRelation
    // (one physical fact scan); both arms read the cache
    assert("InMemoryTableScan".r.findAllIn(p).length == 2,
      "both Q15 arms must read the cached revenue view:\n" + p)
    // the shipdate window reaches the scan; the exact-DECIMAL max-equality
    // cross join collapses to a broadcast HASH join on the revenue value
    // (better than nested-loop), and the supplier dim broadcasts too
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, p)
  }

  test("b67_tpch_q22: priority filter pushed to orders, anti join, single-row avg broadcast") {
    val p = plan("b67_tpch_q22")
    assert(p.contains("LeftAnti"), "NOT EXISTS must compile to an anti join:\n" + p)
    assert(p.contains("EqualTo(o_orderpriority,1-URGENT)") ||
      p.contains("PushedFilters: [IsNotNull(o_orderpriority)"),
      "priority predicate must reach the orders scan:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b68_retention: first-touch and cell aggs both partial-aggregate; join is co-partitioned") {
    val p = plan("b68_retention")
    // min(wk) per user and the final distinct-count both show a
    // partial/final HashAggregate pair
    assert("partial_min".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("b70_tpch_q19: OR-of-conjunctions keeps the shared equi-join; quantity disjunction pushes to the fact scan") {
    val p = plan("b70_tpch_q19")
    // the three clauses share l_partkey = p_partkey — the join must stay
    // a single broadcast hash join with the brand/size/qty residue as a
    // post-join filter, never a nested-loop over the disjunction
    assert("BroadcastHashJoin".r.findAllIn(p).length == 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // Catalyst extracts the left-only disjunction (qty ranges) and pushes
    // it through the join to the lineitem scan
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), Or("),
      "quantity disjunction not pushed to the fact scan:\n" + p)
  }

  test("b71_tpch_q12: fact-fact join co-partitions on orderkey, counts partial-aggregate") {
    val p = plan("b71_tpch_q12")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("b65_tpch_q17: correlated arm is one profile agg, threshold rides broadcasts, no cartesian") {
    val p = plan("b65_tpch_q17")
    // the rewrite reads lineitem exactly twice (profile + probe) — the
    // textbook per-row correlated re-aggregation would show as a third
    // scan or a non-broadcast fact-fact join
    assert("Scan parquet .*lineitem".r.findAllIn(p).length == 2,
      "Q17 rewrite must scan lineitem exactly twice:\n" + p)
    // both the brand dim and the threshold frame ride broadcasts; the
    // probe side never shuffles for a join
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the per-part profile partial-aggregates below its exchange
    assert(p.contains("partial_sum"), p)
  }

  test("b76_tpch_q6: scan-only — all three predicates pushed, no join, partial agg") {
    val p = plan("b76_tpch_q6")
    assert(!p.contains("Join"), "Q6 must have zero joins:\n" + p)
    // the scan line truncates its filter lists at ~100 chars, so pin the
    // leading pushed filter plus the residual predicates on the Filter node
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "Q6 predicates must reach the parquet scan:\n" + p)
    assert(p.contains("l_quantity") && p.contains("l_discount"),
      "Q6 residual predicates missing from the plan:\n" + p)
    assert(p.contains("partial_sum"), p)
  }

  test("b77_tpch_q4 / b85_tpch_q20: EXISTS chains compile to semi joins, never cartesian") {
    val q4 = plan("b77_tpch_q4")
    assert(q4.contains("LeftSemi"), "Q4 EXISTS must compile to a semi join:\n" + q4)
    assert(!q4.contains("CartesianProduct") && !q4.contains("BroadcastNestedLoopJoin"), q4)
    val q20 = plan("b85_tpch_q20")
    assert("LeftSemi".r.findAllIn(q20).length >= 2,
      "Q20's nested IN chain must stay semi joins:\n" + q20)
    assert(!q20.contains("CartesianProduct") && !q20.contains("BroadcastNestedLoopJoin"), q20)
  }

  test("b78/b79/b80 TPC-H dim-heavy composites: dims broadcast, one fact-fact shuffle, partial agg") {
    for (name <- Seq("b78_tpch_q7", "b79_tpch_q8", "b80_tpch_q9")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$name dims must broadcast:\n$p")
      assert(p.contains("partial_sum"), s"$name must partial-aggregate:\n$p")
      // the only non-broadcast join is lineitem⋈orders on orderkey
      assert("SortMergeJoin".r.findAllIn(p).length <= 1,
        s"$name should shuffle at most one fact-fact join:\n$p")
    }
  }

  test("b82_tpch_q2: min-cost via groupBy + join-back — lineitem scanned once, no correlated re-scan") {
    val p = plan("b82_tpch_q2")
    // both consumers (per-part MIN and the winner join-back) must read the
    // cached cost frame — the plan string re-prints the cached lineitem
    // rollup inside each InMemoryRelation, so count cache READS, not scans
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      "the cost frame must be reused from cache by both consumers:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_min"), "per-part MIN must partial-aggregate:\n" + p)
  }

  test("b83_tpch_q11: global total is a single broadcast row over the cached per-part frame") {
    val p = plan("b83_tpch_q11")
    // the crossJoin against the 1-row total must ride a broadcast, and
    // the per-part frame must come from the cache, not a re-scan
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("InMemoryTableScan"),
      "per-part frame must be reused from cache:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b84_tpch_q16: blacklist anti join broadcasts, COUNT(DISTINCT) is two-phase") {
    val p = plan("b84_tpch_q16")
    assert(p.contains("LeftAnti"), "NOT IN must compile to an anti join:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // Spark's distinct rewrite: at least two HashAggregate levels
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "COUNT(DISTINCT) must run the two-phase rewrite:\n" + p)
  }

  test("b75_rate_anomaly: hourly rollup cached and partial-agged, profile rides a broadcast") {
    val p = plan("b75_rate_anomaly")
    assert(p.contains("InMemoryTableScan"),
      "hourly rollup must be computed once and reused:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "per-type profile must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("b86_mad_outlier: corpus scanned once into a cached histogram; windows run over histogram rows") {
    val p = plan("b86_mad_outlier")
    // every median/MAD/outlier consumer must read the cached histogram
    // (the plan string re-prints the scan inside each InMemoryRelation,
    // so count cache READS — the b82 lesson)
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      "median, MAD, and outlier arms must all reuse the cached histogram:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b87_benford: map-side digit, one partial-agged rollup, single-row total broadcast") {
    val p = plan("b87_benford")
    assert(p.contains("partial_count"), "digit census must partial-aggregate:\n" + p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the single-row total must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b88_gini: ranks via range partitioning + pid-local windows — never one window task per segment") {
    val p = plan("b88_gini")
    // the rank window must carry BOTH seg and pid (pid-local slices), and
    // the order must come from a range exchange, not a single partition
    assert(p.contains("rangepartitioning"),
      "total order must come from repartitionByRange:\n" + p)
    assert(p.contains("windowspecdefinition(seg") && p.contains("pid"),
      "rank window must be pid-local, not per-segment:\n" + p)
    assert(!p.contains("SinglePartition") || !p.contains("Window"),
      "no single-partition window allowed:\n" + p)
  }

  test("b89_autocorr: hourly rollup cached, pair join co-partitioned on the rollup key") {
    val p = plan("b89_autocorr")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      "both pair-join sides must read the cached rollup:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("c4_dsir: ratio table and totals ride broadcasts over the cached posting list") {
    val p = plan("c4_dsir")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      "bucket counts and the posting join must reuse the cached bigram frame:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the <=256-row log-ratio table must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), "per-doc weights must partial-aggregate:\n" + p)
  }

  test("c4_zipf: top-k spectrum is TakeOrdered; the regression runs over k rows") {
    val p = plan("c4_zipf")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k vocab selection must be TakeOrdered, not a global sort:\n" + p)
    assert(p.contains("partial_count"), "vocab counts must partial-aggregate:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("b90_funnel: step filters pushed to the scan, per-step MIN partial-aggregates, censuses fold by single-row broadcast") {
    val p = plan("b90_funnel")
    assert(p.contains("PushedFilters: [IsNotNull(event_type)"),
      "per-step event_type filter must reach the parquet scan:\n" + p)
    assert(p.contains("partial_min"),
      "step-anchor MIN must partial-aggregate before its shuffle:\n" + p)
    // the only nested-loop joins allowed are the two census folds, each
    // against an Identity-broadcast single-row frame
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2 &&
      "IdentityBroadcastMode".r.findAllIn(p).length == 2,
      "census folds must be single-row identity broadcasts:\n" + p)
  }

  test("b91_cusum: both rollup consumers read the cache, totals broadcast, argmax is group-limited") {
    val p = plan("b91_cusum")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      "deviation windows and totals must both reuse the cached rollup:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "per-type totals must ride a broadcast:\n" + p)
    assert(p.contains("WindowGroupLimit"),
      "the rn=1 argmax must push a group limit below the rank window:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("b92_transition: one user-partitioned window, pair census cached, totals broadcast") {
    val p = plan("b92_transition")
    assert("windowspecdefinition\\(user_id".r.findAllIn(p).length >= 1 &&
      "Window".r.findAllIn(p).length <= 2,
      "exactly one per-user lead window over the corpus:\n" + p)
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      "pair frame and normalizing totals must both read the cache:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "per-src totals must broadcast:\n" + p)
    assert(p.contains("partial_count"), "pair census must partial-aggregate:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b95_funnel_latency: duration frame cached for all consumers, censuses fold by single-row broadcast") {
    val p = plan("b95_funnel_latency")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      "histogram and totals must both read the cached duration frame:\n" + p)
    assert(p.contains("partial_min"),
      "funnel step anchors must partial-aggregate:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b96_ewma: rollup cached, per-type arrays partial-collected map-side, no cartesian") {
    val p = plan("b96_ewma")
    assert(p.contains("partial_collect_list"),
      "per-type hour arrays must partial-collect map-side:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "the recurrence must run over the cached hourly rollup:\n" + p)
    assert(p.contains("Generate explode"),
      "the smoothed trace must explode back to rollup grain:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("b97_skew_audit: per-key census cached for both consumers, stats ride broadcasts") {
    val p = plan("b97_skew_audit")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      "stats row and heavy-key count must both read the cached census:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "3-row stats table must broadcast:\n" + p)
    assert(p.contains("partial_count"), "key census must partial-aggregate:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c4_pmi: support filter precedes the probe joins, top-100 is TakeOrdered") {
    val p = plan("c4_pmi")
    assert(p.contains("TakeOrderedAndProject"),
      "collocation top-100 must be TakeOrdered, not a global sort:\n" + p)
    assert(p.contains("partial_count"),
      "unigram/bigram counts must partial-aggregate before their shuffles:\n" + p)
    // the >=5 support filter must run on the aggregated bigram table BEFORE
    // the two unigram probe joins — i.e. at least one Filter sits between
    // a HashAggregate and the joins (c_xy >= 5 shows in the filter text)
    assert(p.contains("c_xy#") && p.linesIterator.exists(l =>
      l.contains("Filter") && l.contains(">= 5")),
      "min-support must filter the candidate table before probing:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("b98_session_hist: session agg partial-aggregates; bucket census is a tiny second agg") {
    val p = plan("b98_session_hist")
    // first agg: session_window grouping (Spark plans session windows as
    // HashAggregate pairs around an exchange + a sort for the merge)
    assert("HashAggregate".r.findAllIn(p).length >= 3,
      "expected session agg + bucket census HashAggregate stages:\n" + p)
    assert(p.contains("session_window") || p.contains("SessionWindow"),
      "session assignment must use the native session-window operator:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window("),
      "census must not regress to an unpartitioned window:\n" + p)
  }

  test("b99_rfm: metric table cached, bin tables + n broadcast, no corpus-scale sort or cartesian") {
    val p = plan("b99_rfm")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      "the three bin-score joins must broadcast:\n" + p)
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      "per-customer metric table must be cached for its four consumers:\n" + p)
    assert(p.contains("partial_count") || p.contains("partial_max"),
      "customer metrics must partial-aggregate:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b100_heatmap: single partial-agg census, no join/window") {
    val p = plan("b100_heatmap")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "distinct-user census must partial-aggregate before the shuffle:\n" + p)
    assert(!p.contains("Join") && !p.contains("Window("),
      "heatmap must be a pure aggregation:\n" + p)
  }

  test("c4_ttr: one (doc, token) partial-agg shuffle feeds the doc fold, no join") {
    val p = plan("c4_ttr")
    assert(p.contains("partial_count"),
      "per-doc tf rows must partial-aggregate map-side:\n" + p)
    assert(!p.contains("Join") && !p.contains("Window("),
      "diversity profile must be aggregation-only:\n" + p)
  }

  test("c2_degree_hist: inverted-index pair mine, degree table NOT broadcast, no cartesian") {
    val p = plan("c2_degree_hist")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair mine must stay an equi-join on (source, gram):\n" + p)
    assert(p.contains("partial_count"), "degree count must partial-aggregate:\n" + p)
    // the corpus-ids LEFT JOIN degree-table must be a shuffle join: the
    // degree table is corpus-sized at the limit, never broadcastable
    assert(p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) && l.contains("LeftOuter")),
      "zero-degree left join must not broadcast the corpus-sized degree table:\n" + p)
  }

  test("c3_margin: label-blocked self-join with WindowGroupLimit top-2, no cartesian") {
    val p = plan("c3_margin")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"),
      "top-2 must prune below rank 2 map-side:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "norms must be cached once per vector (CollapseProject re-run trap):\n" + p)
  }

  test("c2_minhash_err: signature cache feeds both probes, window is source-partitioned, no cartesian") {
    val p = plan("c2_minhash_err")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      "signature/shingle table must be cached for the window + two probes:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.linesIterator.exists(l => l.contains("Window") && l.contains("source#")),
      "pair sampling must stay a source-partitioned lead window:\n" + p)
  }

  test("c1t_kfold: map-side fold assignment, single partial-agg census, no join") {
    val p = plan("c1t_kfold")
    assert(!p.contains("Join"),
      "fold assignment must be map-side, never a lookup join:\n" + p)
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "the (fold, source) census must partial-aggregate:\n" + p)
  }

  test("c1u_priority_sample: map-side priorities, WindowGroupLimit top-k, no join") {
    val p = plan("c1u_priority_sample")
    assert(!p.contains("Join"), "priority sampling must never join:\n" + p)
    assert(p.contains("WindowGroupLimit"),
      "per-source top-k must prune below rank k map-side:\n" + p)
  }

  test("c2_cluster_sizes: census aggs partial-aggregate after the audited CC plan") {
    val p = plan("c2_cluster_sizes")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"),
      "both census stages must partial-aggregate:\n" + p)
  }

  test("b101_drawdown: windows run over the cached hourly rollup, stats broadcast") {
    val p = plan("b101_drawdown")
    assert(p.contains("InMemoryTableScan"),
      "drawdown windows must read the cached hourly rollup:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "per-type stats must broadcast:\n" + p)
    assert(p.contains("partial_sum"), "hourly rollup must partial-aggregate:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c3_knn_purity: hash-block equi-join, WindowGroupLimit top-3, no cartesian") {
    val p = plan("c3_knn_purity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "purity join must block on the hash key, never all-pairs:\n" + p)
    assert(p.contains("WindowGroupLimit"),
      "top-3 must prune below rank 3 map-side:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "norms must be cached once per vector:\n" + p)
  }

  test("c3_ivf_balance: map-side assignment feeds two partial-agg stages, no join") {
    val p = plan("c3_ivf_balance")
    assert(!p.contains("Join"), "balance census must not join:\n" + p)
    assert(p.contains("partial_count"), "cell census must partial-aggregate:\n" + p)
    assert(p.contains("graft_nearest_seed") || p.contains("nearestseed") ||
      p.contains("NearestSeed"),
      "assignment must be the native seed expression:\n" + p)
  }

  test("c2_gram_df_profile: posting df census is aggregation-only, no join/window") {
    val p = plan("c2_gram_df_profile")
    assert(!p.contains("Join") && !p.contains("Window"),
      "df profile must be two partial-agg stages only:\n" + p)
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "both census stages must partial-aggregate:\n" + p)
  }

  test("b102_holt: recurrence runs over the cached hourly rollup, per-type arrays, no cartesian") {
    val p = plan("b102_holt")
    assert(p.contains("InMemoryTableScan"),
      "the recurrence must read the cached hourly rollup:\n" + p)
    assert(p.contains("partial_collect_list"),
      "per-type hour arrays must partial-collect map-side:\n" + p)
    assert(p.contains("Generate explode"),
      "the smoothed trace must explode back to rollup grain:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c6f_png_header: per-row mapPartitions codec, only the rollup shuffles") {
    val p = plan("c6f_png_header")
    assert(!p.contains("Join") && !p.contains("Window"),
      "PNG parse must be pure map work + one rollup:\n" + p)
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      "codec must run in mapPartitions:\n" + p)
  }

  test("b103_ltv: co-keyed cohort join from one cached scan, cohort sizes broadcast, bounded-grid window") {
    val p = plan("b103_ltv")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      "orders projection must be cached for the cohort agg and the join:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "per-cohort customer counts must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c3_pq_distortion: map-side native encode, bounded-bucket census, no window") {
    val p = plan("c3_pq_distortion")
    assert(!p.contains("Window"), "distortion census must not need a window:\n" + p)
    assert(p.contains("partial_count"), "bucket census must partial-aggregate:\n" + p)
    assert(p.contains("graft_pq_code") || p.contains("pqcode") || p.contains("PqCode"),
      "encode must be the native PQ expression:\n" + p)
  }

  test("b104_abtest: map-side assignment, one user shuffle, no join") {
    val p = plan("b104_abtest")
    assert(!p.contains("Join"), "variant assignment must never be a lookup join:\n" + p)
    assert(p.contains("partial_max"),
      "per-user flags must partial-aggregate:\n" + p)
  }

  test("c2_simhash_err: signature/token cache feeds the window and both probes, no cartesian") {
    val p = plan("c2_simhash_err")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      "signature/token-set table must be cached for window + two probes:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("b105_basket_lift: order-blocked pair mine from one cache, support filter before probes, TakeOrdered") {
    val p = plan("b105_basket_lift")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 must be TakeOrdered, not a global sort:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "the distinct (order, part) frame must be cached for supports + both join sides:\n" + p)
    assert(p.linesIterator.exists(l => l.contains("Filter") && l.contains(">= 2")),
      "min-support must filter the candidate table before probing:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("c2_band_occupancy: two partial-agg census stages, no join/window") {
    val p = plan("c2_band_occupancy")
    assert(!p.contains("Join") && !p.contains("Window"),
      "bucket occupancy must be aggregation-only:\n" + p)
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "both census stages must partial-aggregate:\n" + p)
  }

  test("b106_pareto: bin table + totals broadcast, customer agg cached, no corpus sort") {
    val p = plan("b106_pareto")
    assert(p.contains("BroadcastHashJoin"), "decile bin join must broadcast:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "per-customer spend table must be cached for its three consumers:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c6g_tiff_header: per-row mapPartitions codec, only the rollup shuffles") {
    val p = plan("c6g_tiff_header")
    assert(!p.contains("Join") && !p.contains("Window"),
      "TIFF parse must be pure map work + one rollup:\n" + p)
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      "codec must run in mapPartitions:\n" + p)
  }

  test("c3_energy: distributed matvec folds to a single-row local result (c3_power_iter contract)") {
    // the Gram matvec itself is the audited c3_power_iter plan (cached
    // (i,j,q) explode, per-vector partial aggs, dim-row driver traffic);
    // the query's RETURNED frame must be the one-row scalar result — any
    // corpus-sized operator here would mean the division left the driver
    val p = plan("c3_energy")
    assert(p.contains("LocalTableScan"),
      "final energy row must be a driver-local scalar result:\n" + p)
    assert(!p.contains("Exchange"),
      "no shuffle may survive into the returned scalar frame:\n" + p)
  }

  test("b107_ship_latency: co-keyed order join, cached latency frame, bounded-day window") {
    val p = plan("b107_ship_latency")
    assert(p.contains("InMemoryTableScan"),
      "latency frame must be cached for histogram + totals:\n" + p)
    assert(!p.contains("CartesianProduct"),
      "only broadcast single-row folds allowed:\n" + p)
  }

  test("c3_centroid_sep: bounded labels x dim join after the centroid partial-agg, no cartesian") {
    val p = plan("c3_centroid_sep")
    assert(p.contains("InMemoryTableScan"),
      "the (label, pos) centroid table must be cached for both join sides:\n" + p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "centroid sums must partial-aggregate:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("b108_holt_backtest: recurrence over the cached rollup, per-type arrays, no join") {
    val p = plan("b108_holt_backtest")
    assert(p.contains("InMemoryTableScan"),
      "backtest must read the cached hourly rollup:\n" + p)
    assert(p.contains("partial_collect_list"),
      "per-type hour arrays must partial-collect map-side:\n" + p)
    assert(!p.contains("Join"), "error pairing happens inside the array UDF:\n" + p)
  }

  test("c3_code_usage: encode cached for the four subspace projections, census partial-aggs") {
    val p = plan("c3_code_usage")
    assert(p.contains("InMemoryTableScan"),
      "encoded frame must be cached for the four subspace unions:\n" + p)
    assert(p.contains("partial_count"), "usage census must partial-aggregate:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c1w_dedup_savings: one text-keyed partial-agg shuffle folded to a single row") {
    val p = plan("c1w_dedup_savings")
    assert(!p.contains("Join") && !p.contains("Window"),
      "the savings KPI must be two aggregation stages only:\n" + p)
    assert(p.contains("partial_count") || p.contains("partial_min"),
      "group stats must partial-aggregate:\n" + p)
  }

  test("c3_norm_hist: map-side norm expression + bounded-bucket census only") {
    val p = plan("c3_norm_hist")
    assert(!p.contains("Join") && !p.contains("Window"),
      "norm histogram must be map + one census:\n" + p)
    assert(p.contains("graft_dot") || p.contains("dotproduct") || p.contains("DotProduct"),
      "n2 must be the native dot expression:\n" + p)
  }

  test("b109_basket_hist: distinct + two partial-agg stages, totals broadcast, no corpus join") {
    val p = plan("b109_basket_hist")
    assert(p.contains("partial_count"), "basket census must partial-aggregate:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "only the single-row totals broadcast may join:\n" + p)
  }

  test("c2_threshold_sweep: ONE pair mine cached, 9-row threshold table broadcast") {
    val p = plan("c2_threshold_sweep")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      "the mined pair set must be cached for both roll-ups:\n" + p)
    assert(!p.contains("CartesianProduct"),
      "threshold fan-out must ride the 9-row broadcast:\n" + p)
  }

  test("a11ag_nn_dist: 1D grid blocking — cell equi-join, argmin in a hash agg, no window") {
    val p = plan("a11ag_nn_dist")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "NN census must block on the cell key, never all-pairs:\n" + p)
    assert(!p.contains("Window"), "per-point argmin must be an aggregate, not a window:\n" + p)
    assert(p.contains("partial_min"), "per-point MIN must partial-aggregate:\n" + p)
  }

  test("a11ah_rect_union: slab sweep — gid equi-joins with residual ranges, no cartesian, cached rects") {
    val p = plan("a11ah_rect_union")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "slab cover join must stay an equi-join on gid with residual range filters:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "the rect fixture feeds xs, the cover join, and the stats agg — must be cached once:\n" + p)
    // every sweep window keys on gid (the islands passes on (gid, xv)) —
    // an unpartitioned windowspecdefinition would single-task the sweep
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toList
    assert(specs.nonEmpty && specs.forall(_.contains("gid")),
      "every window must partition by gid:\n" + specs.mkString("\n"))
    assert(p.contains("partial_min") || p.contains("partial_count"),
      "per-group stats must partial-aggregate below their exchange:\n" + p)
  }

  test("c6h_dhash_pairs: band-bucket equi-join both sides capped, no cartesian, hashes cached") {
    val p = plan("c6h_dhash_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must meet in the (band, bv) bucket join, never all-pairs:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "the dHash frame feeds the bucket census and both join sides — must be cached once:\n" + p)
    assert(p.contains("HashAggregate"), "bucket cap census must be a hash agg:\n" + p)
  }

  test("c4_good_turing: everything after the trigram rollup is broadcast-sized") {
    val p = plan("c4_good_turing")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the single-row total must ride a broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "both the gram rollup and the count-of-counts must partial-aggregate:\n" + p)
  }

  test("c4_stupid_backoff: posting-list equi-joins on cached counts, broadcast 1-row total, no cartesian") {
    val p = plan("c4_stupid_backoff")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"),
      "the unigram table feeds both probe joins and the total — must be cached once:\n" + p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the 1-row train-token total must ride a broadcast:\n" + p)
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "count tables and the per-doc rollup must partial-aggregate:\n" + p)
  }

  test("b116_dupe_orders: (cust, cents) equi-join blocking, no cartesian, no window") {
    val p = plan("b116_dupe_orders")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate pairs must meet in the (cust, cents) equi-join, never all-pairs:\n" + p)
    assert(!p.contains("windowspecdefinition"),
      "pair emission is okey_a < okey_b in the join condition, not a window:\n" + p)
  }

  test("c4_keywords: cached (doc,token) rollup feeds df and scoring; WindowGroupLimit top-3 per doc") {
    val p = plan("c4_keywords")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      "the (doc, token) tf rollup must be cached for the df rollup AND the scoring join:\n" + p)
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      "the rnk<=3 filter must push partial+final WindowGroupLimit around the doc exchange:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c5d_rrf: one shared tf aggregate, cached scored frame, TakeOrdered top-10s, no global sort before fusion") {
    val p = plan("c5d_rrf")
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      "the scored frame must be cached for both top-10 consumers:\n" + p)
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      "each ranker's top-10 must be TakeOrdered, never a global sort:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b115_rank_momentum: WindowGroupLimit top-k below the month window, cached top frames, broadcast fact join") {
    val p = plan("b115_rank_momentum")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      "the rnk<=100 filter must push partial+final WindowGroupLimit around the month exchange:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the orders month side must broadcast into the lineitem scan:\n" + p)
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      "both momentum self-join sides must read the cached <=100/month frame:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c1x_walkforward: bounded 5-row broadcast fold grid, partial aggs, no window") {
    val p = plan("c1x_walkforward")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the fold grid must broadcast (range predicate => NLJ is the intended shape):\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("windowspecdefinition"),
      "fold rollups must be aggregates, not windows:\n" + p)
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "(fold, user) and fold rollups must partial-aggregate:\n" + p)
  }

  test("c4_heaps: bucket rollups partial-agg; the only window is the fixed 20-row grid") {
    val p = plan("c4_heaps")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "per-doc counts and per-type first-doc must partial-aggregate:\n" + p)
    // the cumulative window consumes the fixed grid: both bucket rollups
    // must BROADCAST into the 20-row Range frame (proving the window's
    // SinglePartition input is bucket-grain, never corpus-grain)
    assert("BroadcastExchange".r.findAllIn(p).length >= 2 && p.contains("Range (1, 21"),
      "bucket rollups must broadcast-join into the fixed 20-row grid:\n" + p)
    assert(p.contains("Exchange SinglePartition"),
      "the cumulative window runs single-partition over <=20 rows by design:\n" + p)
  }

  test("c4_oov: one cached token explosion feeds vocab build and membership join; vocab broadcasts") {
    val p = plan("c4_oov")
    assert(p.contains("InMemoryTableScan"),
      "the exploded token frame must be cached for both consumers:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the top-1000 vocab must broadcast into the membership join:\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "the vocab top-k must be TakeOrdered, not a global sort:\n" + p)
  }

  test("c3_cosine_hist: linear adjacent-pair equi-join, codegen dot, bounded-bucket census") {
    val p = plan("c3_cosine_hist")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the pair sample must be the vec_id+1 equi-join, never all-pairs:\n" + p)
    assert(p.contains("graft_dot_f"),
      "the dot product must be the native codegen expression:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "norms must come from the cached vector frame:\n" + p)
    assert(p.contains("partial_count") || p.contains("partial_min"),
      "the histogram must partial-aggregate:\n" + p)
  }

  test("a11ao_zonal_stats: zones broadcast past the point scan, zonal rollup partial-aggs") {
    val p = plan("a11ao_zonal_stats")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 25-zone table must broadcast (containment predicate => NLJ):\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"),
      "the zonal rollup must partial-aggregate before its exchange:\n" + p)
  }

  test("a11am_polar_stereo / a11an_sinusoidal: map-side reprojection, no join, one presentation sort") {
    for (q <- Seq("a11am_polar_stereo", "a11an_sinusoidal")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must stay map-side:\n" + p)
      assert("Exchange".r.findAllIn(p).length <= 1,
        s"$q: the only exchange is the presentation sort:\n" + p)
    }
  }

  test("a11au_albers / a11aw_laea / a11av_buffer_geodesic: map-side, no join, one presentation sort") {
    for (q <- Seq("a11au_albers", "a11aw_laea", "a11av_buffer_geodesic")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must stay map-side:\n" + p)
      assert("Exchange".r.findAllIn(p).length <= 1,
        s"$q: the only exchange is the presentation sort:\n" + p)
    }
  }

  test("a1i_geoparquet_scan / a1j_osm_scan: per-file scan, no join, one presentation sort") {
    for (q <- Seq("a1i_geoparquet_scan", "a1j_osm_scan")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must stay a straight scan:\n" + p)
      assert("Exchange".r.findAllIn(p).length <= 1,
        s"$q: the only exchange is the presentation sort:\n" + p)
    }
  }

  test("a1k_geoparquet_bbox: footer pruning reduced the scanned file set before the plan exists") {
    // the pruning happens OUTSIDE the plan (file listing), so the plan
    // property is the survivor count: the lon-range-partitioned fixture
    // has 8 files and the [-150,-50] window must scan strictly fewer
    val df = Registry.queries("a1k_geoparquet_bbox")(spark, sf)
    val files = df.inputFiles
    assert(files.nonEmpty && files.length < 8,
      s"expected footer pruning to drop files, scanned ${files.length}: ${files.take(8).mkString(",")}")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "a1k must stay a straight scan:\n" + p)
  }

  test("b120_format_roundtrip: each re-read scans only the 4 written columns") {
    val p = plan("b120_format_roundtrip")
    // three sources (csv/json/orc) — every ReadSchema line carries the
    // projection, never a wildcard re-infer
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.nonEmpty, p)
    schemas.foreach { rs =>
      assert(rs.contains("qty_l") && rs.contains("price_e2"), rs)
    }
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b121_mann_kendall: calendar-bounded pair join is an equi-join over the cached rollup") {
    val p = plan("b121_mann_kendall")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the day-pair mine must equi-join on the type key:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "both pair sides must read the cached (type, day) rollup:\n" + p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the S/slope rollups must partial-aggregate:\n" + p)
  }

  test("a11as_dbscan: neighbor edges equi-join on the cell key, rollup partial-aggs") {
    val p = plan("a11as_dbscan")
    assert(!p.contains("CartesianProduct"),
      "the 8-neighbor expansion must never cross-join the cell table:\n" + p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "expected an equi-join on the neighbor cell key:\n" + p)
    assert(p.contains("partial_count"),
      "the cell occupancy rollup must partial-aggregate:\n" + p)
  }

  test("c4_viterbi_segment: word-table walks, no cartesian, partial-agged rollups") {
    val p = plan("c4_viterbi_segment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the word join must stay an equi-join:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "the (source, word, cnt) rollup must be the cached frame:\n" + p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the per-source rollup must partial-aggregate:\n" + p)
  }

  test("c6s_srt_cues / c6r_luma_hist: payload codecs stay map-side, rollup + sort only") {
    for (q <- Seq("c6s_srt_cues", "c6r_luma_hist")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: payload decode must be map-side only:\n" + p)
      assert("Exchange".r.findAllIn(p).length <= 2,
        s"$q: expected only the rollup exchange and the presentation sort:\n" + p)
    }
  }

  test("c3_coreset: 16-exemplar frame broadcasts, no shuffle-side join") {
    val p = plan("c3_coreset")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the exemplar frame must ride a broadcast past the corpus scan:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the x16 fan-out must never shuffle the corpus for a join:\n" + p)
    assert(p.contains("graft_dot_f"),
      "coverage cosines must use the native codegen dot:\n" + p)
  }

  test("c4_quality_sweep: threshold grid broadcasts, rollup partial-aggs") {
    val p = plan("c4_quality_sweep")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 10-row grid must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), "grid fan-out must not shuffle the corpus:\n" + p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the (source, threshold) rollup must partial-aggregate:\n" + p)
  }

  test("c6q_wav_rms: streaming decode, the only exchanges are the rollup + presentation sort") {
    val p = plan("c6q_wav_rms")
    assert(!p.contains("Join"), "payload decode must be map-side only:\n" + p)
    assert("Exchange".r.findAllIn(p).length <= 2,
      "expected only the per-source agg exchange and the presentation sort:\n" + p)
  }

  test("c6u_zip_dir / c6v_varint: container codecs stay map-side, rollup + sort only") {
    for (q <- Seq("c6u_zip_dir", "c6v_varint")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: codec must be map-side only:\n" + p)
      assert("Exchange".r.findAllIn(p).length <= 2, p)
    }
  }

  test("c1y_rendezvous: shard fan-out is a map-side explode, argmax is a hash agg") {
    val p = plan("c1y_rendezvous")
    assert(!p.contains("Window"), "the per-doc argmax must be max_by, not a window:\n" + p)
    assert(p.contains("Generate"), "expected the constant shard-list explode:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_max_by") || p.contains("max_by"),
      "the argmax must partial-aggregate map-side:\n" + p)
  }

  test("c4_filter_overlap: keep-first is a hash agg (no window), grid broadcasts") {
    val p = plan("c4_filter_overlap")
    assert(!p.contains("Window"), "keep-first must stay the c1c hash-agg shape:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 3-row threshold grid must broadcast:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "both fingerprint consumers must read the cached scored frame:\n" + p)
  }

  test("b123_holt_winters: sequential recurrence stays on the cached rollup, no join") {
    val p = plan("b123_holt_winters")
    assert(!p.contains("Join"), "the HW recurrence must not join anything:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "the hourly rollup must be the cached frame:\n" + p)
    assert(p.contains("Generate"), "expected the per-type explode back to rows:\n" + p)
  }

  test("b122_psi: domain-bounded histogram feeds broadcast-array bucketing") {
    val p = plan("b122_psi")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      "every small frame (dmin, edges, totals) must broadcast:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "both halves must read the cached cents histogram:\n" + p)
  }

  test("c4_feature_hash: no vocabulary state — explode, hash, one rollup") {
    val p = plan("c4_feature_hash")
    assert(!p.contains("Join"), "the hashing trick must need no join at all:\n" + p)
    assert(p.contains("Generate"), "expected the token explode:\n" + p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the per-source rollup must partial-aggregate:\n" + p)
  }

  test("c2_adamic_adar: hub cut before the z-self-join, TakeOrdered top-20") {
    val p = plan("c2_adamic_adar")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "the top-20 must be a TakeOrdered merge, never a global sort:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "both self-join sides must read the cached hub-cut edge list:\n" + p)
  }

  test("a11at_areal_interp: cell-cover explode is map-side — no join anywhere") {
    val p = plan("a11at_areal_interp")
    assert(!p.contains("Join"), "areal weights must come from closed-form bounds, not a join:\n" + p)
    assert(p.contains("Generate"), "expected the sequence-explode cell cover:\n" + p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the per-cell rollup must partial-aggregate:\n" + p)
  }

  test("b124_bucketed_join: SMJ with ZERO exchange and ZERO sort below the join") {
    val exec = Registry.queries("b124_bucketed_join")(spark, sf)
      .queryExecution.executedPlan
    val p = exec.toString
    assert(p.contains("SortMergeJoin"), "expected the bucketed SMJ shape:\n" + p)
    // both sides are bucketed AND sorted on the join key at write time, so
    // the join subtree must carry no Exchange and no Sort — the entire
    // point of paying the write-time shuffle once
    val joinIdx = p.linesIterator.indexWhere(_.contains("SortMergeJoin"))
    val below = p.linesIterator.toSeq.drop(joinIdx + 1)
      .takeWhile(l => !l.contains("HashAggregate") || l.contains("Scan"))
    val joinSubtree = below.mkString("\n")
    assert(!joinSubtree.contains("Exchange"),
      "bucketed join re-shuffled a side:\n" + p)
    assert(!joinSubtree.contains("Sort "),
      "bucketed+sorted table re-sorted under the join:\n" + p)
    // bucket count surfaces in the scan
    assert(p.contains("Bucketed: true") || p.contains("SelectedBucketsCount"),
      "scan does not report bucketing:\n" + p)
  }

  test("b124b_bucket_pruning: IN-list on the bucket column prunes buckets at the scan") {
    val p = plan("b124b_bucket_pruning")
    // three literals over 8 buckets select at most 3 — never the full 8
    val m = "SelectedBucketsCount: (\\d+) out of 8".r.findFirstMatchIn(p)
    assert(m.isDefined, "scan does not report bucket selection:\n" + p)
    assert(m.get.group(1).toInt <= 3, "bucket pruning did not engage:\n" + p)
  }

  test("b125_partition_pruning: equality on the partition column prunes at the listing") {
    val p = plan("b125_partition_pruning")
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("isnotnull(event_type") ||
      scanLine.contains("(event_type"), "no partition filter at the scan:\n" + p)
    // the predicate must NOT degrade to a post-scan data filter on event_type
    assert(!p.contains("PushedFilters: [IsNotNull(event_type)"),
      "partition predicate leaked into data filters:\n" + p)
  }

  test("c6t_id3_tag: codec stays map-side, rollup + sort only") {
    val p = plan("c6t_id3_tag")
    assert(!p.contains("Join"), "tag build/walk must be map-side only:\n" + p)
    assert("Exchange".r.findAllIn(p).length <= 2, p)
  }

  test("c3_ivfpq_prebuilt: probe NEVER broadcasts the codes side, never encodes candidates") {
    val p = plan("c3_ivfpq_prebuilt")
    // the codes table is corpus-sized by construction; the shuffle-hash
    // hint must survive (a BroadcastHashJoin here serializes the ADC
    // compute into the probe side's few scan tasks — BENCH_NOTES r16)
    assert(p.contains("ShuffledHashJoin"),
      "prebuilt probe lost its shuffle join:\n" + p)
    assert(!p.contains("BroadcastHashJoin"),
      "prebuilt probe broadcasts a corpus-sized side:\n" + p)
    // candidate geometry comes FROM THE SAVED PARQUET: the only pq-code
    // expressions in the plan are the query-side LUT/cell projections —
    // the candidate scan's column set is (vec_id, cell, c0..c3) read raw
    val codesScan = p.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("c0"))
      .mkString("\n")
    assert(codesScan.contains("cell") && codesScan.contains("c3"),
      "no raw codes-table scan in the probe plan:\n" + p)
    assert(!codesScan.contains("embedding"),
      "candidate side re-reads float vectors:\n" + codesScan)
  }

  // ---- r17 optimization-round pins: the rewritten shapes must not regress

  test("b58 q21: supplier profile is a two-level aggregate — no Expand doubling lineitem") {
    val p = plan("b58_tpch_q21")
    // the r16 double countDistinct planned an Expand that duplicated every
    // lineitem row before the profile shuffle (OPTIMIZATION_r17.md)
    assert(!p.contains("Expand"), "the countDistinct Expand came back:\n" + p)
  }

  test("b105 basket lift: pairs enumerate map-side from collected baskets — no pair self-join") {
    val p = plan("b105_basket_lift")
    // only the two support-probe joins may remain; the (ok,pk)×(ok,pk)
    // self-join (which re-exchanged both sides) is gone
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findAllIn(p).length
    assert(joins <= 2, s"expected at most the 2 support joins, found $joins:\n" + p)
    assert(p.contains("Generate"), "basket pair explode missing:\n" + p)
  }

  test("b72 fk audit: one full-outer join per relation, no single-row broadcast stitching") {
    val p = plan("b72_fk_audit")
    assert("FullOuter".r.findAllIn(p).length == 4,
      "expected exactly 4 key-grain full-outer joins:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "single-row cross-join stitching came back:\n" + p)
  }

  test("c2_hits: per-iteration checkpoints keep the final plan flat") {
    // un-materialized, the twice-referenced per-iteration join-aggs made
    // the FINAL plan tree branch ×4 per iteration — 2454 Exchange nodes in
    // the r16 formatted plan (plans/r17/c2_hits_before.txt) vs ~20 after;
    // the bound below fails long before the exponential shape returns
    val p = plan("c2_hits")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges < 60,
      s"c2_hits plan has $exchanges Exchange nodes — iteration lineage is growing again")
  }

  // ---- r18 optimization-shape pins ------------------------------------

  test("pair mine: the Raw variant has no presentation sort; the public one does") {
    // r18: thirteen graph/census consumers switched to the unordered mine —
    // under a persist boundary EliminateSorts cannot remove the ORDER BY,
    // so each consumer paid a range-sampling job + rangepartitioning
    // exchange + global sort for row order nobody consumes
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val raw = operators.TierCSim
      .ngramJaccardPairsRaw(spark, docs, 0.6, 256)
      .queryExecution.executedPlan.toString
    assert(!raw.contains("rangepartitioning"),
      "the internal mine grew a global sort back:\n" + raw)
    val ordered = operators.TierCSim
      .ngramJaccardPairs(spark, docs, 0.6, 256)
      .queryExecution.executedPlan.toString
    assert(ordered.contains("rangepartitioning"),
      "the declared pair query lost its ORDER BY:\n" + ordered)
    CacheRegistry.releaseAll(); spark.catalog.clearCache()
  }

  test("spatial nation-diamond joins stay broadcast (refine at scan parallelism)") {
    // r18: the 25-polygon side is pinned broadcast so the exact refine
    // runs in the (spread) scan stage, not behind a two-sided cell
    // exchange whose task count AQE sizes by bytes instead of compute
    for (name <- Seq("a11d_spatial_join", "a11f_polygon_join", "a11aq_knn_join",
        "a11j_nearest_poly")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name: the cell join must broadcast the polygon side:\n" + p)
      assert(!p.contains("SortMergeJoin"),
        s"$name: cell join fell back to a two-sided exchange:\n" + p)
    }
  }

  test("b99_rfm: one exploded multi-metric bin pass, no per-metric rebuild joins") {
    val p = plan("b99_rfm")
    // the three bin domains ride ONE explode + one partial-agg shuffle;
    // the three bin joins broadcast slices of the persisted bins frame
    assert(p.contains("Generate"), "expected the (metric, bin) explode:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "bin attach must broadcast, never shuffle the customer frame:\n" + p)
    assert(p.contains("InMemoryTableScan"),
      "the bin slices must read the persisted bins frame:\n" + p)
  }
}
