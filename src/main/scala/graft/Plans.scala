package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: formatted physical plans for the headline
  * queries, with the scale property each plan must keep (the prose twin
  * of PlanAuditSpec's assertions). Run:
  * `sbt "runMain graft.Plans"` (writes /root/repo/PLANS.md).
  */
object Plans {
  private val audited: Seq[(String, String)] = Seq(
    "b11_agg_groupby" -> ("Flagship TPC-H-Q1 shape. Partial HashAggregate " +
      "collapses rows map-side before the single hash exchange on the group " +
      "keys; decimal sums keep the aggregation order-insensitive."),
    "b3_filter" -> ("All conjuncts reach the parquet scan as PushedFilters; " +
      "row groups that can't match never decompress."),
    "b7_join_broadcast" -> ("Both dimension joins are BroadcastHashJoin — " +
      "the customer fact side is never shuffled for the join."),
    "b18_topk" -> ("orderBy+limit compiles to TakeOrderedAndProject: " +
      "per-partition top-k then a k-merge, no global sort."),
    "b9_join_asof" -> ("As-of join as a running MAX over a RANGE window " +
      "partitioned by the join key: one shuffle on user_id, no global sort, " +
      "no per-row subquery."),
    "c1_dedup_exact" -> ("Exact dedup is a hash aggregate on the dedup key " +
      "— partial aggregation map-side, one shuffle."),
    "c3_knn_cosine" -> ("Blocked kNN: equi-join on the label block key, " +
      "native graft_dot_f expression fused into codegen, WindowGroupLimit " +
      "prunes to top-k per vector before the final window."),
    "c2_ngram_jaccard" -> ("Inverted-index near-dup: explode grams, " +
      "equi-join on (source, gram), count shared per pair — no per-pair " +
      "array set operations anywhere in the plan. The df-cap window's " +
      "(source, gram) exchange IS the join's partitioning: both self-join " +
      "sides read the cached windowed frame with no re-exchange."),
    "a11d_spatial_join" -> ("Grid-blocked point-in-polygon join: polygons " +
      "replicate to covering cells, points hash to one cell, a shuffled " +
      "equi-join on (cell_x, cell_y) bounds candidates by local density — " +
      "no cross join; the exact ray cast runs only on cell-collided pairs."),
    "a11j_nearest_poly" -> ("Nearest-polygon-within-r join: points " +
      "replicate to their r-ball's covering cells, polygons to their bbox " +
      "cells; the canonical-cell filter keeps each pair single-copy before " +
      "the exact distance refine, and WindowGroupLimit prunes the per-point " +
      "argmin — candidates stay bounded by local density, never |P|×|G|."),
    "b8b_interval_join" -> ("Bucketed interval join (1D PBSM): intervals " +
      "replicate to covered width-20 buckets, points hash to one; a " +
      "shuffled equi-join on the bucket plus an exact BETWEEN refine — the " +
      "two-large-sides shape, never a broadcast nested loop."),
    "c1e_bloom_dedup" -> ("Bloom incremental dedup: the store aggregates " +
      "once into a single filter row broadcast to all probes; only " +
      "Bloom-positive survivors reach the exact anti-join, so the " +
      "verification join's probe side shrinks by the filter's rejection " +
      "rate while the output stays exactly the anti-join."),
    "b37_gapfill" -> ("Gap-fill: dense grid generation, the real-aggregate " +
      "left join, and the LOCF window all partition on event_type — one " +
      "shuffle key end to end, no re-exchange between the three stages."),
    "b124_bucketed_join" -> ("Bucketed co-located join: both sides are " +
      "bucketBy(8, key).sortBy tables with one file per bucket, so the " +
      "SortMergeJoin runs with ZERO Exchange and ZERO Sort — the " +
      "write-once/join-many fact-join shape; Bucketed: true and " +
      "SelectedBucketsCount surface in the scans."),
    "b125_partition_pruning" -> ("Hive-style partition pruning: the " +
      "equality predicate on the partitionBy column prunes at the FILE " +
      "LISTING (PartitionFilters), never reaching the data filters — " +
      "only the matching directory's files are opened."),
    "c2_edit_join" -> ("Edit-distance near-dup join: df-capped distinct " +
      "char-trigram inverted index bounds candidates (count filter + " +
      "length filter at the join); the verify is Spark's BUILT-IN 3-arg " +
      "levenshtein (codegen banded DP with early exit — no UDF, no serde " +
      "hop in the verify stage), run only on survivors, texts joined " +
      "back by id — never carried through the gram explode."),
    "c3_ivfpq" -> ("IVF-PQ ADC search: cell assignment and PQ codes/LUTs " +
      "are single native codegen nodes (graft_nearest_seed / graft_pq_*) " +
      "computed in the pre-shuffle projections, so ONE equi-join on the " +
      "cell key moves 4 sub-codes per candidate — never the float vector — " +
      "and per-pair work is 4 array lookups; WindowGroupLimit prunes to " +
      "top-k."),
    "c3_ivfpq_prebuilt" -> ("Build-once/probe-many IVF-PQ: the candidate " +
      "side is a PLAIN PARQUET SCAN of the saved codes table (vec_id + " +
      "cell + 4 sub-codes — no encode expressions, no float vectors " +
      "anywhere on that side); only the query side computes cell " +
      "assignment and ADC LUTs against the loaded broadcast quantizers. " +
      "The probe plan is what every repeat query costs once the index " +
      "is paid for."),
    "c1g_source_mix" -> ("Source-mix resampling: the per-source count " +
      "aggregate is |sources| rows, the min-T scalar and the rate table " +
      "broadcast; the corpus itself streams through one map-side filter — " +
      "no corpus-sized shuffle anywhere."),
    "c3_rerank" -> ("Two-stage retrieval: the label-blocked coarse join's " +
      "exchanges carry a 16-float Matryoshka prefix and its norm — never " +
      "the full embedding; survivors (top-10 per query) re-fetch full " +
      "vectors through two vec_id equi-joins, and WindowGroupLimit prunes " +
      "the exact re-rank to top-3 before the final exchange."),
    "c3_kmeans" -> ("Lloyd refinement: per iteration ONE partial-aggregated " +
      "groupBy of integer-quantized per-dim sums (map-side combine on " +
      "<=256 cells) + a driver-sized collect; assignment is a map-side " +
      "broadcast-centroid expression — the corpus is never shuffled."),
    "c4_contam_frac" -> ("Per-doc contamination: collect_set(source) window " +
      "over the gram partition — ONE shuffle, linear in the posting list " +
      "(a df-1000 boilerplate gram costs 1000 rows, not 1000² pairs), so " +
      "no df-cap is needed. Skew bound: each gram's posting list buffers " +
      "in one window task (no partial agg), but the collected set is " +
      "capped by |sources|; the Zipf-head task is O(max-df) rows."),
    "c2_dedup_corpus" -> ("Composed dedup stage: pair graph + star-contraction " +
      "CC reuse their audited shapes; the keep-best tail is ONE hash " +
      "aggregate (max_by partial-aggregates map-side) over the docs⋈labels " +
      "shuffle join — no window, no per-cluster sort."),
    "c2_incremental" -> ("Incremental near-dup admission: the candidate " +
      "equi-join on (source, gram) keeps the arriving side filtered to " +
      "is_new BEFORE the join, so old×old pairs are never generated — at " +
      "100 TB the standing corpus appears only as probe rows on grams an " +
      "increment doc actually shares, and the join's output is bounded by " +
      "the increment's postings, not the corpus's."),
    "c2_pagerank" -> ("Similarity-graph PageRank: edges+degrees cached once " +
      "(InMemoryTableScan below), then each power iteration is ONE " +
      "equi-join ranks⋈edges plus ONE partial-aggregated groupBy(dst) — " +
      "integer contributions fold map-side before the shuffle, so even a " +
      "power-law hub's in-edges partially aggregate; all-BIGINT " +
      "arithmetic, no float summation order anywhere."),
    "a11w_geofence" -> ("Batch geofence (the streaming stage's own join): " +
      "the ops-sized fence table broadcasts into a nested-loop probe — " +
      "the CORRECT shape for a UDF predicate against dozens-to-thousands " +
      "of fences: the point side is never shuffled for the join, and the " +
      "bbox short-circuit inside the predicate rejects far fences on four " +
      "double compares before the exact ray cast."),
    "c4_bpe_pairs" -> ("BPE merge step: word and bigram explosion are " +
      "map-side codegen'd builtins; the pair alphabet is <= |chars|^2, so " +
      "the partial HashAggregate collapses virtually the whole corpus " +
      "before the one count exchange, and TakeOrderedAndProject picks the " +
      "top-50 with no global sort."),
    "c4_bigram_ce" -> ("Bigram cross-entropy: adjacency comes from a " +
      "map-side transform over the token array (no window, no per-doc " +
      "shuffle); the bigram/unigram count tables partial-aggregate " +
      "map-side, and the probe joins are the TF-IDF posting-list shape — " +
      "per probe row exactly one count row, AQE splits the Zipf-head " +
      "history key."),
    "c4_kl_drift" -> ("Per-source KL drift: the token explosion is cached " +
      "once and feeds three partial-aggregated counts; per-source totals " +
      "and the corpus total ride broadcasts (|sources| and 1 row), the " +
      "(source, token) probe joins the corpus vocab on the token, and the " +
      "final agg is |sources| rows — integer-quantized terms, no float " +
      "summation order anywhere."),
    "c2_semdedup" -> ("SemDeDup: cell assignment is one broadcast-seed " +
      "codegen node, the duplicate-pair join is the audited cell " +
      "equi-join (pairs bounded by cell population, never corpus^2), and " +
      "components reuse star-contraction's O(log n) rounds — the whole " +
      "stage inherits the c3_ivf + c2_cluster plan shapes."),
    "c2_fuzzy_join" -> ("Blocked fuzzy-title join: one map-side " +
      "title/block projection, a shuffled equi-join on the two-token " +
      "block key (30x candidate cut vs one token, measured), the O(1) " +
      "length prune inside the join condition rejecting before the " +
      "O(len^2) levenshtein DP runs — never a nested loop."),
    "b13d_hll_replay" -> ("Replayable HLL: the typed Aggregator partial-" +
      "aggregates map-side (ObjectHashAggregate pair), so each partition " +
      "ships ONE 64-int sketch per group across the exchange — register " +
      "MAX merge is idempotent, speculative re-execution is a no-op."),
    "c4_bpe_encode" -> ("BPE encode: the trained per-word encoding table " +
      "is vocab-sized (Heaps' law), joined once to the exploded corpus " +
      "word list on the word key; per-doc token totals partial-aggregate " +
      "before the doc_id shuffle — no per-doc merge loop anywhere."),
    "c1o_token_budget" -> ("Token-budget sampling: per-GROUP running sums " +
      "via range partitioning on (source, md5-key) + pid-LOCAL windows + " +
      "driver prefix offsets (|sources|*|partitions| rows) — never a " +
      "whole-source single-task window."),
    "c3_power_iter" -> ("Fixed-point power iteration: per step one " +
      "partial-aggregated matvec shuffle on vec_id, one co-keyed join, " +
      "one dim-sized aggregate; V rides as a broadcast literal and " +
      "driver traffic is dim rows per step — the corpus is never " +
      "collected or re-quantized."),
    "b44_tpch_q5" -> ("TPC-H Q5: the supplier-nation-region dimension " +
      "flow broadcasts into the fact side, orders/customer join feeds " +
      "the lineitem shuffle, revenue partial-aggregates in decimal — a " +
      "6-table plan with equi-joins only."),
    "b47_scd2" -> ("SCD2 interval build: the lag flag window, the " +
      "running-sum island window, and the lead() end-fetch all " +
      "partition on user_id — one shuffle key end to end, the gap-fill " +
      "(b37) window-sharing discipline."),
    "b48_grouping_sets" -> ("Arbitrary GROUPING SETS: one Expand over " +
      "ONE fact scan feeding a partial/final HashAggregate pair — 4x " +
      "the agg input rows but a single read and a single shuffle, vs " +
      "the UNION-ALL rewrite's four scans (PlanAuditSpec-pinned)."),
    "a11ab_hilbert" -> ("Hilbert layout key: pure map-side projection — " +
      "the 16-level xy2d walk is ONE codegen'd expression node " +
      "(graft_hilbert), not an unrolled Column tree; the only exchange " +
      "is the presentation sort."),
    "c2_triangles" -> ("Degree-ordered triangle count: the sourced edge " +
      "list and the orientation are cached once (InMemoryTableScan " +
      "below); wedges come from ONE self-equi-join on the apex and close " +
      "with ONE equi-join on the endpoint pair — fan-out bounded by " +
      "out-degree <= O(sqrt(m)), no cartesian anywhere."),
    "b49_snapshot_diff" -> ("Snapshot diff: ONE full-outer sort-merge " +
      "join on the key; both snapshot derivations are map-side filters " +
      "pushed into their scans, classification is a post-join CASE — no " +
      "per-column joins, no collect."),
    "b50_agg_merge" -> ("Aggregate-state merge: each slice " +
      "partial-aggregates map-side behind its pushed slice predicate; " +
      "the merge agg runs over |groups| union rows and itself " +
      "partial-aggregates — the base table is scanned once per slice " +
      "and never re-scanned at merge time."),
    "b51_tpch_q18" -> ("TPC-H Q18: the HAVING pre-aggregate collapses " +
      "lineitem to per-order sums BEFORE any join (partial agg on the " +
      "shuffle), the >200 tail is the only probe set reaching orders/" +
      "customer, and the top-100 is TakeOrderedAndProject — the fact " +
      "table is scanned exactly once."),
    "b52_hierarchy_closure" -> ("Recursive-CTE workload as path " +
      "doubling: 6 closure∘closure equi-joins cover depth 64 (O(log d) " +
      "shuffles, not O(d)); each round localCheckpoints so the " +
      "twice-referenced closure reads one materialized RDD and the " +
      "plan stays O(round) instead of doubling (scan shows the " +
      "checkpoint, not a 6-deep join tree)."),
    "c2_lpa" -> ("Label propagation: the self-loop-augmented edge list " +
      "is cached once (InMemoryTableScan); each of the 4 rounds is ONE " +
      "equi-join on the neighbor id + two partial-aggregated hash aggs " +
      "(vote count, struct-ordered arg-max) — all shuffles key on node " +
      "id, plan growth linear in rounds."),
    "b53_ewma" -> ("Per-key EWMA: one shuffle aggregates each user's " +
      "history (sort_array fixes the (ts, event_id) fold order), the " +
      "recurrence runs as the codegen'd aggregate() higher-order " +
      "function — no UDF, no per-row state; hot-key bound = one task " +
      "per history, the honest sequence-feature contract."),
    "c3_mmr" -> ("MMR diversity re-rank: the coarse stage is the audited " +
      "label-block join with WindowGroupLimit pruning to 6 candidates; " +
      "each greedy step is ONE equi-join of the per-query remainder " +
      "(<= 5 rows) against the 1-row pick plus a windowed arg-max — " +
      "per-step work |queries|*5, never corpus^2."),
    "b54_pit_join" -> ("Point-in-time join: the SCD2 interval build " +
      "(b47's windows, one user_id shuffle) feeds ONE equi-join on the " +
      "user key with the half-open interval refine in the join " +
      "condition — per-key fan-out = versions-per-key, small by the " +
      "slowly-changing definition; <= 1 survivor per probe by interval " +
      "partition."),
    "b55_attribution" -> ("Last-touch attribution: one user_id window " +
      "carries the latest-touch STRUCT forward (lexicographic struct " +
      "max IS the rule), purchases filter after the carry — one " +
      "shuffle key end to end, no self-join of events against events."),
    "b60_merge_upsert" -> ("CDC MERGE apply: all three joins (kept arm, " +
      "matched-key derivation, insert anti) are BroadcastHashJoin — the " +
      "base table is scanned twice but hash-exchanged never; the day's " +
      "changes ride broadcasts. The full-outer textbook shape would " +
      "shuffle the entire base for a 0.01 % change feed."),
    "b61_profile" -> ("Column profiler: ONE parquet scan feeds a single " +
      "Expand (6 countDistincts), partial aggregation collapses the " +
      "expanded rows map-side; min/max/null counts ride the same pass. " +
      "Never a per-column scan of the table."),
    "c4_chunk_dedup" -> ("Duplicated-chunk removal: first-occurrence per " +
      "fingerprint is a min_by HASH aggregate (associative ⇒ map-side " +
      "combine collapses boilerplate mega-keys before the exchange), " +
      "never a window over the fingerprint; per-source totals are an " +
      "independent partial-agged rollup, joined at six-rows scale."),
    "c3_rand_proj" -> ("JL ±1 projection: the md5-derived sign matrix " +
      "rides the plan as 16 literal arrays — the whole projection is " +
      "map-side codegen'd zip_with/aggregate loops; no join, no hash " +
      "exchange, only the presentation sort."),
    "b62_groupwise_min" -> ("TPC-H Q2 shape: groupwise argmin is ONE " +
      "partial-aggregated min(struct(price, suppkey)) over a single " +
      "lineitem scan — no correlated rescan, no self-join, no window; " +
      "supplier→nation broadcasts, and the part join rides the " +
      "aggregate's existing partkey partitioning."),
    "c2_kcore" -> ("k-core peel: each round eagerly localCheckpoints " +
      "(every round references the previous edge list TWICE — fringe " +
      "aggregate + anti join — and lazy persist measured 2^rounds " +
      "recomputation: 1.7/3.2/15.8 s at 1/2/4 rounds); the final plan " +
      "reads an ExistingRDD scan, and the fringe anti joins leave the " +
      "edge list streaming, never shuffled, once AQE broadcasts the " +
      "small removed set."),
    "c5c_ql_dirichlet" -> ("Dirichlet query likelihood: the audited BM25 " +
      "plan verbatim — one partial-agged per-doc stats pass, the global " +
      "LM folds that aggregate (token rows never re-scanned), the " +
      "one-row stats frame broadcasts, top-10 is TakeOrderedAndProject."),
    "a11ae_validity" -> ("Ring validity audit: the orientation-sign " +
      "predicate is pure map-side codegen (eight multiplies per edge " +
      "pair, strict inequalities, no UDF anywhere) feeding one " +
      "partial-aggregated rollup — two exchanges total."),
    "b64_top_paths" -> ("Top user journeys: sessionization windows all " +
      "carry user_id (state per task = one user's events), the " +
      "per-session path collect is bounded by the 6-hour gap contract " +
      "(session-sized groups, never per-user), the path census " +
      "partial-aggregates, and the top-20 is TakeOrderedAndProject."),
    "b65_tpch_q17" -> ("TPC-H Q17: the correlated scalar subquery costs " +
      "ONE per-part profile aggregation (partial-agged shuffle on " +
      "l_partkey, |part| output rows) instead of a per-row " +
      "re-aggregation; the threshold frame rides a broadcast back into " +
      "a second fact scan — lineitem is read twice but never shuffled " +
      "for the probe."),
    "b66_tpch_q15" -> ("TPC-H Q15: the revenue view is computed once and " +
      "persisted — both the MAX arm and the equality probe read the " +
      "same InMemoryRelation; the single-row MAX broadcasts and the " +
      "exact-DECIMAL max-equality cross join collapses to a broadcast " +
      "HASH join on the revenue value."),
    "b70_tpch_q19" -> ("TPC-H Q19: the OR-of-conjunctions keeps the " +
      "shared partkey equi-join as one broadcast hash join with the " +
      "brand/size/quantity residue as a post-join filter, and " +
      "Catalyst's extracted left-only quantity disjunction reaches the " +
      "fact scan's PushedFilters."),
    "c2_hits" -> ("HITS on the content-reuse graph: the edge build is " +
      "one min-agg on the chunk fingerprint (partial-agged — a " +
      "boilerplate chunk duplicated a billion times folds map-side to " +
      "one owner row) plus one fp equi-join, never a pair mine; each " +
      "iteration is two equi-join+partial-agg passes over the cached " +
      "edge frame with single-row sum-normalizers riding broadcasts."),
    "c2_lsh_recall" -> ("LSH recall curve: the truth mine is the " +
      "df-capped inverted-index self-join over the SAME trigram " +
      "shingles MinHash hashes (PPJoin length prune inside the join " +
      "condition); the LSH side reuses the persisted signature index; " +
      "the decile census is one partial-aggregated count."),
    "b76_tpch_q6" -> ("TPC-H Q6: the pure-scan query — zero joins; " +
      "shipdate/discount/quantity predicates all reach the parquet " +
      "scan (row groups prune on shipdate min/max stats) and the " +
      "DECIMAL sum ships one partial row per task."),
    "b82_tpch_q2" -> ("TPC-H Q2: the correlated-MIN rewritten as " +
      "groupBy + join-back — the lineitem-derived cost frame is " +
      "persisted so BOTH consumers (per-part minimum and winner " +
      "probe) read the InMemoryRelation; EUROPE suppliers and the " +
      "part dim ride broadcasts; top-20 is TakeOrderedAndProject."),
    "b83_tpch_q11" -> ("TPC-H Q11: per-part centi-value sums are exact " +
      "BIGINTs (one partial-agged shuffle over the cached frame); the " +
      "global total is ONE row riding a broadcast back, and the " +
      "HAVING fraction compares as value*1000 > total — cross-" +
      "multiplied integers, no float threshold."),
    "b84_tpch_q16" -> ("TPC-H Q16: the NOT-IN blacklist is a broadcast " +
      "anti join ahead of the bucket filter; COUNT(DISTINCT supplier) " +
      "runs Spark's two-phase distinct rewrite — (keys, suppkey) " +
      "partial-aggregates map-side before the final per-bucket count."),
    "b75_rate_anomaly" -> ("Rate anomaly: the hourly rollup is " +
      "computed once (cached, partial-agged map-side); the per-type " +
      "(hours, sum, sum-of-squares) profile is |types| rows riding a " +
      "broadcast back over the rollup, and the 3-sigma test is exact " +
      "BIGINT cross-multiplication — the corpus is scanned once."),
    "b86_mad_outlier" -> ("Median/MAD outliers: the corpus collapses to " +
      "the cached e6-quantized histogram in one partial-agged shuffle; " +
      "median, MAD, and the outlier census all reuse the cache, and the " +
      "cumulative-count windows run over histogram rows — never corpus " +
      "rows."),
    "b88_gini" -> ("Gini concentration: ranks come from " +
      "repartitionByRange + pid-local windows with per-(segment, pid) " +
      "prefix offsets broadcast back — the c1h two-phase machinery, " +
      "never one window task per segment; all moment sums are exact " +
      "BIGINTs."),
    "c4_dsir" -> ("DSIR importance weights: the bigram posting list is " +
      "cached and hashed map-side into 256 buckets; both count tables " +
      "collapse to <=256 rows, the log-ratio table rides a broadcast " +
      "back over the posting list, and per-doc weights " +
      "partial-aggregate."),
    "a11ag_nn_dist" -> ("NN-distance census: candidates replicate " +
      "map-side to their 3 covering 1D grid cells, meet the probe " +
      "side in ONE cell equi-join (local-density-bounded, never " +
      "all-pairs), and the per-point argmin is a struct-ordered MIN " +
      "inside a partial-agged hash aggregate — no window node in the " +
      "plan."),
    "b90_funnel" -> ("Strict funnel: each step is a per-user MIN " +
      "aggregation whose join back to the next step's events keys the " +
      "SAME user_id the groupBy hashed on — co-partitioned, no " +
      "re-exchange above the aggregate; the three step censuses are " +
      "single-row frames folded by broadcast cross joins into one " +
      "3-row stack()."),
    "b91_cusum" -> ("CUSUM change-point: the corpus collapses to the " +
      "cached per-(type, hour) rollup once; the running-deviation " +
      "windows partition by type over ROLLUP rows (hours-sized, never " +
      "corpus-sized), the per-type totals ride a broadcast, and the " +
      "argmax is a window rank over the same hours-sized frame."),
    "b92_transition" -> ("Markov transition matrix: ONE user-partitioned " +
      "lead() window over the corpus, pair census partial-aggregates to " +
      "types^2 rows (cached — the normalizing totals never re-scan the " +
      "corpus), and the per-src total table rides a broadcast."),
    "b95_funnel_latency" -> ("Funnel latency: the b90 min-agg chain " +
      "feeds a cached converter-duration frame; histogram, totals, and " +
      "rank selection all reuse the cache, and the cumulative window " +
      "runs over the minute-resolution histogram — bounded by corpus " +
      "timespan, never by converter count."),
    "b96_ewma" -> ("Integer EWMA: corpus collapses to the cached hourly " +
      "rollup, collect_list builds one timespan-bounded array per type, " +
      "the recurrence UDF is O(hours) per series, and the trace explodes " +
      "back to rollup grain — parallelism across series."),
    "b97_skew_audit" -> ("Skew audit: each key column's census is one " +
      "partial-agged groupBy into a shared cached frame; the stats row " +
      "and the heavy-key count both reuse it, and the 3-row stats table " +
      "rides broadcasts."),
    "c4_pmi" -> ("Collocation mining: unigram/bigram counts are " +
      "partial-agged shuffles; the >=5 support filter runs on the " +
      "aggregated candidate table BEFORE the two probe joins, so the " +
      "probe side is collocation-sized, not corpus-sized; top-100 is " +
      "TakeOrderedAndProject."),
    "b98_session_hist" -> ("Sessionization census: the native " +
      "session-window aggregation shuffles once on (user, session) " +
      "exactly like b30, then the length histogram folds per-session " +
      "rows into <=10 buckets — partial aggregation absorbs the second " +
      "stage."),
    "b99_rfm" -> ("RFM quintiles with NO global sort/ntile: the " +
      "per-customer metric table is cached for its four consumers, each " +
      "metric's cumulative-below prefix runs over a value-bounded BIN " +
      "table, and the three score lookups ride BroadcastHashJoins."),
    "b100_heatmap" -> ("Activity heatmap: one partial-agg shuffle into " +
      "168 (dow, hr) cells; the exact distinct-user count expands to " +
      "(dow, hr, user) partials map-side — no join, no window."),
    "c4_ttr" -> ("Lexical diversity: one (doc, token) partial-agg " +
      "shuffle builds tf rows, a doc-keyed agg folds them to counts — " +
      "never a per-row O(L^2) array scan."),
    "c2_degree_hist" -> ("Near-dup degree census: the shared df-capped " +
      "inverted-index pair mine, a doc-keyed partial-agg degree count, " +
      "and a co-keyed SortMergeJoin LeftOuter back to corpus ids for the " +
      "zero-degree mass — the degree table is corpus-sized at the limit " +
      "and must never broadcast."),
    "c3_margin" -> ("ANN hardness census: label-blocked self-join on the " +
      "cached norm table, WindowGroupLimit prunes below rank 2 map-side, " +
      "pivot agg + bounded-bucket census."),
    "c2_minhash_err" -> ("MinHash calibration: signatures + distinct " +
      "shingle sets cached once per doc; the pair sample is a " +
      "source-partitioned lead window (~2N pairs, never block^2); two " +
      "co-keyed probes; <=33-bucket census."),
    "c1t_kfold" -> ("K-fold assignment is pure map-side expression " +
      "(md5 -> hex -> mod 5), no lookup join anywhere; the (fold, " +
      "source) balance census partial-aggregates."),
    "c1u_priority_sample" -> ("Efraimidis-Spirakis priority sampling: " +
      "draw and priority are map-side expressions, per-source top-k is " +
      "a WindowGroupLimit-pruned window — no join, no global sort."),
    "c2_cluster_sizes" -> ("Cluster-size census: the audited c2_cluster " +
      "CC plan, then two partial-agged census stages (labels -> cluster " +
      "sizes -> size histogram)."),
    "b101_drawdown" -> ("Max drawdown: corpus collapses to the cached " +
      "hourly rollup; cum/peak/argmax windows all run type-partitioned " +
      "over rollup rows; per-type stats ride a broadcast."),
    "c3_knn_purity" -> ("Sampled kNN purity: label-blind hash-block " +
      "equi-join on the cached norm table, WindowGroupLimit top-3, " +
      "per-label census."),
    "c3_ivf_balance" -> ("IVF balance: quantizer build is the bounded " +
      "md5-sample greedy; assignment is one map-side native expression " +
      "pass; census partial-aggregates to one row. No join."),
    "c2_gram_df_profile" -> ("Posting df profile: shared bigramExploded " +
      "posting rows, one partial-agg df count on the (source, gram) " +
      "blocking key, bounded power-of-two census. No joins."),
    "c6f_png_header" -> ("PNG IHDR extraction: build and CRC-verified " +
      "parse are per-row mapPartitions work; the only shuffle is the " +
      "2-row color-type rollup."),
    "b102_holt" -> ("Holt level+trend: cached hourly rollup, per-type " +
      "timespan-bounded arrays, O(hours) truncating-division recurrence " +
      "UDF, explode back to rollup grain."),
    "c3_pq_distortion" -> ("PQ distortion census: map-side native " +
      "pq-code encode, per-vector error expression, bounded-bucket " +
      "partial-agged census — no window, no extra join."),
    "b103_ltv" -> ("Cohort LTV: cohorts from one cached orders " +
      "projection, co-keyed join back, cumulative over the bounded " +
      "(cohort, months) grid, cohort sizes broadcast."),
    "a1h_wktcsv_scan" -> ("CSV+WKT scan: Spark's distributed CSV reader " +
      "(splittable), WKT->WKB is one map-side UDF, no driver fixture " +
      "collect anywhere — the A1 path with no row cap."),
    "b104_abtest" -> ("A/B scorecard: variant assignment is a map-side " +
      "md5 expression (no lookup join); per-user flags partial-aggregate " +
      "on the one user shuffle; the scorecard folds to 2 rows."),
    "c2_simhash_err" -> ("SimHash calibration: signatures + token sets " +
      "cached once per doc, source-partitioned lead-window pair sample, " +
      "two co-keyed probes, <=65-bucket census."),
    "b105_basket_lift" -> ("Basket affinity: within-order pair mine " +
      "(bounded basket self-join from one cached distinct frame), " +
      "support filter before the two part-support probes, top-100 " +
      "TakeOrdered."),
    "c2_band_occupancy" -> ("Band occupancy: map-side signature build, " +
      "one partial-agg shuffle on (band_id, band_hash), 8-row per-band " +
      "rollup. No joins."),
    "b106_pareto" -> ("Pareto deciles: per-customer spend cached, " +
      "value-bounded bin table + single-row totals broadcast, score by " +
      "one broadcast bin join — no corpus-scale sort or ntile."),
    "c6g_tiff_header" -> ("TIFF dual-endian parse: build and IFD walk " +
      "are per-row mapPartitions work; one 2-row byte-order rollup."),
    "c3_energy" -> ("Spectral energy: the audited c3_power_iter matvec " +
      "(cached explode, per-vector partial aggs), three single-row " +
      "closing aggregates, exact BigInt scalar division on the driver."),
    "b107_ship_latency" -> ("Ship latency: one co-keyed orderkey join, " +
      "cached day-latency frame for histogram + totals, nearest-rank " +
      "selection over the timespan-bounded day domain."),
    "c3_centroid_sep" -> ("Centroid separation: (label, pos) partial-agg " +
      "centroid table cached for both sides of the bounded labels^2 x " +
      "dim join; DECIMAL cross-multiplied exact distance."),
    "c1w_dedup_savings" -> ("Dedup savings: one text-keyed partial-agg " +
      "shuffle folded to a single KPI row — no join, no window."),
    "c3_norm_hist" -> ("Norm histogram: native-dot n2 map-side, one " +
      "bounded-bucket partial-agg census."),
    "b108_holt_backtest" -> ("Holt backtest: cached hourly rollup, " +
      "per-type bounded arrays, zero-lookahead error pairing inside the " +
      "O(hours) recurrence UDF, types-sized fold."),
    "c3_code_usage" -> ("PQ code usage: encoded frame cached for the " +
      "four subspace projections, partial-agg census to <=64 rows."),
    "b109_basket_hist" -> ("Basket census: distinct + two partial-agg " +
      "stages; only the single-row totals broadcast joins."),
    "c2_threshold_sweep" -> ("Threshold sweep: ONE cached pair mine at " +
      "the 0.1 floor, 9-row threshold broadcast fan-out, two bounded " +
      "roll-ups."),
    "a11ah_rect_union" -> ("Exact union-of-rectangles: the cached rect " +
      "frame feeds distinct-x slabs (lead window on gid), a gid equi-join " +
      "with residual range filters (never cartesian), and (gid, slab)-keyed " +
      "gaps-and-islands windows — slab-key cardinality grows with the data, " +
      "so the sweep parallelizes; per-group stats partial-aggregate."),
    "b113_skyline" -> ("Skyline: dedup agg then ONE (prio, month)-keyed "
      + "window pass — the O(n^2) dominance self-join the naive plan "
      + "would run never exists; groups are time-bounded so the sort "
      + "windows parallelize."),
    "b111_benford" -> ("Benford audit: one map-side digit key, a 9-row "
      + "partial-agged count, the total a broadcast single row — the "
      + "corpus is scanned once and nothing else moves."),
    "b112_uptime" -> ("Uptime: gaps-and-islands on epoch-us BIGINTs — "
      + "ONE user-keyed exchange feeds the running-max window, the island "
      + "sum, and both rollups; user keys grow with the data."),
    "c6j_scene_cut" -> ("Scene cuts: mapPartitions frame fan-out (no "
      + "shuffle), one media-keyed lag window, one partial-agged rollup; "
      + "frames never exceed 128 B/row on the wire."),
    "c6k_keyframes" -> ("Keyframes: the c6j frame exchange reused for "
      + "the lag and shot windows plus a co-keyed (media, fno) hash "
      + "fetch — one exchange end-to-end."),
    "b110_window_funnel" -> ("Windowed funnel: ONE hash partition by "
      + "user, three conditional-min window passes over the same exchange "
      + "(Catalyst reuses it), the 24 h deadline a per-row scalar in the "
      + "window condition, then a 3-row histogram agg."),
    "c4_datacard" -> ("Data card: three partial-agged source-keyed "
      + "rollups (base stats, token explosion, language mode) joined at "
      + "|sources| size — the corpus shuffles once, for the explosion "
      + "every vocab metric pays anyway."),
    "c6i_media_dedup" -> ("Media dedup clusters: the c6h capped pair "
      + "mine cached, O(log n) star-contraction CC on the pair-bounded "
      + "node set, one partial-agged cluster rollup + a WindowGroupLimit "
      + "keep-best top-1 per cluster."),
    "c6h_dhash_pairs" -> ("Perceptual dHash near-dup: the cached hash " +
      "frame feeds the bucket census and both sides of the (band, bv) " +
      "equi-join; buckets hotter than the cap are dropped whole, so join " +
      "fan-out is cap-squared per bucket, never corpus-squared. Hamming " +
      "refine is one codegen'd bit_count(xor)."),
    "b115_rank_momentum" -> ("Rank momentum: the lineitem-orders fact "
      + "join partial-aggs to (month, part) grain BEFORE the rank window; "
      + "the month-partitioned row_number with the adjacent rnk<=100 "
      + "filter takes the WindowGroupLimit path (per-partition top-k, "
      + "never a full month sort), and the momentum self-join runs on two "
      + "cached <=100-rows/month frames."),
    "b114_dow_seasonality" -> ("DOW seasonality: map-side day key, "
      + "partial agg to 7 rows, the revenue total a broadcast single row "
      + "— one corpus scan, nothing else moves."),
    "c1x_walkforward" -> ("Walk-forward folds: the 5-row fold grid "
      + "broadcasts into a nested-loop range join (bounded x5 fan-out, "
      + "linear in events), then (fold, user) and fold partial aggs — no "
      + "window, no global sort."),
    "c4_heaps" -> ("Heaps-law curve: per-doc counts and per-type "
      + "first-doc are partial-agg shuffles folded to <=20 bucket rows "
      + "via an integer ceil-div key (1-row max broadcast); the only "
      + "window is the cumulative sum over the FIXED 20-row grid."),
    "c4_oov" -> ("OOV rate: the exploded token frame is cached and "
      + "reused for the vocab build (TakeOrdered top-1000) and the "
      + "broadcast membership join — one explosion, one doc rollup."),
    "c3_cosine_hist" -> ("Pair-cosine histogram: the id-adjacent pair "
      + "sample is ONE equi-join on vec_id+1 (linear, never all-pairs); "
      + "norms are computed once on the cached vector frame and the "
      + "graft_dot_f expression fuses into codegen; the histogram is a "
      + "<=20-row partial agg."),
    "a11ao_zonal_stats" -> ("Zonal stats: 25 zone polygons broadcast "
      + "past the point scan (BroadcastNestedLoop on the containment "
      + "predicate), then one partial-agg shuffle to |zones| rows."),
    "a11am_polar_stereo" -> ("Polar stereo reprojection: per-row "
      + "closed-form math behind a scalar UDF pair — map-side only; the "
      + "single exchange is the presentation sort."),
    "a11aw_laea" -> ("LAEA reprojection: per-row closed-form "
      + "oblique-aspect authalic chain behind a scalar UDF pair — "
      + "map-side only; the single exchange is the presentation sort."),
    "a11au_albers" -> ("Albers equal-area reprojection: per-row "
      + "closed-form authalic-q chain behind a scalar UDF pair — "
      + "map-side only; the single exchange is the presentation sort."),
    "a11av_buffer_geodesic" -> ("Geodesic buffer: 16 fixed-4-iteration "
      + "Vincenty direct solutions + 16 inverse cross-checks per row, "
      + "all inside one scalar UDF — map-side only; the single exchange "
      + "is the presentation sort."),
    "a1i_geoparquet_scan" -> ("GeoParquet scan: distributed parquet "
      + "read of the stamped layer (footer validation touches only "
      + "footers), bbox UDF map-side, presentation sort — the second "
      + "A1 path with no driver collect and no row cap."),
    "a1k_geoparquet_bbox" -> ("Footer-pruned GeoParquet window scan: "
      + "file pruning happens at footer level before the scan node "
      + "exists, the row filter is pushed to the surviving parquet "
      + "scans, one presentation sort."),
    "a1j_osm_scan" -> ("OSM PBF scan: one task per file through "
      + "binaryFile, the blob/varint walk is a streaming per-task pass, "
      + "integer nanodegree outputs — the only exchange is the "
      + "presentation sort."),
    "c4_stupid_backoff" -> ("Stupid Backoff held-out scorer: three " +
      "partial-agged count rollups (unigram cached and reused for both " +
      "probe sides, bigram, 1-row broadcast total), held-out adjacency " +
      "scored via posting-list equi-joins — Zipf-head probe skew is " +
      "AQE-split, nothing is corpus-squared."),
    "a11ai_buffer_concave" -> ("Concave grid buffer: the a11yy dissolve "
      + "plan with a buffered membership scalar — map-side cell explosion, "
      + "per-row ray-cast/boundary-distance predicate, ONE partial-agged "
      + "distinct-count shuffle per group; no join at all."),
    "c2_assortativity" -> ("Assortativity: the shared df-capped pair " +
      "mine cached, degree agg co-keyed joins back onto the directed " +
      "edges (degree table corpus-sized — joined, never broadcast), one " +
      "single-row moment rollup; the quantized division is driver-free."),
    "c4_good_turing" -> ("Good-Turing: ONE corpus-wide trigram rollup " +
      "(partial-agged), then a count-of-counts agg whose output is " +
      "|distinct r| rows — the r+1 self-join and single-row total ride " +
      "broadcasts; integer division only, no IEEE."),
    "b120_format_roundtrip" -> ("Format roundtrip: ORC/CSV/JSON sinks " +
      "written and re-read per-partition parallel with explicit schemas " +
      "(no inference scan); every re-read's ReadSchema carries only the " +
      "4 written columns, and each fingerprint is one partial-agged " +
      "rollup plus a distinct-key shuffle."),
    "b121_mann_kendall" -> ("Mann-Kendall/Theil-Sen: corpus collapses " +
      "ONCE to the cached calendar-bounded (type, day) rollup; the day-" +
      "pair mine is a type-keyed equi-join of that frame with itself " +
      "(D(D-1)/2 pairs, never row-count-squared), S/median/z all run on " +
      "pair-table-sized frames."),
    "a11as_dbscan" -> ("Grid-density DBSCAN: one corpus-grain partial-" +
      "agged cell rollup, a 1-row broadcast density threshold, an 8-key " +
      "explode equi-joined against the core-cell set (never a cross " +
      "join), and the audited O(log n) star-contraction CC on the cell " +
      "table — everything after the first shuffle is extent/eps²-bounded."),
    "c4_viterbi_segment" -> ("Viterbi segmentation: corpus rolls ONCE " +
      "to the cached Heaps-law (source, word, cnt) table; both walks " +
      "(greedy + DP) run per DISTINCT word over a 60-piece broadcast " +
      "vocab and multiply back through the counts — nothing downstream " +
      "of the first rollup is corpus-sized."),
    "c6q_wav_rms" -> ("PCM16 waveform stats: container build, RIFF " +
      "chunk chase, and the int16 decode loop are one streaming " +
      "mapPartitions pass (no sample table is ever materialized " +
      "engine-side); the only exchanges are the per-source rollup and " +
      "the presentation sort."),
    "c6r_luma_hist" -> ("Luma histogram codec: PNG build, chunk walk " +
      "(multi-IDAT concatenation), and the 16-wide luma binning loop " +
      "are one streaming mapPartitions pass emitting a 12-number row " +
      "per image; the only exchanges are the per-source rollup and " +
      "the presentation sort."),
    "c6s_srt_cues" -> ("SRT caption codec: SubRip build + line/timestamp " +
      "walk are one streaming mapPartitions pass per record; the only " +
      "exchanges are the per-source rollup and the presentation sort."),
    "c3_coreset" -> ("K-center coreset curve: the 16-exemplar frame " +
      "rides a broadcast past ONE corpus scan (bounded ×16 fan-out, " +
      "native codegen dot), running-max window over 16 rows per vector, " +
      "16-row partial-agged rollup; the greedy's collect is the audited " +
      "md5Sample(1024) bound."),
    "c4_quality_sweep" -> ("Quality threshold sweep: one corpus scan " +
      "computes (source, q_e6, n_tokens) map-side, the 10-row threshold " +
      "grid broadcasts (never shuffles the corpus), and the (source, " +
      "threshold) rollup partial-aggregates to |sources|·10 rows."),
    "a11at_areal_interp" -> ("Areal interpolation: each zone explodes " +
      "to its covered cells via closed-form floor bounds (map-side " +
      "Generate — no join at all), overlap weights are exact integer " +
      "arithmetic, and ONE partial-agged rollup lands on the cell key."),
    "c6t_id3_tag" -> ("ID3v2.4 syncsafe codec: tag build + frame walk " +
      "are one streaming mapPartitions pass; the only exchanges are the " +
      "per-source rollup and the presentation sort."),
    "b122_psi" -> ("PSI drift: corpus collapses once per half to the " +
      "DOMAIN-bounded cents histogram (cached, reread by both halves); " +
      "the frozen decile edges ride a 1-row broadcast array and every " +
      "small frame (dmin, totals, grid) broadcasts — no SMJ anywhere."),
    "c4_feature_hash" -> ("Hashing-trick featurizer: token explode + " +
      "map-side md5 hash arithmetic + ONE partial-agged rollup of 8 " +
      "conditional sums — no vocabulary state, no join; the defining " +
      "scale property of the trick."),
    "c2_adamic_adar" -> ("Adamic-Adar: the audited pair mine's edge " +
      "list is hub-cut (deg ≤ 64) BEFORE the common-neighbor self-join " +
      "— the deg² fan-out guard — non-edges filtered by left-anti on " +
      "the canonical pair, top-20 via TakeOrdered."),
    "b123_holt_winters" -> ("Holt-Winters: corpus collapses once to " +
      "the cached hourly rollup; the triple recurrence runs per type " +
      "over a calendar-bounded array in ONE UDF call (inherently " +
      "sequential) and explodes back — no join, types scale out."),
    "c6u_zip_dir" -> ("ZIP codec: stored-method build + spec-correct " +
      "backward EOCD scan / central walk / local cross-check / CRC " +
      "re-verify in one streaming mapPartitions pass; rollup + " +
      "presentation sort are the only exchanges."),
    "c4_filter_overlap" -> ("Quality×dedup overlap: ONE fingerprint " +
      "hash-agg (map-side partials, never a window) joined back on the " +
      "cached scored frame, 3-row threshold grid broadcast, one " +
      "partial-agged rollup."),
    "c6v_varint" -> ("Protobuf wire codec: varint build + tag-dispatch " +
      "walk are one streaming mapPartitions pass; rollup + presentation " +
      "sort are the only exchanges."),
    "c1y_rendezvous" -> ("HRW sharding: the ×8/×9 shard fan-out is a " +
      "map-side explode over a constant list, the per-doc argmax a " +
      "max_by hash aggregate (map-side partials), the rollup |shards| " +
      "rows — nothing corpus-squared, no window."),
  )

  def main(args: Array[String]): Unit = {
    // plain (non-AQE) plans print whole-stage codegen spans
    val spark = Harness.session("spark.sql.adaptive.enabled" -> "false")
    val sf = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = new StringBuilder
    out ++= "# PLANS — headline physical plans (generated by `graft.Plans`)\n\n"
    out ++= s"Source: `$sf`, AQE disabled for stable stage printing. The same\n"
    out ++= "properties are asserted programmatically in `PlanAuditSpec`/`ScaleSpec`.\n"
    audited.foreach { case (name, note) =>
      val df = Registry.queries(name)(spark, sf)
      out ++= s"\n## $name\n\n$note\n\n```\n"
      out ++= df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).take(6000)
      out ++= "\n```\n"
    }
    Files.writeString(Paths.get("/root/repo/PLANS.md"), out.toString)
    println(s"wrote PLANS.md (${audited.size} plans)")
    spark.stop()
  }
}
