package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** SimHash pair mining + LSH-ANN behavior (the no-oracle Tier C paths). */
class SimSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.session

  test("simhashPairs finds exact and reordered duplicates, skips unrelated docs") {
    import spark.implicits._
    // SimHash is a token-multiset sketch: reordering leaves it bit-identical
    // (Hamming 0), which the ≤3 band guarantee always catches. A single
    // changed token only shifts 2 votes/bit, so its Hamming can exceed the
    // guarantee — that regime belongs to MinHash (c2), not SimHash.
    val baseToks = (1 to 80).map(i => s"word$i")
    val base = baseToks.mkString(" ")
    val reordered = (baseToks.drop(40) ++ baseToks.take(40)).mkString(" ")
    val unrelated = (1 to 80).map(i => s"other$i").mkString(" ")
    val docs = Seq((0L, base), (1L, reordered), (2L, unrelated), (3L, base))
      .toDF("doc_id", "text")
    val pairs = TierCSim.simhashPairs(spark, docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)), "exact-dup pair missed")
    assert(pairs.contains((0L, 1L)), "reordered-dup pair missed")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc flagged")
  }

  test("editDistanceJoin: typo pair found with exact distance, far pair and cross-source pair excluded") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    // 2 substitutions → edit distance 2
    val typo = base.replace("word7 ", "ward7 ").replace("word31 ", "w0rd31 ")
    // a heavily rewritten variant: well beyond k=20
    val far = (1 to 60).map(i => s"zz${i * 7}q").mkString(" ")
    val docs = Seq(
      (1L, base, "s1"), (2L, typo, "s1"), (3L, far, "s1"),
      (4L, base, "s2")) // identical text, different source block — excluded
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length($"text"))
    try {
      val got = TierCSim.editDistanceJoin(spark, docs, 20)
        .as[(Long, Long, Long)].collect().toSeq
      assert(got == Seq((1L, 2L, 2L)), s"got $got")
    } finally { graft.CacheRegistry.releaseAll(); spark.catalog.clearCache() }
    // banded DP unit pins: known values, symmetry, saturation above the band
    assert(TierCSim.levenshteinBanded("kitten", "sitting", 20) == 3)
    assert(TierCSim.levenshteinBanded("sitting", "kitten", 20) == 3)
    assert(TierCSim.levenshteinBanded("abc", "abc", 20) == 0)
    assert(TierCSim.levenshteinBanded("", "abcde", 20) == 5)
    assert(TierCSim.levenshteinBanded("a" * 50, "b" * 50, 20) == 21) // saturates at k+1
    // the verify stage rides Spark's BUILT-IN 3-arg levenshtein: pin it
    // against the banded reference on a deterministic pair grid (builtin
    // returns -1 above the threshold where the reference saturates at k+1)
    locally {
      import spark.implicits._
      import org.apache.spark.sql.functions.{levenshtein => levB, col}
      val words = Seq("kitten", "sitting", "", "abcde", "abcdf", "xyabcde",
        "a" * 30, "a" * 29 + "b", "b" * 30, "hdr QmZx3", "hdr QmZy3")
      val pairs = for (a <- words; b <- words) yield (a, b)
      val got = pairs.toDF("a", "b")
        .select(levB(col("a"), col("b"), 20)).as[Int].collect()
      val want = pairs.map { case (a, b) =>
        val d = TierCSim.levenshteinBanded(a, b, 20)
        if (d > 20) -1 else d
      }
      assert(got.toSeq == want, "builtin levenshtein diverged from the banded reference")
    }
  }

  test("ngramJaccardPairs: df-capped hot gram is dropped, near-dup pair still found") {
    import spark.implicits._
    // "stop stop" appears in every doc (df=12 > cap=3) — dropped from
    // candidate generation. The planted near-dup pair shares 9 of its
    // ~11 rarer bigrams, so it must still surface; the stop-gram's loss
    // only underestimates its Jaccard. Filler docs share ONLY the hot
    // gram, so with the cap they must produce no pairs at all.
    val a = "stop stop alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "stop stop alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val fillers = (0 until 10).map(i =>
      (10L + i, s"stop stop unique${i}a unique${i}b unique${i}c"))
    val docs = ((Seq((0L, a), (1L, b)) ++ fillers))
      .map { case (id, t) => (id, "src", t) }.toDF("doc_id", "source", "text")
    val pairs = TierCSim.ngramJaccardPairs(spark, docs, 0.5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)),
      s"expected only the planted pair to survive the df cap, got $pairs")
    // sanity: without the cap the same corpus also links fillers to nothing
    // (they share only the hot gram, jaccard ~2/7 < 0.5) and finds (0,1)
    val uncapped = TierCSim.ngramJaccardPairs(spark, docs, 0.5, 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == Set((0L, 1L)))
    // the hot-gram pre-filter (100 TB shape: partial-agg + broadcast
    // anti-join instead of the df window) must produce identical pairs
    // AND identical jaccard values on a cap that actually drops a gram
    val winRows = TierCSim.ngramJaccardPairs(spark, docs, 0.5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val preRows = TierCSim.ngramJaccardPairs(spark, docs, 0.5, 3, hotPreFilter = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(preRows == winRows, s"hotPreFilter diverged: $preRows vs $winRows")
    graft.CacheRegistry.releaseAll()
  }

  test("hotProbe auto-select: flips the path on a planted hot gram, outputs equal either way") {
    import spark.implicits._
    // same planted-hot-gram corpus as the df-cap test: "stop stop" has
    // df=12, so at cap=3 the probe must pick the pre-filter shape, and at
    // cap=10000 (nothing hot) the window shape
    val a = "stop stop alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "stop stop alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val fillers = (0 until 10).map(i =>
      (10L + i, s"stop stop unique${i}a unique${i}b unique${i}c"))
    val docs = ((Seq((0L, a), (1L, b)) ++ fillers))
      .map { case (id, t) => (id, "src", t) }.toDF("doc_id", "source", "text")
    val exploded = docs.select($"doc_id", $"source",
      explode(array(lit("stop stop"))).as("gram")) // df=12 on one gram
    assert(TierCSim.hotProbe(exploded, Seq("source", "gram"), 3),
      "probe missed the hot gram at cap=3")
    assert(!TierCSim.hotProbe(exploded, Seq("source", "gram"), 10000),
      "probe claimed a hot gram at cap=10000")
    assert(!TierCSim.hotProbe(exploded.limit(0), Seq("source", "gram"), 1),
      "probe must say false on an empty frame")
    // the auto entry point returns the same rows as BOTH explicit shapes
    // on the dropping cap
    val auto = TierCSim.ngramJaccardPairsAuto(spark, docs, 0.5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val win = TierCSim.ngramJaccardPairs(spark, docs, 0.5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto == win, s"auto diverged from window shape: $auto vs $win")
    val autoC = TierCSim.ngramContainmentPairsAuto(spark, docs, 0.5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val winC = TierCSim.ngramContainmentPairs(spark, docs, 0.5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(autoC == winC, s"containment auto diverged: $autoC vs $winC")
    graft.CacheRegistry.releaseAll()
  }

  test("ngramContainmentPairs: embedded quote found in ONE direction, Jaccard misses it") {
    import spark.implicits._
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")     // 11 bigrams
    val docs = Seq(
      (0L, quote),                                           // the short doc
      (1L, s"intro words here $quote closing remarks follow today"), // embeds it
      (2L, (1 to 15).map(i => s"z$i").mkString(" "))         // unrelated
    ).map { case (id, t) => (id, "src", t) }.toDF("doc_id", "source", "text")
    val got = TierCSim.ngramContainmentPairs(spark, docs, 0.8, 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc 0's bigrams are all inside doc 1 → C(0→1) = 1.0; the reverse
    // direction is |shared|/|doc1| < 0.8; nothing touches doc 2
    assert(got.map(t => (t._1, t._2)).toSet == Set((0L, 1L)), got.mkString(","))
    assert(got.head._3 == 1.0, s"full embedding should score 1.0: ${got.head}")
    // Jaccard at the same strictness finds NOTHING (11 shared / ~19 union)
    val jac = TierCSim.ngramJaccardPairs(spark, docs, 0.8, 10000).collect()
    assert(jac.isEmpty, "Jaccard unexpectedly caught the asymmetric pair")
    // hotPreFilter path: identical rows
    val pre = TierCSim.ngramContainmentPairs(spark, docs, 0.8, 10000, hotPreFilter = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pre.toSeq == got.toSeq)
    graft.CacheRegistry.releaseAll()
  }

  test("dedupCorpus: keep-best survivor per near-dup cluster, singleton kept whole") {
    import spark.implicits._
    val baseToks = (1 to 60).map(i => s"w$i")
    val base = baseToks.mkString(" ")                 // 60 toks
    val shorter = baseToks.take(50).mkString(" ")     // near-dup of base, fewer chars
    val longer = (baseToks :+ "extra").mkString(" ")  // near-dup, MOST chars → survivor
    val lone = (1 to 60).map(i => s"u$i").mkString(" ")
    val docs = Seq((0L, base), (1L, shorter), (2L, longer), (3L, lone))
      .map { case (id, t) => (id, "src", t, t.length.toLong) }
      .toDF("doc_id", "source", "text", "n_chars")
    val got = TierCSim.dedupCorpus(spark, docs, 0.3, 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    // cluster {0,1,2} labeled by min id 0, survivor = doc 2 (longest);
    // doc 3 is its own singleton cluster
    assert(got == Seq((0L, 2L, 3L), (3L, 3L, 1L)), got.mkString(","))
    // partition-invariant (the composed pipeline shuffles 3×: pairs, CC,
    // keep-best agg — none may depend on input layout)
    val again = TierCSim.dedupCorpus(spark, docs.repartition(7), 0.3, 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(again == got)
    graft.CacheRegistry.releaseAll()
  }

  test("triangleStats: K3/K4 cliques, open wedge path, pair, isolated doc — exact counts") {
    import spark.implicits._
    def toks(p: String, lo: Int, hi: Int) = (lo to hi).map(i => s"$p$i").mkString(" ")
    // K3 in source s3 (identical docs → J=1 edges), K4 in s4, lone pair in
    // sp, an OPEN wedge a–b–c in sw (A=w1..60, B=w31..90 share 29 of 89
    // distinct bigrams → J≈0.326 ≥ 0.3; A vs C=w61..120 share none), and an
    // isolated doc in si (no pairs → source absent from the output).
    val docs = (
      (0 to 2).map(i => (10L + i, "s3", toks("a", 1, 60))) ++
      (0 to 3).map(i => (20L + i, "s4", toks("b", 1, 60))) ++
      Seq((30L, "sp", toks("c", 1, 60)), (31L, "sp", toks("c", 1, 60)),
          (40L, "sw", toks("w", 1, 60)), (41L, "sw", toks("w", 31, 90)),
          (42L, "sw", toks("w", 61, 120)),
          (50L, "si", toks("z", 1, 60)))
    ).map { case (id, src, t) => (id, src, t, t.length.toLong) }
      .toDF("doc_id", "source", "text", "n_chars")
    def run(df: org.apache.spark.sql.DataFrame) =
      TierCSim.triangleStats(spark, df, 0.3, 10000)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
    val got = run(docs)
    assert(got == Seq(
      // source, nodes, edges, wedges, triangles, transitivity_e6
      ("s3", 3L, 3L, 3L, 1L, 1000000L),   // K3: 3·1e6·1/3
      ("s4", 4L, 6L, 12L, 4L, 1000000L),  // K4: 3·1e6·4/12
      ("sp", 2L, 1L, 0L, 0L, 0L),         // single edge: no wedge, guard path
      ("sw", 3L, 2L, 1L, 0L, 0L)          // open wedge: 1 wedge, 0 triangles
    ), got.mkString(","))
    // degree-ordered enumeration must not depend on input layout
    assert(run(docs.repartition(7)) == got)
    graft.CacheRegistry.releaseAll()
  }

  test("labelPropagation: bridge doc doesn't fuse two cliques (CC would), isolated keeps own id") {
    import spark.implicits._
    def toks(p: String, lo: Int, hi: Int) = (lo to hi).map(i => s"$p$i").mkString(" ")
    val xa = toks("a", 1, 60)
    val yb = toks("b", 1, 60)
    val blend = toks("a", 1, 30) + " " + toks("b", 1, 30) // J≈0.326 to both cliques
    val docs = (
      Seq(10L, 11L, 12L).map(id => (id, xa)) ++
      Seq(20L, 21L, 22L).map(id => (id, yb)) ++
      Seq((30L, blend), (40L, toks("z", 1, 60)))
    ).map { case (id, t) => (id, "src", t, t.length.toLong) }
      .toDF("doc_id", "source", "text", "n_chars")
    def run(df: org.apache.spark.sql.DataFrame) =
      TierCSim.labelPropagation(spark, df, 0.3, 10000, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = run(docs)
    // clique A + the bridge converge to label 10, clique B stays 20 —
    // two communities where CC over the same graph yields ONE (the bridge
    // connects everything); the isolated doc keeps its own id
    assert(got == Seq(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 10L, 40L -> 40L),
      got.mkString(","))
    // CC contrast: one component spans both cliques via the bridge
    val prs = TierCSim.ngramJaccardPairs(spark, docs, 0.3, 10000)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val cc = TierCSim.connectedComponentsStar(spark,
        docs.select(col("doc_id").as("id")), prs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc(20L) == 10L && cc(30L) == 10L, cc.toString)
    assert(run(docs.repartition(7)) == got)
    graft.CacheRegistry.releaseAll()
  }

  test("mmrSelect: exact-duplicate result demoted below the diverse one, top-by-rel would not") {
    import spark.implicits._
    def vec(parts: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, v) => a(i) = v }
      a.toSeq
    }
    // query 1 = u+v; candidates: A = u (id 2), A' = exact copy of A (id 3),
    // B = v (id 4). All three have equal rel ≈ 0.707 to the query, so
    // pure top-3-by-rel ranks them (A, A', B) by the id tie-break. MMR's
    // second pick must be B (sim to A is 0) over A' (sim to A is 1):
    // mmr2(B) = .7·.707 − 0 vs mmr2(A') = .7·.707 − .3·1.
    val emb = Seq(
      (1L, 0, vec(0 -> 1f, 1 -> 1f)),
      (2L, 0, vec(0 -> 1f)),
      (3L, 0, vec(0 -> 1f)),
      (4L, 0, vec(1 -> 1f))
    ).toDF("vec_id", "label", "embedding")
    val got = TierCSim.mmrSelect(spark, emb)
      .filter(col("ida") === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(1L -> 2L, 2L -> 4L, 3L -> 3L), got.mkString(","))
    graft.CacheRegistry.releaseAll()
  }

  test("semDedup: planted dup pair + triple collapse to lowest-id reps, orthogonal survives") {
    import spark.implicits._
    def v(hot: Int, tilt: Int = -1): Seq[Float] =
      (0 until 64).map(i =>
        if (i == hot) 1.0f else if (i == tilt) 0.01f else 0.0f)
    // {0,1} dup pair, {2,3,4} dup triple (all pairwise cos ~0.9999),
    // 5 orthogonal singleton; 6 vecs -> ONE k-center cell, so blocking
    // cannot hide any pair and the component structure is fully exercised
    val vecs = Seq(
      (0L, v(0)), (1L, v(0, 1)),
      (2L, v(2)), (3L, v(2, 3)), (4L, v(2, 4)),
      (5L, v(5))).toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) =
      TierCSim.semDedup(spark, df, 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).sortBy(_._1).toSeq
    val got = run(vecs)
    assert(got == Seq((0L, 0L, true), (1L, 0L, false),
      (2L, 2L, true), (3L, 2L, false), (4L, 2L, false),
      (5L, 5L, true)), got.mkString(","))
    // partition invariance: pairs, CC, and the rep join all shuffle —
    // none may depend on input layout
    val again = run(vecs.repartition(5))
    assert(again == got)
    graft.CacheRegistry.releaseAll()
  }

  test("incrementalNearDup: old dups reject, prior-new chain rejects conservatively, fresh admits") {
    import spark.implicits._
    val baseToks = (1 to 60).map(i => s"w$i")
    val freshToks = (1 to 60).map(i => s"u$i")
    val docs = Seq(
      (0L, baseToks.mkString(" "), false),            // standing corpus
      (1L, baseToks.drop(3).mkString(" "), false),    // old near-dup of 0 — old×old, must not surface
      (10L, baseToks.take(55).mkString(" "), true),   // new dup of BOTH old docs
      (11L, freshToks.mkString(" "), true),           // genuinely new
      (12L, freshToks.take(55).mkString(" "), true),  // dup of prior-new 11
      (13L, freshToks.take(50).mkString(" "), true)   // dup of 11 AND 12 (chain)
    ).map { case (id, t, nw) => (id, "src", t, nw) }
      .toDF("doc_id", "source", "text", "is_new")
    val got = TierCSim.incrementalNearDup(spark, docs, 0.3, 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got == Seq(
      (10L, 2L, 0L, false),
      (11L, 0L, 0L, true),
      (12L, 0L, 1L, false),
      (13L, 0L, 2L, false)), got.mkString(","))
    // partition-invariant, and the hotPreFilter scale shape emits the same rows
    val again = TierCSim.incrementalNearDup(spark, docs.repartition(7), 0.3, 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(again == got)
    val pre = TierCSim.incrementalNearDup(spark, docs, 0.3, 10000, hotPreFilter = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(pre == got)
    graft.CacheRegistry.releaseAll()
  }

  test("similarityPageRank: exact integer ranks on star + twins + isolated, partition-invariant") {
    import spark.implicits._
    // bigram-Jaccard graph planted as: hub—{3 spokes} star (spokes NOT
    // pairwise linked), a twin pair linked only to each other, one
    // isolated doc. J(hub,spoke)=24/64, J(spoke,spoke)=24/94 < 0.3,
    // J(twins)=35/43.
    val core = (1 to 25).map(i => s"c$i")
    val hub = (core ++ (1 to 5).map(i => s"h$i")).mkString(" ")
    def spoke(j: Int) = (core ++ (1 to 35).map(i => s"s${j}x$i")).mkString(" ")
    val twin1 = (1 to 40).map(i => s"t$i").mkString(" ")
    val twin2 = ((1 to 36).map(i => s"t$i") ++ (1 to 4).map(i => s"u$i")).mkString(" ")
    val iso = (1 to 40).map(i => s"z$i").mkString(" ")
    val docs = Seq((0L, hub), (1L, spoke(1)), (2L, spoke(2)), (3L, spoke(3)),
      (10L, twin1), (11L, twin2), (20L, iso))
      .map { case (id, t) => (id, "src", t) }.toDF("doc_id", "source", "text")
    val got = TierCSim.similarityPageRank(spark, docs, 0.3, 10000, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-computed integer power iteration (scale 1e6, floor division):
    // i1: hub 2_700_000, spoke 433_333, twin 1_000_000
    // i2: hub 1_254_999, spoke 915_000
    // i3: hub 2_483_250, spoke 505_583; isolated floors at 150_000
    assert(got == Map(0L -> 2483250L, 1L -> 505583L, 2L -> 505583L,
      3L -> 505583L, 10L -> 1000000L, 11L -> 1000000L, 20L -> 150000L), got)
    val again = TierCSim.similarityPageRank(spark, docs.repartition(7), 0.3, 10000, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
    graft.CacheRegistry.releaseAll()
  }

  test("dupGramUdf: repeated-fragment instances exact, short docs zero") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c a b c a b"),   // 6 trigram instances, all in repeated grams
      (1L, "x y z w"),           // 2 distinct trigrams, none repeated
      (2L, "p q"),               // too short: (0, 0)
      (3L, "m n o m n o x m n o") // 8 instances; "m n o"×3 + "n o m","o m n","o x m","x m n"... recount in assert
    ).toDF("doc_id", "text")
    val got = docs.select($"doc_id", TierCText.dupGramUdf($"text").as("g"))
      .collect().map(r => r.getLong(0) -> (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1))).toMap
    // doc 3 toks: m n o m n o x m n o → 8 trigrams:
    // mno nom omn mno nox oxm xmn mno → mno×3 repeated, 5 singletons
    assert(got == Map(0L -> ((6L, 6L)), 1L -> ((2L, 0L)), 2L -> ((0L, 0L)),
      3L -> ((8L, 3L))), got)
  }

  test("clusterSafeSplit: near-dup clusters never straddle splits, all docs covered, partition-invariant") {
    import spark.implicits._
    // three near-dup families + singletons — family members MUST co-locate
    val fam = (0 until 3).map { f =>
      val toks = (1 to 60).map(i => s"f${f}w$i")
      Seq((f * 10L, toks.mkString(" ")),
        ((f * 10) + 1L, toks.drop(3).mkString(" ")),
        ((f * 10) + 2L, toks.take(55).mkString(" ")))
    }.flatten
    val singles = (0 until 4).map(i => (100L + i, (1 to 50).map(j => s"s${i}q$j").mkString(" ")))
    val docs = (fam ++ singles).map { case (id, t) => (id, "src", t) }
      .toDF("doc_id", "source", "text")
    val got = TierCSim.clusterSafeSplit(spark, docs, 0.3, 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.length == 13 && got.map(_._1).distinct.length == 13, "not a total assignment")
    // cohesion: one split per cluster — THE property the operator exists for
    got.groupBy(_._2).foreach { case (c, ms) =>
      assert(ms.map(_._3).distinct.length == 1, s"cluster $c straddles splits: $ms")
    }
    // each family of 3 is one cluster
    for (f <- 0 until 3) {
      val cs = got.filter(x => x._1 / 10 == f && x._1 < 100).map(_._2).distinct
      assert(cs.length == 1, s"family $f fragmented: $cs")
    }
    val again = TierCSim.clusterSafeSplit(spark, docs.repartition(7), 0.3, 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(again.sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
    graft.CacheRegistry.releaseAll()
  }

  test("hashedLinearScore: instance-linear, order-invariant, empty doc zero, partition-invariant") {
    import spark.implicits._
    val weights = (0 until 256).map(i => (f"$i%02x", (i % 37 - 18).toLong)).toDF("bucket", "w")
    val docs = Seq(
      (0L, "alpha"),                    // single token: score = w(alpha)
      (1L, "alpha alpha alpha"),        // 3 instances: exactly 3 * w(alpha)
      (2L, "beta gamma alpha"),         // multiset …
      (3L, "alpha gamma beta"),         // … reordered: same score
      (4L, "")                          // empty: (0, 0)
    ).toDF("doc_id", "text")
    val got = TierCText.hashedLinearScore(spark, docs, weights)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1) == ((3L, 3 * got(0)._2)), got)  // instance-linear, not distinct-gram
    assert(got(2) == got(3), got)                 // bag-of-words order invariance
    assert(got(4) == ((0L, 0L)), got)
    val again = TierCText.hashedLinearScore(spark, docs.repartition(5), weights)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(again == got)
  }

  test("topGramUdf: hot-phrase multiplicities exact, short docs zero out") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b a b c"), // top2 "a b"×3, top3 "a b a"×2, top4 "a b a b"×2
      (1L, "x"),             // 1 token: no n-gram exists for n>=2
      (2L, "x y"),           // exactly one bigram
      (3L, "p q r s")        // all n-grams unique
    ).toDF("doc_id", "text")
    val got = docs.select($"doc_id", TierCText.topGramUdf($"text").as("g"))
      .select($"doc_id", $"g._1", $"g._2", $"g._3", $"g._4")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 7L, 3L, 2L, 2L),
      (1L, 1L, 0L, 0L, 0L),
      (2L, 2L, 1L, 0L, 0L),
      (3L, 4L, 1L, 1L, 1L)), got.mkString(","))
  }

  test("crossSourceContamination: cross-source leak found, same-source and boilerplate ignored") {
    import spark.implicits._
    val leak = "the quick brown fox jumps over the lazy dog tonight"
    val boiler = "all rights reserved contact us for more details here"
    val docs = Seq(
      (0L, "train", s"intro words $leak closing words"),
      (1L, "eval", s"different frame $leak other ending"),   // leaked 5-grams
      (2L, "train", s"prefix $leak suffix"),                 // same text family, SAME source as 0 → no pair with 0
      (3L, "eval", "completely unrelated content about weather patterns today always")
    ) ++ (4L to 15L).map(i => (i, if (i % 2 == 0) "train" else "eval", s"doc$i says $boiler end$i"))
    val df = docs.toDF("doc_id", "source", "text")
    val got = TierCText.crossSourceContamination(spark, df, 5, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // boilerplate 5-grams appear in 12 docs (df > 5 → dropped); the leak
    // appears in 3 docs (kept). Pairs orient by source_a < source_b, so
    // the "eval" doc 1 is always id_a:
    assert(got == Set((1L, 0L), (1L, 2L)), s"got $got")
    // without the cap, boilerplate links every train doc to every eval doc
    val uncapped = TierCText.crossSourceContamination(spark, df, 5, 10000)
      .collect().length
    assert(uncapped > 30, s"expected boilerplate pair explosion without cap, got $uncapped")
    // hot-gram pre-filter path: identical (id_a, id_b, n_shared) rows on
    // the dropping cap
    val winRows = TierCText.crossSourceContamination(spark, df, 5, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val preRows = TierCText.crossSourceContamination(spark, df, 5, 5, hotPreFilter = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(preRows == winRows, s"hotPreFilter diverged: $preRows vs $winRows")
    // auto-select: df=12 boilerplate gram vs cap=5 → probe picks the
    // pre-filter shape; rows must match the explicit shapes regardless
    val autoRows = TierCText.crossSourceContaminationAuto(spark, df, 5, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(autoRows == winRows, s"auto diverged: $autoRows vs $winRows")
    graft.CacheRegistry.releaseAll()
  }

  test("contaminationFraction: leaked doc scores > 0, clean doc scores 0, exact ppm") {
    import spark.implicits._
    val leak = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (0L, "train", s"intro words $leak closing words"),
      (1L, "eval", s"different frame $leak other ending"),
      (2L, "eval", "completely unrelated content about weather patterns today always nine ten")
    ).toDF("doc_id", "source", "text")
    val got = TierCText.contaminationFraction(spark, docs, 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 0: 9 distinct tokens around an 11-token leak → grams sliding
    // over 15 tokens = 11 distinct 5-grams; the 7 fully inside the leak
    // also occur in doc 1 (which embeds the same 11-token run)
    val (n0, c0, ppm0) = got(0L)
    assert(c0 > 0 && c0 < n0, s"doc 0: $c0 of $n0")
    assert(ppm0 == math.floor(1000000.0 * c0 / n0).toLong)
    val (n2, c2, ppm2) = got(2L)
    assert(c2 == 0L && ppm2 == 0L && n2 > 0L, s"doc 2 clean: $got")
    // partition invariance
    val again = TierCText.contaminationFraction(spark, docs.repartition(7), 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again == got)
    graft.CacheRegistry.releaseAll()
  }

  test("exactSubstrSpans: cross-doc and within-doc duplicate runs, overlap merge, clean doc zero") {
    import spark.implicits._
    val run = (1 to 10).map(i => s"x$i").mkString(" ")     // 10-token shared run
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")      // 8-token self-repeat
    val docs = Seq(
      (0L, s"p1 p2 $run s1 s2"),                           // 14 tokens, 10 dup
      (1L, s"q1 $run q2 q3"),                              // 13 tokens, 10 dup
      (2L, (1 to 12).map(i => s"u$i").mkString(" ")),      // clean
      (3L, s"$rep $rep")                                   // 16 tokens, all dup
    ).toDF("doc_id", "text")
    val got = TierCText.exactSubstrSpans(spark, docs, 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the 10-token run holds 3 overlapping 8-shingles -> merged span = 10
    assert(got(0L) == (14L, 10L), s"doc0: ${got(0L)}")
    assert(got(1L) == (13L, 10L), s"doc1: ${got(1L)}")
    assert(got(2L) == (12L, 0L), s"doc2: ${got(2L)}")
    // within-doc repeat: starts 1 and 9 duplicate, bridging shingles are
    // unique; [1,9) U [9,17) covers all 16 tokens
    assert(got(3L) == (16L, 16L), s"doc3: ${got(3L)}")
    val again = TierCText.exactSubstrSpans(spark, docs.repartition(5), 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(again == got)
    graft.CacheRegistry.releaseAll()
  }

  test("exactSubstrSpans: xxhash64 key path matches the raw-string key path") {
    import spark.implicits._
    // planted dup structure + an all-whitespace doc (ntok = 0): both key
    // paths must agree row-for-row, and dup_ppm must be NULL (not NaN /
    // oracle error) on the empty-token doc
    val run = (1 to 11).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, s"a1 a2 $run b1"),
      (1L, s"$run c1 c2 c3"),
      (2L, (1 to 20).map(i => s"z$i").mkString(" ")),
      (3L, "   "),
      (4L, s"d1 $run $run d2")
    ).toDF("doc_id", "text")
    def rows(hashKey: Boolean) =
      TierCText.exactSubstrSpans(spark, docs, 8, hashKey = hashKey)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toMap
    val raw = rows(hashKey = false)
    val hashed = rows(hashKey = true)
    assert(hashed == raw, s"hash-key path diverged: $hashed vs $raw")
    assert(raw(3L) == ((0L, 0L, None)), s"empty-token doc: ${raw(3L)}")
    assert(raw(0L)._3.isDefined)
    graft.CacheRegistry.releaseAll()
  }

  test("sourceMixResample: kept counts track 1:2:3:4 weights, binding source keeps all") {
    import spark.implicits._
    // src0..src3 → weights 1,2,3,4; 40 docs each → rates 0.25/0.5/0.75/1.0
    val docs = (for {
      srcIdx <- 0 until 4
      i <- 0 until 40
    } yield (srcIdx * 100L + i, s"src$srcIdx",
      s"document number $i of source $srcIdx with body ${"word " * (i % 7)}end"))
      .toDF("doc_id", "source", "text")
    val got = TierCText.sourceMixResample(spark, docs)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == Set("src0", "src1", "src2", "src3"))
    assert(got.values.forall(_._1 == 40L))
    val kept = (0 to 3).map(i => got(s"src$i")._2)
    // binding source (max weight) has rate exactly 1.0 → keeps everything
    assert(kept(3) == 40L, s"binding source kept ${kept(3)}")
    // others are deterministic md5 draws around n·rate = 10/20/30
    Seq(10L, 20L, 30L).zip(kept).foreach { case (exp, k) =>
      assert(math.abs(k - exp) <= 10, s"kept $k vs expected ~$exp")
    }
    // partition invariance
    val again = TierCText.sourceMixResample(spark, docs.repartition(11))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(again == got)
  }

  test("compose c1 exact dedup before c2 LSH: bucket sizes stay bounded, near-dups still found") {
    import spark.implicits._
    import graft.functions.MinHash
    // 50 exact copies of one doc + a genuine near-dup pair + unrelated docs
    val hot = (1 to 60).map(i => s"dup$i").mkString(" ")
    val near1 = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near2 = ((1 to 57).map(i => s"tok$i") ++ Seq("xx", "yy", "zz")).mkString(" ")
    val docs = ((0 until 50).map(i => (100L + i, hot))
      ++ Seq((0L, near1), (1L, near2))
      ++ (0 until 5).map(i => (200L + i, (1 to 60).map(j => s"u${i}w$j").mkString(" "))))
      .toDF("doc_id", "text")
    // plain-Scala mirror of the LSH index for bucket-size inspection
    def maxBucket(d: org.apache.spark.sql.DataFrame): Int =
      d.select($"doc_id", $"text").collect()
        .flatMap { r =>
          val toks = r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSeq
          MinHash.bandHashes(MinHash.signature(MinHash.shingles(toks)))
            .zipWithIndex.map { case (h, b) => ((b, h), r.getLong(0)) }
        }.groupBy(_._1).values.map(_.length).max
    assert(maxBucket(docs) >= 50, "fixture should exhibit the exact-dup mega-bucket")
    // c1 shape: deterministic survivor per text
    val survivors = docs.groupBy($"text")
      .agg(min($"doc_id").as("doc_id")).select($"doc_id", $"text")
    assert(maxBucket(survivors) <= 2,
      "exact dedup should bound every LSH bucket to true near-dup cluster size")
    val pairs = TierC.nearDuplicatePairs(spark, survivors, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)),
      s"near-dup pair must survive the composed pipeline, got $pairs")
  }

  test("connectedComponents: chains, singletons, multi-cluster, partition-invariant") {
    import spark.implicits._
    // two clusters (a chain 1-2-3-4 and a pair 10-11) plus singleton 20
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("src", "dst")
    val got = TierCSim.connectedComponents(spark, nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L), got.toString)
    // partition-invariance: different shuffle width, same labels
    val orig = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      val again = TierCSim.connectedComponents(spark, nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(again == got)
    } finally spark.conf.set("spark.sql.shuffle.partitions", orig)
  }

  test("connectedComponentsStar: hash-min labels on a 64-chain in O(log n) rounds") {
    import spark.implicits._
    // worst case for hash-min: one long chain (diameter 63 → 63 label-
    // propagation rounds). Star contraction must produce the identical
    // labels in logarithmically few rounds.
    val n = 64
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("src", "dst")
    // localCap = 0: this test pins the DISTRIBUTED contraction rounds
    val (labels, rounds, actions) =
      TierCSim.starComponents(spark, nodes, edges, localCap = 0)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until n.toLong).map(_ -> 0L).toMap, s"wrong labels: $got")
    assert(rounds <= 12,
      s"star contraction took $rounds rounds on a 64-chain (diameter 63)")
    // driver round-trips are halved: two star rounds share one
    // fingerprint action (plus the initial fingerprint) — the r7
    // driver-latency floor, cut in half by fusing rounds per action
    assert(actions <= rounds / 2 + 1,
      s"$actions driver actions for $rounds star rounds — rounds not fused")
    // hash-min agreement on a chain SHORT enough for its O(diameter)
    // rounds (its un-checkpointed lineage grows 3×/round — the very cost
    // the star variant exists to avoid at depth)
    val nodes8 = (0L until 8L).toDF("id")
    val edges8 = (0L until 7L).map(i => (i, i + 1)).toDF("src", "dst")
    val star8 = TierCSim.connectedComponentsStar(spark, nodes8, edges8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hashMin8 = TierCSim.connectedComponents(spark, nodes8, edges8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star8 == hashMin8 && star8 == (0L until 8L).map(_ -> 0L).toMap,
      "star and hash-min labels diverge on the short chain")
  }

  test("connectedComponentsStar: multi-cluster + singleton, partition-invariant") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("src", "dst")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)
    val got = TierCSim.connectedComponentsStar(spark, nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, got.toString)
    val orig = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      val again = TierCSim.connectedComponentsStar(spark, nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(again == expect)
    } finally spark.conf.set("spark.sql.shuffle.partitions", orig)
  }

  test("starComponents local fast path: zero rounds, labels identical to the distributed fixed point") {
    import spark.implicits._
    // clusters + a chain + a singleton — awkward shapes for both paths
    val nodes = (Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L) ++ (30L to 40L)).toDF("id")
    val edges = (Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)) ++
      (30L until 40L).map(i => (i, i + 1))).toDF("src", "dst")
    val (fast, rFast, aFast) = TierCSim.starComponents(spark, nodes, edges)
    assert(rFast == 0 && aFast == 1, "tiny edge set must take the union-find fast path")
    val gotFast = fast.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (dist, rDist, _) = TierCSim.starComponents(spark, nodes, edges, localCap = 0)
    assert(rDist > 0, "localCap = 0 must force the distributed rounds")
    val gotDist = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotFast == gotDist, s"paths diverge: $gotFast vs $gotDist")
    assert(gotFast(20L) == 20L && gotFast(35L) == 30L && gotFast(4L) == 1L)
  }

  test("starComponents with a checkpoint dir: durable checkpoints, same labels, files written") {
    import spark.implicits._
    // the operational 100 TB path: with a checkpoint dir set, every barrier
    // is a reliable checkpoint, so an executor loss costs one pass's
    // recompute, not the whole job
    val mNodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val mEdges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("src", "dst")
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loc = labelsOf(TierCSim.connectedComponentsStar(spark, mNodes, mEdges))
    val dir = java.nio.file.Files.createTempDirectory("graft-ccckpt").toFile
    val sc = spark.sparkContext
    val orig = sc.getCheckpointDir
    try {
      sc.setCheckpointDir(dir.getPath)
      val n = 64
      val nodes = (0L until n.toLong).toDF("id")
      val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("src", "dst")
      val (labels, rounds, _) = TierCSim.starComponents(spark, nodes, edges, localCap = 0)
      val got = labelsOf(labels)
      assert(got == (0L until n.toLong).map(_ -> 0L).toMap, s"wrong labels: $got")
      assert(rounds <= 12, s"reliable path took $rounds rounds on a 64-chain")
      // the durability claim is only real if bytes actually landed there
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      assert(walk(dir).nonEmpty, "a checkpoint dir was set but no checkpoint files were written")
      // multi-cluster + singleton agreement with the local path
      val rel = labelsOf(TierCSim.connectedComponentsStar(spark, mNodes, mEdges))
      assert(rel == loc, s"reliable and local labels diverge: $rel vs $loc")
    } finally {
      // a dangling dir would turn every later barrier in the shared session
      // into a durable checkpoint into a deleted directory; in local mode
      // setCheckpointDir(null) resets it to None
      sc.setCheckpointDir(orig.orNull)
      graft.CacheRegistry.releaseAll()
      def del(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(del)
        f.delete()
      }
      del(dir)
    }
    if (orig.isEmpty) assert(sc.getCheckpointDir.isEmpty, s"checkpoint dir left set: ${sc.getCheckpointDir}")
  }

  test("ivfPqSearch: in-cluster recall, partition-invariant, scan bounded by cell population") {
    import spark.implicits._
    val dim = 64
    val vecs = for {
      c <- 0 until 5
      mm <- 0 until 4
    } yield {
      val base = Array.tabulate(dim)(i => math.sin(c * 37 + i).toFloat * 10f)
      base(mm % dim) += 0.01f * (mm + 1)
      (c * 10L + mm, base.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val a = TierCSim.ivfPqSearch(spark, df.repartition(1), 3, cells = 5).collect()
    val b = TierCSim.ivfPqSearch(spark, df.repartition(7), 3, cells = 5).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq,
      "IVF-PQ not partition-invariant")
    val byVec = a.groupBy(_.getLong(0))
    assert(byVec.size == 20)
    byVec.foreach { case (id, rs) =>
      assert(rs.length == 3, s"vec $id got ${rs.length}")
      rs.foreach(r => assert(r.getLong(1) / 10 == id / 10,
        s"vec $id IVF-PQ neighbor ${r.getLong(1)} crossed cluster"))
    }
    // THE bound the composition buys: every query's ADC scan touches
    // exactly (its cell's population - 1) candidates — never the corpus
    val joined = TierCSim.ivfPqJoined(spark, df, cells = 5)
    val scans = joined.groupBy($"id_a", $"cell").count().collect()
    val pop = joined.select($"id_b", $"cell").distinct()
      .groupBy($"cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(scans.nonEmpty)
    scans.foreach { r =>
      val (cell, cnt) = (r.getInt(1), r.getLong(2))
      assert(cnt == pop(cell) - 1,
        s"query ${r.getLong(0)} scanned $cnt candidates in cell $cell (pop ${pop(cell)})")
      assert(cnt < vecs.length - 1L,
        s"query ${r.getLong(0)} scanned the whole corpus — IVF restriction inert")
    }
  }

  test("IVF-PQ index lifecycle: prebuilt probe is BIT-IDENTICAL to the inline build, twice, and at nprobe>1") {
    import spark.implicits._
    val dim = 64
    val vecs = for {
      c <- 0 until 5
      mm <- 0 until 4
    } yield {
      val base = Array.tabulate(dim)(i => math.sin(c * 37 + i).toFloat * 10f)
      base(mm % dim) += 0.01f * (mm + 1)
      (c * 10L + mm, base.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    TierCSim.saveIvfPqIndex(spark, df, dir, cells = 5)
    // the saved layout: driver-sized quantizers + corpus-sized codes
    assert(spark.read.parquet(s"$dir/seeds").count() == 5)
    assert(spark.read.parquet(s"$dir/books").count() == 4 * 16)
    assert(spark.read.parquet(s"$dir/codes").count() == 20)
    val inline = TierCSim.ivfPqSearch(spark, df, 3, cells = 5)
      .collect().map(_.toString).toSeq
    val probe1 = TierCSim.ivfPqSearchPrebuilt(spark, df, dir, 3)
      .collect().map(_.toString).toSeq
    val probe2 = TierCSim.ivfPqSearchPrebuilt(spark, df.repartition(7), dir, 3)
      .collect().map(_.toString).toSeq
    assert(probe1 == inline, "prebuilt probe diverged from the inline build")
    assert(probe2 == inline, "prebuilt probe not partition-invariant")
    // nprobe>1 through the SAME saved index matches the inline nprobe path
    val inlineN2 = TierCSim.ivfPqSearch(spark, df, 3, cells = 5, nprobe = 2)
      .collect().map(_.toString).toSeq
    val probeN2 = TierCSim.ivfPqSearchPrebuilt(spark, df, dir, 3, nprobe = 2)
      .collect().map(_.toString).toSeq
    assert(probeN2 == inlineN2, "prebuilt nprobe=2 diverged from inline")
  }

  test("IVF-PQ append: frozen-quantizer ingest ≡ full re-encode; duplicate ids refuse") {
    import spark.implicits._
    val dim = 64
    val vecs = for {
      c <- 0 until 5
      mm <- 0 until 4
    } yield {
      val base = Array.tabulate(dim)(i => math.sin(c * 37 + i).toFloat * 10f)
      base(mm % dim) += 0.01f * (mm + 1)
      (c * 10L + mm, base.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val (half1, half2) = (df.filter($"vec_id" % 2 === 0), df.filter($"vec_id" % 2 === 1))
    val dirB = java.nio.file.Files.createTempDirectory("ivfpq_app").toString
    TierCSim.saveIvfPqIndex(spark, half1, dirB, cells = 5)
    TierCSim.appendToIvfPqIndex(spark, half2, dirB)
    assert(spark.read.parquet(s"$dirB/codes").count() == 20)
    // the strong pin: save(all, quantizersFrom=dirB) re-encodes the union
    // against the SAME frozen quantizers — codes and probe must be
    // bit-identical to the incremental construction
    val dirD = java.nio.file.Files.createTempDirectory("ivfpq_full").toString
    TierCSim.saveIvfPqIndex(spark, df, dirD, quantizersFrom = Some(dirB))
    def codesOf(d: String) = spark.read.parquet(s"$d/codes")
      .collect().map(_.toString).sorted.toSeq
    assert(codesOf(dirB) == codesOf(dirD), "append diverged from full re-encode")
    val pB = TierCSim.ivfPqSearchPrebuilt(spark, df, dirB, 3)
      .collect().map(_.toString).toSeq
    val pD = TierCSim.ivfPqSearchPrebuilt(spark, df, dirD, 3)
      .collect().map(_.toString).toSeq
    assert(pB == pD && pB.nonEmpty)
    // keyed index: duplicate vec_ids refuse loudly
    val e = intercept[IllegalArgumentException] {
      TierCSim.appendToIvfPqIndex(spark, half2.limit(1), dirB)
    }
    assert(e.getMessage.contains("already exist"), e.getMessage)
    // delete (the retention half): removed rows counted, absent ids are a
    // no-op, the survivors probe identically to an index never containing
    // the deleted vectors, and a delete→append round-trip restores it
    val dropIds = Seq(1L, 3L, 999L).toDF("vec_id") // 999 absent
    val removed = TierCSim.deleteFromIvfPqIndex(spark, dropIds, dirB)
    assert(removed == 2L, s"removed $removed")
    assert(spark.read.parquet(s"$dirB/codes").count() == 18)
    val dirE = java.nio.file.Files.createTempDirectory("ivfpq_del").toString
    TierCSim.saveIvfPqIndex(spark,
      df.filter(!$"vec_id".isin(1L, 3L)), dirE, quantizersFrom = Some(dirB))
    assert(codesOf(dirB) == codesOf(dirE), "delete diverged from never-present")
    TierCSim.appendToIvfPqIndex(spark, df.filter($"vec_id".isin(1L, 3L)), dirB)
    assert(codesOf(dirB) == codesOf(dirD), "delete→append did not restore the index")
  }

  test("IVF-PQ delete crash-heal: a kill between the two swap renames " +
      "(codes/ absent, codes_old/ intact) self-heals on the next load") {
    import spark.implicits._
    val dim = 64
    val vecs = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(dim)(j => math.sin(i * 13 + j).toFloat * 5f).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_heal").toString
    TierCSim.saveIvfPqIndex(spark, df, dir, cells = 3)
    val before = TierCSim.ivfPqSearchPrebuilt(spark, df, dir, 3)
      .collect().map(_.toString).toSeq
    // simulate the crash window: rename(codes→codes_old) happened, the
    // second rename did not; a stale stage dir is also left behind
    val conf = spark.sparkContext.hadoopConfiguration
    val codes = new org.apache.hadoop.fs.Path(s"$dir/codes")
    val old = new org.apache.hadoop.fs.Path(s"$dir/codes_old")
    val stage = new org.apache.hadoop.fs.Path(s"$dir/codes_stage")
    val fs = codes.getFileSystem(conf)
    assert(fs.rename(codes, old))
    fs.mkdirs(stage)
    assert(!fs.exists(codes))
    // the next probe self-heals (restores codes_old, drops the stage) and
    // answers bit-identically to the pre-crash index
    val healed = TierCSim.ivfPqSearchPrebuilt(spark, df, dir, 3)
      .collect().map(_.toString).toSeq
    assert(healed == before, "healed probe diverged from pre-crash index")
    assert(fs.exists(codes) && !fs.exists(old) && !fs.exists(stage),
      "heal did not restore the canonical layout")
    // re-issuing the interrupted delete completes it normally
    assert(fs.rename(codes, old)) // crash again
    val removed = TierCSim.deleteFromIvfPqIndex(
      spark, Seq(0L, 5L).toDF("vec_id"), dir)
    assert(removed == 2L)
    assert(spark.read.parquet(s"$dir/codes").count() == 10)
  }

  test("ivfTopK nprobe: monotone recall, nprobe=cells equals the exact scan") {
    import spark.implicits._
    val dim = 64
    // 4 tight clusters x 4 members, but MORE cells (8) than clusters:
    // k-center splits clusters into sub-cells, so same-cluster neighbors
    // routinely live across a cell boundary — the case nprobe exists for
    val vecs = for {
      c <- 0 until 4
      mm <- 0 until 4
    } yield {
      val base = Array.tabulate(dim)(i => math.cos(c * 53 + i * 3).toFloat * 8f)
      base((c + mm) % dim) += 0.05f * (mm + 1)
      (c * 10L + mm, base.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    def run(np: Int) = TierCSim.ivfTopK(spark, df, 3, cells = 8, nprobe = np)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val np1 = run(1)
    val np2 = run(2)
    val npAll = run(8)
    // default == explicit nprobe=1
    val npDefault = TierCSim.ivfTopK(spark, df, 3, cells = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(np1.toSeq == npDefault.toSeq, "nprobe=1 changed the default result")
    // recall is monotone in nprobe: per query, the rank-r score can only
    // improve (more candidates -> better-or-equal top-k), and some query
    // must gain rows (8 cells over 16 vectors pigeonholes a cell to <= 2
    // members, starving its queries below k under nprobe=1)
    def scoresByQuery(rs: Array[(Long, Long, Double, Long)]) =
      rs.groupBy(_._1).map { case (q, a) => q -> a.sortBy(_._4).map(_._3) }
    val s1 = scoresByQuery(np1); val s2 = scoresByQuery(np2); val sAll = scoresByQuery(npAll)
    for (q <- sAll.keys) {
      val a = s1.getOrElse(q, Array.empty[Double]); val b = s2.getOrElse(q, Array.empty[Double])
      val c = sAll(q)
      for (r <- c.indices) {
        if (r < a.length) assert(a(r) <= c(r) + 1e-12, s"query $q rank $r: np1 beats npAll")
        if (r < b.length) assert(b(r) <= c(r) + 1e-12, s"query $q rank $r: np2 beats npAll")
        if (r < a.length && r < b.length)
          assert(a(r) <= b(r) + 1e-12, s"query $q rank $r: np1 beats np2")
      }
    }
    assert(np1.length < npAll.length,
      s"nprobe=1 (${np1.length} rows) should starve some query below k vs nprobe=cells (${npAll.length})")
    // nprobe = cells scans every candidate exactly once => brute-force
    // top-3 (replay the engine's left-fold dot/sqrt chain driver-side)
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val byId = vecs.toMap
    val expect = vecs.flatMap { case (qid, qv) =>
      vecs.filter(_._1 != qid)
        .map { case (cid, cv) =>
          (cid, dot(qv, cv) / (math.sqrt(dot(qv, qv)) * math.sqrt(dot(cv, cv)))) }
        .sortBy { case (cid, sc) => (-sc, cid) }
        .take(3).zipWithIndex
        .map { case ((cid, sc), r) => (qid, cid, r + 1L) }
    }.toSet
    assert(npAll.map(t => (t._1, t._2, t._4)).toSet == expect,
      "nprobe=cells diverges from the exact scan")
    assert(byId.size == 16)
  }

  test("annTopK: deterministic, k-bounded, neighbors stay within bucket") {
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, SparkFixture.sfDir)
    val a = TierCSim.annTopK(spark, e, 3).collect().map(_.toString).toSeq
    val b = TierCSim.annTopK(spark, e, 3).collect().map(_.toString).toSeq
    assert(a == b, "ANN output not deterministic")
    val perVec = TierCSim.annTopK(spark, e, 3).collect().groupBy(_.getLong(0))
    perVec.foreach { case (_, rs) => assert(rs.length <= 3) }
  }

  test("annTopK: perfect recall on clustered vectors (same-cluster = same bucket)") {
    import spark.implicits._
    // 5 well-separated clusters of 4 near-identical vectors: every vector's
    // true top-3 are its cluster mates, and LSH must put clones in one
    // bucket (hyperplane signs are continuous in the input).
    val dim = 64
    val vecs = for {
      c <- 0 until 5
      m <- 0 until 4
    } yield {
      val base = Array.tabulate(dim)(i =>
        math.sin(c * 37 + i).toFloat * 10f)
      base(m % dim) += 0.01f * (m + 1)
      (c * 10L + m, base.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val ann = TierCSim.annTopK(spark, df, 3).collect()
    val byVec = ann.groupBy(_.getLong(0))
    assert(byVec.size == 20)
    byVec.foreach { case (id, rs) =>
      val cluster = id / 10
      assert(rs.length == 3, s"vec $id got ${rs.length} neighbors")
      rs.foreach(r => assert(r.getLong(1) / 10 == cluster,
        s"vec $id neighbor ${r.getLong(1)} crossed cluster"))
    }
  }

  test("ivfTopK: deterministic across runs, k-bounded") {
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, SparkFixture.sfDir)
    val a = TierCSim.ivfTopK(spark, e, 3, 8).collect().map(_.toString).toSeq
    val b = TierCSim.ivfTopK(spark, e, 3, 8).collect().map(_.toString).toSeq
    assert(a == b, "IVF output not deterministic")
    TierCSim.ivfTopK(spark, e, 3, 8).collect().groupBy(_.getLong(0))
      .foreach { case (_, rs) => assert(rs.length <= 3) }
  }

  test("pqEncode: partition-invariant codes, real code spread, reconstruction beats zero") {
    import spark.implicits._
    val e = graft.sources.Tables.embeddings(spark, SparkFixture.sfDir)
    val a = TierCSim.pqEncode(spark, e.repartition(1)).orderBy($"vec_id")
      .collect().map(_.toString).toSeq
    val b = TierCSim.pqEncode(spark, e.repartition(13)).orderBy($"vec_id")
      .collect().map(_.toString).toSeq
    assert(a == b, "PQ codes depend on partitioning")
    val coded = TierCSim.pqEncode(spark, e)
    // multiple codes actually used in each subspace
    for (si <- 0 until 4)
      assert(coded.select(countDistinct(col(s"c$si"))).head().getLong(0) > 1, s"c$si collapsed")
    // total squared reconstruction error far below total squared norm
    // (i.e., the codebook explains most of the energy)
    val errSum = coded.agg(sum($"err_ppm")).head().getLong(0).toDouble / 1e6
    val normSum = e.select(TierC.dot($"embedding", $"embedding").as("n2"))
      .agg(sum($"n2")).head().getDouble(0)
    assert(errSum >= 0 && errSum < 0.8 * normSum, s"err=$errSum norm=$normSum")
  }

  test("pqSearch: ADC keeps neighbors in-cluster on planted clusters, deterministically") {
    import spark.implicits._
    val dim = 64
    val vecs = for {
      c <- 0 until 5
      mm <- 0 until 4
    } yield {
      val base = Array.tabulate(dim)(i => math.sin(c * 37 + i).toFloat * 10f)
      base(mm % dim) += 0.01f * (mm + 1)
      (c * 10L + mm, "blk", base.toSeq)
    }
    val df = vecs.toDF("vec_id", "label", "embedding")
    val a = TierCSim.pqSearch(spark, df.repartition(1), 3).collect()
    val b = TierCSim.pqSearch(spark, df.repartition(7), 3).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq, "ADC not partition-invariant")
    val byVec = a.groupBy(_.getLong(0))
    assert(byVec.size == 20)
    byVec.foreach { case (id, rs) =>
      assert(rs.length == 3, s"vec $id got ${rs.length}")
      rs.foreach(r => assert(r.getLong(1) / 10 == id / 10,
        s"vec $id ADC neighbor ${r.getLong(1)} crossed cluster"))
    }
  }

  test("kmeansRefine: SSE non-increasing over iterations, partition-invariant, clusters intact") {
    import spark.implicits._
    val dim = 64
    val vecs = for {
      c <- 0 until 5
      m <- 0 until 8
    } yield {
      val base = Array.tabulate(dim)(i => math.sin(c * 37 + i).toFloat * 10f)
      base(m % dim) += 0.05f * (m + 1) // intra-cluster spread Lloyd can shrink
      (c * 10L + m, base.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val byId = vecs.toMap
    def sse(seeds: Seq[(Seq[Float], Double)], assigned: Array[(Long, Int)]): Double =
      assigned.map { case (id, cell) =>
        val v = byId(id); val s = seeds(cell)._1
        v.zip(s).map { case (a, b) => (a - b) * (a - b) }.sum.toDouble
      }.sum
    def run(iters: Int, parts: Int = 1) = {
      val (seeds, assigned) = TierCSim.kmeansRefine(
        spark, if (parts > 1) df.repartition(parts) else df, cells = 5, iters = iters)
      val a = assigned.collect().map(r => (r.getLong(0), r.getInt(1)))
      graft.CacheRegistry.releaseAll()
      (seeds, a)
    }
    val (s0, a0) = run(0)
    val (s1, a1) = run(1)
    val (s2, a2) = run(2)
    val (s4, a4) = run(4)
    // SSE descends monotonically across the iters knob: 0 ≥ 1 ≥ 2 ≥ 4
    // (1e-6 slack for the integer-quantized per-dim sums)
    val sses = Seq(sse(s0, a0), sse(s1, a1), sse(s2, a2), sse(s4, a4))
    sses.sliding(2).foreach { case Seq(hi, lo) =>
      assert(lo <= hi + 1e-6, s"Lloyd SSE not descending: $sses")
    }
    // members of one planted cluster still land in one cell
    a2.groupBy(_._1 / 10).values.foreach { grp =>
      assert(grp.map(_._2).distinct.length == 1, s"cluster split: ${grp.toSeq}")
    }
    // partition invariance: identical seeds and assignment on 7 partitions
    val (s2b, a2b) = run(2, parts = 7)
    assert(s2b == s2, "refined seeds depend on partitioning")
    assert(a2b.sorted.toSeq == a2.sorted.toSeq)
  }

  test("kmeansRefine: empty cell is reseeded from the sample, not left dead") {
    import spark.implicits._
    val dim = 8
    // axis-aligned INTEGER vectors: every cosine, mean, and 1e-6
    // quantization in the chain is exact, so the ties this test relies
    // on are bit-exact, not float-lucky. ids 0,1 are co-directional
    // (2·e1 and 4·e1 — cosine exactly 1): with cells=4 but only 3
    // distinct directions, k-center is FORCED to take both as seeds;
    // every co-directional vector then tie-breaks to the lower cell and
    // the 4·e1 seed's cell comes up empty on the first assignment.
    def axis(i: Int, mag: Float): Seq[Float] =
      Array.tabulate(dim)(j => if (j == i) mag else 0f).toSeq
    val vecs = Seq(
      (0L, axis(0, 2f)), (1L, axis(0, 4f)),
      (10L, axis(1, 3f)), (20L, axis(2, 5f)))
    val df = vecs.toDF("vec_id", "embedding")
    val (seeds, assigned) = TierCSim.kmeansRefine(spark, df, cells = 4, iters = 1)
    val a = assigned.collect().map(r => (r.getLong(0), r.getInt(1)))
    graft.CacheRegistry.releaseAll()
    // the dead seed (4·e1, cell 3) must have been replaced by a sample
    // vector under the farthest-point rule: every candidate ties at
    // max-cos exactly 1.0 against the live means, so the lowest vec_id
    // (0 → 2·e1) wins — NOT kept as 4·e1 and NOT the populated cell's
    // mean (3·e1)
    assert(seeds.length == 4)
    assert(seeds(3)._1 == axis(0, 2f),
      s"expected reseed to id 0's vector 2*e1, got ${seeds(3)._1}")
    // correctness intact: co-directional pair shares a cell, three
    // populated cells, deterministic assignment
    assert(a.toMap.apply(0L) == a.toMap.apply(1L), s"dup pair split: ${a.toSeq}")
    assert(a.map(_._2).distinct.length == 3, s"expected 3 populated cells: ${a.toSeq}")
  }

  test("ivfTopK: perfect recall on clustered vectors (k-center spreads one seed per cluster)") {
    import spark.implicits._
    val dim = 64
    val vecs = for {
      c <- 0 until 5
      m <- 0 until 4
    } yield {
      val base = Array.tabulate(dim)(i => math.sin(c * 37 + i).toFloat * 10f)
      base(m % dim) += 0.01f * (m + 1)
      (c * 10L + m, base.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val ann = TierCSim.ivfTopK(spark, df, 3, 5).collect()
    val byVec = ann.groupBy(_.getLong(0))
    assert(byVec.size == 20, s"got ${byVec.size} query vectors")
    byVec.foreach { case (id, rs) =>
      assert(rs.length == 3, s"vec $id got ${rs.length} neighbors")
      rs.foreach(r => assert(r.getLong(1) / 10 == id / 10,
        s"vec $id neighbor ${r.getLong(1)} crossed cluster"))
    }
  }

  // ------------------------------------------------- power iteration (c3pi)
  /** Deterministic planted fixture: 40 vectors strongly aligned with axis 7
    * plus small index-derived off-axis noise (no RNG), dim 16. Eigengap is
    * large, so 4 fixed-point steps must align with e7 to cosine > 0.99 —
    * the convergence property the near-isotropic benchmark corpus can't
    * exercise (the oracle covers bit-exactness there instead).
    */
  private def plantedPowerFrame = {
    import spark.implicits._
    val dim = 16
    val rows = (0 until 40).flatMap { i =>
      (0 until dim).map { j =>
        val base = if (j == 7) 900000L else 0L
        // deterministic "noise": small, varies by (i, j), mean-free-ish
        val noise = (((i * 31 + j * 17) % 13) - 6) * 3000L
        (i.toLong, j.toLong, base + noise)
      }
    }
    (rows.toDF("i", "j", "q"), dim)
  }

  test("powerIteration converges on a planted dominant direction in 4 steps") {
    val (e, dim) = plantedPowerFrame
    val v = TierCSim.powerIteration(spark, e, dim, 4)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    val cos = math.abs(v(7).toDouble / norm)
    assert(cos > 0.99, s"cosine to planted axis = $cos, v = ${v.mkString(",")}")
  }

  test("powerIteration is partition-invariant (bit-identical V)") {
    val (e, dim) = plantedPowerFrame
    val v1 = TierCSim.powerIteration(spark, e.repartition(7), dim, 3)
    val v2 = TierCSim.powerIteration(spark, e.repartition(2), dim, 3)
    assert(v1.sameElements(v2), "fixed-point iterate depends on partitioning")
  }

  test("whiten residual is orthogonal to V up to per-coordinate truncation") {
    // invariant behind c3_whiten: r = q − ⌊proj·V/‖V‖²⌋ leaves
    // |Σ r_j·V_j| ≤ Σ|V_j| (each coordinate truncates by < 1 unit)
    val (e, dim) = plantedPowerFrame
    val v = TierCSim.powerIteration(spark, e, dim, 4)
    val scale = v.map(x => x * x).sum
    val vecs = e.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val bound = v.map(math.abs).sum
    vecs.foreach { case (i, q) =>
      val proj = q.indices.map(j => q(j) * v(j)).sum
      val dotR = q.indices.map { j =>
        val pv = BigInt(proj) * v(j)
        val c = (pv.abs / scale).toLong * (if (pv < 0) -1L else 1L)
        (q(j) - c) * v(j)
      }.sum
      assert(math.abs(dotR) <= bound,
        s"vec $i residual·V = $dotR exceeds truncation bound $bound")
    }
  }

  // r17 optimization pin: c2_kcore's early exit (stop peeling at the first
  // EMPTY deg<2 fringe) must produce the hand-computed 2-core — the fixture
  // converges after ONE peel round, so rounds 2..4 run through the skip
  // path and the declared output must be the stabilized core unchanged.
  test("c2_kcore early exit: converged peel equals the hand-computed 2-core") {
    import spark.implicits._
    // chunks align at 8-token boundaries: docs A,B,C share chunk K3
    // (complete triangle); D shares a second chunk with A only (pendant).
    val k3 = (1 to 8).map(i => s"tri$i").mkString(" ")
    val ad = (1 to 8).map(i => s"pend$i").mkString(" ")
    val docs = Seq(
      (1L, "s1", s"$k3 $ad", 0L), // A: chunks [K3, AD]
      (2L, "s1", k3, 0L),         // B: [K3]
      (3L, "s1", k3, 0L),         // C: [K3]
      (4L, "s1", ad, 0L))         // D: [AD] — degree 1, peeled in round 1
      .toDF("doc_id", "source", "text", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("kcore_fix").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.Registry.queries("c2_kcore")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CacheRegistry.releaseAll(); spark.catalog.clearCache()
    assert(out == Set((1L, 2L), (2L, 2L), (3L, 2L)),
      s"2-core mismatch: $out (D must peel, the triangle must survive with degree 2)")
  }
}
