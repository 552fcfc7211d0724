package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Engine-level checks over the declared queries (SURVEY.md §5):
  * every registry entry runs; the oracle-checked subset is additionally
  * hash-verified by the driver (and tools/check.py locally) — here we
  * guard the *determinism* premise and the non-SQL-expressible operators.
  */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.session
  private val sf = SparkFixture.sfDir

  test("registry: every oracle key has a query, names unique") {
    assert(Registry.oracleSql.keySet.subsetOf(Registry.queries.keySet))
    assert(Registry.all.map(_.name).distinct.size == Registry.all.size)
  }

  test("the committed OPERATORS.md is Docs.render (regenerate: runMain graft.Docs)") {
    val committed = java.nio.file.Files.readString(java.nio.file.Paths.get("OPERATORS.md"))
    val rendered = Docs.render
    if (committed != rendered) {
      val (c, r) = committed.linesIterator.zipAll(rendered.linesIterator, "<end>", "<end>")
        .find { case (c, r) => c != r }.getOrElse(("<same lines>", "<same lines>"))
      fail(s"OPERATORS.md is stale: first difference, committed '$c' vs rendered '$r'")
    }
  }

  test("every declared query executes on sf0.001") {
    Registry.all.foreach { q =>
      val n = q.fn(spark, sf).count()
      withClue(q.name) {
        // pair-mining queries are legitimately empty on a corpus with no
        // near-dups at this SF
        val mayBeEmpty = Set("c2_dedup_pairs", "c2_simhash_pairs",
          "c2_ngram_jaccard", "c2_embed_neardup", "c2_adamic_adar")
        assert(n >= 0 && (n > 0 || mayBeEmpty(q.name)))
      }
    }
  }

  test("flagship entry() returns >0 rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("determinism: representative queries identical under different partitioning") {
    val subset = Seq("b11_agg_groupby", "b15_win_rank", "b17_win_frame",
      "b30_session", "c3_knn_cosine", "c5_tfidf", "a11_geom_bbox",
      // range-partition + prefix-offset machinery (c1k) and the salted
      // join (b42) are exactly the shapes where partitioning could leak
      // into results — pin their invariance explicitly
      "c1k_curriculum", "b42_salted_join", "c3_cluster_quality",
      // c1p reuses the same pid-offset machinery with a rank instead of a
      // token sum — same invariance risk class
      "c1p_interleave",
      // a11ah's gaps-and-islands windows order by (y0, y1) with duplicate
      // rows possible — pin that the running max/sum stay permutation-safe
      "a11ah_rect_union",
      // r13 continuation: the CC fast path (a11as), the collected-edge
      // array bucketing (b122), and the sample-driven greedy (c3_coreset)
      // are exactly the shapes where partitioning could leak into results
      "a11as_dbscan", "b122_psi", "c3_coreset")
    val orig = spark.conf.get("spark.sql.shuffle.partitions")
    def run(name: String): Seq[String] =
      Registry.queries(name)(spark, sf).collect().map(_.toString).toSeq
    try {
      subset.foreach { name =>
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        val a = run(name)
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        val b = run(name)
        withClue(name)(assert(a == b))
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", orig)
  }

  test("b13 approx_count_distinct within 5% of exact") {
    import spark.implicits._
    val approx = Registry.queries("b13_agg_hll")(spark, sf)
      .select($"l_returnflag", $"approx_supp").as[(String, Long)].collect().toMap
    val exact = sources.Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag").agg(countDistinct($"l_suppkey").as("n"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n).toDouble / n < 0.05, s"flag=$k approx=${approx(k)} exact=$n")
    }
  }

  test("b13b approx quantiles sit within 1% rank error of the exact percentile") {
    import spark.implicits._
    val approx = Registry.queries("b13b_approx_quantile")(spark, sf)
      .select($"l_returnflag", array($"p50", $"p95").cast("array<double>"))
      .as[(String, Seq[Double])].collect().toMap
    val groups = sources.Tables.lineitem(spark, sf)
      .select($"l_returnflag", $"l_extendedprice".cast("double"))
      .as[(String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((flag, xs) <- groups; (p, i) <- Seq(0.5, 0.95).zipWithIndex) {
      val got = approx(flag)(i)
      val lo = xs(math.max(0, (xs.length * (p - 0.01)).toInt))
      val hi = xs(math.min(xs.length - 1, (xs.length * (p + 0.01)).toInt))
      assert(got >= lo && got <= hi, s"flag=$flag p=$p got=$got not in [$lo,$hi]")
    }
  }

  test("c1f weighted sampling keeps every full-weight document") {
    // Regression: floor(1.0 * 2^32) formats to NINE hex chars, and the
    // 8-char md5 draw compared lexicographically kept only ~1/16 of
    // wt >= 1 rows — invisible to the oracle, which replays the same
    // chain. The wt >= 1 short-circuit must keep them all.
    import spark.implicits._
    // sf0.001 has no >=100-token docs, so plant a synthetic documents table:
    // 64 long docs (wt = 1) with varied text (varied md5 draws) + 8 short.
    val dir = java.nio.file.Files.createTempDirectory("graft-c1f").toString
    val docs = (1 to 64).map { i =>
      (i.toLong, (1 to 120).map(j => s"tok${i}_$j").mkString(" "), "en", "srcL", 0L)
    } ++ (65 to 72).map { i => (i.toLong, s"short text $i", "en", "srcS", 0L) }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Registry.queries("c1f_weighted_sample")(spark, dir)
      .select($"source", $"n_total", $"n_kept").as[(String, Long, Long)].collect()
      .map { case (s, t, k) => s -> ((t, k)) }.toMap
    // every full-weight doc kept — pre-fix the 9-hex-char cutoff kept ~1/16
    assert(out("srcL") == ((64L, 64L)), s"full-weight docs dropped: ${out("srcL")}")
    // short docs keep at ~w chance; with 8 docs at w≈0.03 all-kept is ~1e-12
    val (st, sk) = out("srcS")
    assert(st == 8L && sk < st, s"partial-weight sanity: kept $sk of $st")
  }

  test("b13c count-min never underestimates; total overestimate bounded") {
    import spark.implicits._
    val est = Registry.queries("b13c_countmin")(spark, sf)
      .as[(Long, Long)].collect().toMap
    val exact = sources.Tables.lineitem(spark, sf)
      .select($"l_suppkey".cast("long").as("k")).filter($"k".between(1, 20))
      .groupBy($"k").count().as[(Long, Long)].collect().toMap
    val n = sources.Tables.lineitem(spark, sf).count()
    var totalOver = 0L
    for (k <- 1L to 20L) {
      val ex = exact.getOrElse(k, 0L)
      assert(est(k) >= ex, s"CMS underestimated key $k: ${est(k)} < $ex")
      totalOver += est(k) - ex
    }
    assert(totalOver <= math.max(40L, n / 20),
      s"CMS overestimate $totalOver too large for n=$n")
    // determinism: the sketch is a commutative merge of fixed hashes
    val again = Registry.queries("b13c_countmin")(spark, sf).as[(Long, Long)].collect().toMap
    assert(again == est)
  }

  test("c2 near-dup pipeline finds planted near-duplicates, not unrelated docs") {
    import spark.implicits._
    val base = (1 to 80).map(i => s"word$i").mkString(" ")
    val nearDup = base.replace("word13", "changed") // jaccard ≈ 79/81
    val unrelated = (1 to 80).map(i => s"other$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, unrelated), (3L, base))
      .toDF("doc_id", "text")
    val pairs = operators.TierC.nearDuplicatePairs(spark, docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "near-dup pair missed")
    assert(pairs.contains((0L, 3L)), "exact-dup pair missed")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc flagged")
  }

  test("c3 kNN: neighbors stay within the label block, k<=3, best-first") {
    import spark.implicits._
    val rows = Registry.queries("c3_knn_cosine")(spark, sf).collect()
    val labels = sources.Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (ida, rs) =>
      assert(rs.length <= 3)
      val scores = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(scores.zip(scores.tail).forall { case (x, y) => x >= y }, s"ida=$ida not best-first")
      rs.foreach(r => assert(labels(r.getLong(1)) == labels(ida), "neighbor crossed label block"))
    }
  }
}
