package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{CacheRegistry, QuerySpec}
import graft.functions.TextStats
import graft.sources.Tables

/** Tier C text-analysis operators (north-star `BASELINE.json:6`: "text
  * analysis" for LLM training-data pipelines): quality scoring,
  * language-ID, token counting, content fingerprinting.
  *
  * Scale posture: every query is a single map-side projection over
  * `documents` (no join, no shuffle except the final presentation sort) —
  * the 100 TB shape is "scan, compute per row, write". All token work uses
  * codegen'd higher-order functions; the only UDF is the winnowing
  * fingerprinter (per-row rolling hash, inherently scalar).
  *
  * Determinism: counts are exact integers; ratios are single IEEE double
  * divisions replayed with the identical association in the oracle SQL.
  */
object TierCText {

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ",", "]")

  private val toksCol =
    filter(split(lower(col("text")), " "), t => t =!= "")

  // ------------------------------------------------------- quality score
  private val stopSql = sqlList(TextStats.Stopwords)
  private val c4q = QuerySpec(
    "c4_quality",
    "Per-document quality scoring: char/token counts, mean token length, stopword ratio, blended quality score — the length/stopword heuristics of a training-data quality filter.",
    Some(s"""WITH t AS (SELECT doc_id, text,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents)
            SELECT doc_id,
              CAST(length(text) AS BIGINT) AS n_chars,
              CAST(len(toks) AS BIGINT) AS n_tokens,
              CAST(list_aggregate(list_transform(toks, x -> len(x)), 'sum') AS BIGINT) AS sum_tok_len,
              CAST(len(list_filter(toks, x -> list_contains($stopSql, x))) AS BIGINT) AS stop_hits,
              CAST(len(list_filter(toks, x -> list_contains($stopSql, x))) AS DOUBLE)
                / len(toks) AS stop_ratio,
              0.5 * (CAST(len(list_filter(toks, x -> list_contains($stopSql, x))) AS DOUBLE) / len(toks))
                + 0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS quality
            FROM t ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val stops = TextStats.Stopwords
      val toks = toksCol
      val nTokens = size(toks)
      val stopHits = size(filter(toks, t => t.isInCollection(stops)))
      val stopRatio = stopHits.cast(DoubleType) / nTokens
      Tables.documents(s, d).select($"doc_id",
        length($"text").cast(LongType).as("n_chars"),
        nTokens.cast(LongType).as("n_tokens"),
        aggregate(transform(toks, t => length(t).cast(LongType)), lit(0L), (a, x) => a + x)
          .as("sum_tok_len"),
        stopHits.cast(LongType).as("stop_hits"),
        stopRatio.as("stop_ratio"),
        (lit(0.5) * stopRatio + lit(0.5) * least(nTokens.cast(DoubleType) / 100.0, lit(1.0)))
          .as("quality"))
        .orderBy($"doc_id")
    }
  )

  // ---------------------------------------------------------- language ID
  // Shared between c4_langid (per-doc) and c4_langid_conf (corpus
  // confusion matrix): one definition site for the marker-score columns
  // and the fixed-priority argmax, in both engines' dialects, so the two
  // queries can never disagree on the classifier.
  private def langScoresSql: String =
    TextStats.LangMarkers.map { case (lang, markers) =>
      s"CAST(len(list_filter(toks, x -> list_contains(${sqlList(markers)}, x))) AS BIGINT) AS s_$lang"
    }.mkString(",\n              ")
  private def langCasesSql: String = {
    val langs = TextStats.LangMarkers.map(_._1)
    val cases = langs.dropRight(1).zipWithIndex.map { case (lang, i) =>
      val rest = langs.drop(i + 1).map(o => s"s_$lang >= s_$o").mkString(" AND ")
      s"WHEN $rest THEN '$lang'"
    }.mkString(" ")
    s"CASE $cases ELSE '${langs.last}' END"
  }
  private def langScoreCols: Seq[org.apache.spark.sql.Column] =
    TextStats.LangMarkers.map { case (lang, markers) =>
      size(filter(toksCol, t => t.isInCollection(markers))).cast(LongType).as(s"s_$lang")
    }
  private def langPredCol: org.apache.spark.sql.Column = {
    val langs = TextStats.LangMarkers.map(_._1)
    langs.dropRight(1).zipWithIndex.foldLeft(when(lit(false), "")) {
      case (acc, (lang, i)) =>
        val cond = langs.drop(i + 1)
          .map(o => col(s"s_$lang") >= col(s"s_$o"))
          .reduce(_ && _)
        acc.when(cond, lang)
    }.otherwise(langs.last)
  }
  private val c4l = QuerySpec(
    "c4_langid",
    "Language ID via marker-token voting (n-gram heuristic): per-language marker hit counts, argmax with a fixed priority tiebreak. (The synthetic corpus draws all langs from one vocabulary, so the *labels* aren't recoverable — the query verifies the scoring machinery.)",
    Some {
      s"""WITH t AS (SELECT doc_id, lang,
            list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
            FROM documents),
          s AS (SELECT doc_id, lang,
              $langScoresSql
            FROM t)
          SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
            $langCasesSql AS pred_lang
          FROM s ORDER BY doc_id"""
    },
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(Seq($"doc_id", $"lang") ++ langScoreCols: _*)
        .withColumn("pred_lang", langPredCol)
        .orderBy($"doc_id")
    }
  )

  /** Language-ID confusion matrix — the calibration view a pipeline owner
    * reads before trusting a langid filter at corpus scale: labeled lang ×
    * predicted lang with doc counts and total marker evidence. Same
    * classifier as [[c4l]] by construction (shared score/argmax builders),
    * just re-aggregated; map-side scoring then ONE tiny |langs|² shuffle.
    */
  private val c4lc = QuerySpec(
    "c4_langid_conf",
    "Language-ID confusion matrix: labeled lang × predicted lang (same shared marker-vote classifier as c4_langid), doc counts + summed marker hits; map-side score, one |langs|^2 agg.",
    Some {
      s"""WITH t AS (SELECT doc_id, lang,
            list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
            FROM documents),
          s AS (SELECT doc_id, lang,
              $langScoresSql
            FROM t)
          SELECT lang, $langCasesSql AS pred_lang, COUNT(*) AS n,
            CAST(SUM(s_en + s_de + s_es + s_fr + s_zh) AS BIGINT) AS marker_hits
          FROM s GROUP BY 1, 2 ORDER BY lang, pred_lang"""
    },
    (s, d) => {
      import s.implicits._
      val langs = TextStats.LangMarkers.map(_._1)
      Tables.documents(s, d)
        .select(Seq($"doc_id", $"lang") ++ langScoreCols: _*)
        .withColumn("pred_lang", langPredCol)
        .groupBy($"lang", $"pred_lang")
        .agg(count(lit(1)).as("n"),
          langs.map(l => sum(col(s"s_$l"))).reduce(_ + _).cast(LongType).as("marker_hits"))
        .orderBy($"lang", $"pred_lang")
    }
  )

  // ------------------------------------------------------- token counting
  private val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  private val c4t = QuerySpec(
    "c4_tokcount",
    "Token counting two ways: whitespace tokens and a BPE-ish regex pass (letter runs | digit runs | single other-chars) — the pre-tokenizer shape of byte-pair encoders.",
    Some(s"""SELECT doc_id,
            CAST(len(list_filter(string_split(text, ' '), s -> s <> '')) AS BIGINT) AS ws_tokens,
            CAST(len(regexp_extract_all(lower(text), '$BpePattern')) AS BIGINT) AS bpe_tokens,
            CAST(length(text) AS BIGINT) AS n_chars
            FROM documents ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d).select($"doc_id",
        size(filter(split($"text", " "), t => t =!= "")).cast(LongType).as("ws_tokens"),
        size(regexp_extract_all(lower($"text"), lit(BpePattern), lit(0))).cast(LongType).as("bpe_tokens"),
        length($"text").cast(LongType).as("n_chars"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------------------- content fingerprint
  private val c4f = QuerySpec(
    "c4_fingerprint",
    "Content fingerprint of whitespace-normalized text (MD5) — the exact-dedup key a crawl pipeline stores per document.",
    Some("""WITH t AS (SELECT doc_id,
              array_to_string(list_filter(string_split(lower(text), ' '), s -> s <> ''), ' ') AS norm
              FROM documents)
            SELECT doc_id, md5(norm) AS fp_md5, CAST(length(norm) AS BIGINT) AS norm_len
            FROM t ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val norm = array_join(filter(split(lower($"text"), " "), t => t =!= ""), " ")
      Tables.documents(s, d).select($"doc_id",
        md5(norm).as("fp_md5"), length(norm).cast(LongType).as("norm_len"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------------- winnowing fingerprint set
  private val winnowUdf = udf { (text: String) =>
    TextStats.winnowStats(text)
  }
  /** DuckDB replay of [[TextStats.winnow]] (converts c4_winnow from
    * declared-no-oracle to hash-checked). The "custom hash" objection
    * dissolves on two observations: (1) the Karp-Rabin k-gram hash has a
    * CLOSED FORM — hashes(i) = Σ_j s(i+j)·Base^(k-1-j) mod 2^64 — that the
    * Scala rolling update preserves exactly (Long overflow IS mod-2^64
    * two's complement), so each position is an 8-term chain, no recursion;
    * (2) DuckDB HUGEINT carries the ≤2^67 intermediate sum, one `% 2^64`
    * plus a signed fold-down replays JVM wrap bit-for-bit. Window minima
    * with the rightmost-tie rule = row_number over (hash ASC, i DESC);
    * consecutive-pick dedup = lag(minIdx). Unreplayed arm: the
    * text-shorter-than-k fullHash fallback — unreachable on this corpus
    * (min doc length 48 ≥ k = 8); a regeneration that violates it goes
    * red loudly. ord() = charAt only on BMP text (corpus is ASCII).
    */
  private def c4wOracle: String = {
    val (k, w) = (8, 4)
    val m = BigInt(1) << 64
    val half = BigInt(1) << 63
    val terms = (0 until k).map(j =>
      s"CAST(ord(substr(s, CAST(i + $j AS INTEGER), 1)) AS HUGEINT) * ${BigInt(257).pow(k - 1 - j)}")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, lower(text) AS s, length(text) - ${k - 1} AS n FROM documents),
       |pos AS (SELECT doc_id, s, n, unnest(range(1, n + 1)) AS i FROM d),
       |h AS (SELECT doc_id, n, i,
       |    CAST(CASE WHEN hu >= $half THEN hu - $m ELSE hu END AS BIGINT) AS h
       |  FROM (SELECT doc_id, n, i, ($terms) % $m AS hu FROM pos)),
       |st AS (SELECT doc_id, n, unnest(range(1, greatest(n - $w + 1, 1) + 1)) AS start FROM d),
       |cand AS (SELECT st.doc_id, st.start, h.i, h.h,
       |    row_number() OVER (PARTITION BY st.doc_id, st.start ORDER BY h.h ASC, h.i DESC) AS rn
       |  FROM st JOIN h ON h.doc_id = st.doc_id
       |    AND h.i >= st.start AND h.i < least(st.start + $w, st.n + 1)),
       |mins AS (SELECT doc_id, start, i AS minidx, h FROM cand WHERE rn = 1),
       |picks AS (SELECT doc_id, minidx, h FROM (
       |    SELECT doc_id, start, minidx, h,
       |      lag(minidx) OVER (PARTITION BY doc_id ORDER BY start) AS prev
       |    FROM mins) WHERE prev IS NULL OR minidx <> prev)
       |SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_fp,
       |  MIN(h) AS min_fp, MAX(h) AS max_fp
       |FROM picks GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }
  private val c4w = QuerySpec(
    "c4_winnow",
    "Winnowing rolling-hash fingerprints (MOSS-style k-gram Karp-Rabin + window minima): summary stats per document. Oracle replays the closed-form k-gram hash mod 2^64 via HUGEINT chains plus the rightmost-min/consecutive-dedup winnow in SQL; containment property covered by ScalaTest.",
    Some(c4wOracle),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", winnowUdf(lower($"text")).as("w"))
        .select($"doc_id", $"w._1".as("n_fp"), $"w._2".as("min_fp"), $"w._3".as("max_fp"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------------------- text normalization
  private val c4c = QuerySpec(
    "c4_clean",
    "Text cleaning/normalization (the pre-dedup canonicalization step): lowercase, digit-run masking, whitespace collapse, trim — all codegen'd regexp_replace; oracle uses the same RE2-safe patterns with the 'g' flag.",
    Some("""SELECT doc_id,
            trim(regexp_replace(regexp_replace(lower(text), '[0-9]+', '#', 'g'), ' +', ' ', 'g')) AS clean,
            CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[0-9]+', '#', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS clean_len
            FROM documents ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val clean = trim(regexp_replace(
        regexp_replace(lower($"text"), "[0-9]+", "#"), " +", " "))
      Tables.documents(s, d).select($"doc_id",
        clean.as("clean"), length(clean).cast(LongType).as("clean_len"))
        .orderBy($"doc_id")
    }
  )

  // --------------------------------------- hash-based stratified sampling
  /** Deterministic sampling: RNG-based `sample()` depends on partitioning
    * (not hash-gate-safe, not replay-safe); content-hash sampling keeps a
    * row iff a hex prefix of md5(text) falls under the rate — exact,
    * partition-invariant, and identical on every engine that has md5.
    * This is how a 100 TB pipeline takes a reproducible stratified slice.
    */
  private val c1b = QuerySpec(
    "c1b_sample_hash",
    "Hash-based deterministic sampling (~25% by md5-prefix) with per-language stratum counts.",
    Some("""WITH s AS (SELECT doc_id, lang FROM documents
              WHERE substring(md5(text), 1, 1) IN ('0','1','2','3'))
            SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS first_id
            FROM s GROUP BY lang ORDER BY lang"""),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .filter(substring(md5($"text"), 1, 1).isin("0", "1", "2", "3"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_sampled"), min($"doc_id").as("first_id"))
        .orderBy($"lang")
    }
  )

  // --------------------------------------- fixed-size stratified sample
  /** Fixed-size deterministic per-stratum sample — the "exactly k docs
    * per source" companion to [[c1b]]'s rate sample: rank docs inside
    * each source by (md5(text), doc_id) — a content-derived pseudorandom
    * total order, no RNG — and keep rank ≤ k. Eval-set construction and
    * per-domain inspection samples use this shape.
    *
    * Scale shape: the rank-≤-k filter compiles to WindowGroupLimit
    * (partial per-partition top-k BEFORE the stratum shuffle, final
    * top-k after), so no source ever globally sorts — each task keeps at
    * most k rows per stratum and the exchange moves O(k·|partitions|)
    * rows per source, not the corpus.
    */
  private val TopkPerSource = 10
  private val c1i = QuerySpec(
    "c1i_stratified_topk",
    s"Fixed-size stratified sample: the k=$TopkPerSource smallest-(md5(text), doc_id) docs per source; rank filter compiles to WindowGroupLimit — per-partition partial top-k, no global sort per stratum.",
    Some(s"""WITH r AS (SELECT source, doc_id,
              row_number() OVER (PARTITION BY source
                ORDER BY md5(text), doc_id) AS rn
              FROM documents)
            SELECT source, doc_id, CAST(rn AS BIGINT) AS rn
            FROM r WHERE rn <= $TopkPerSource
            ORDER BY source, rn"""),
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy(md5($"text"), $"doc_id")
      Tables.documents(s, d)
        .select($"source", $"doc_id", row_number().over(w).as("rn"))
        .filter($"rn" <= TopkPerSource)
        .select($"source", $"doc_id", $"rn".cast(LongType).as("rn"))
        .orderBy($"source", $"rn")
    }
  )

  // ---------------------------------------- hashed linear quality scorer
  /** Hashed linear scorer — the INFERENCE shape of a trained fastText-
    * style quality filter at corpus scale: each token instance hashes to
    * one of |weights| buckets (first two md5 hex chars here; a real model
    * ships its own hasher with its weights), the bucket's learned weight
    * comes from a BROADCAST lookup (the weight vector is model-sized,
    * never corpus-sized), and a doc's score is the exact integer sum of
    * its token-instance weights. Callers pass their trained `weights`
    * (bucket, w) frame; the declared query derives a deterministic
    * synthetic table so the oracle can replay it.
    *
    * Scale shape: bucket assignment is map-side codegen (md5 + substr),
    * the weight join is broadcast (never shuffles the corpus), and the
    * per-doc sum partial-aggregates — the corpus streams once with ONE
    * shuffle on doc_id. Exact integers ⇒ no float-sum order issues.
    */
  def hashedLinearScore(s: SparkSession, docs: DataFrame, weights: DataFrame): DataFrame = {
    import s.implicits._
    val scored = docs
      .select($"doc_id", explode(toksCol).as("token"))
      .select($"doc_id", substring(md5($"token"), 1, 2).as("bucket"))
      .join(broadcast(weights), "bucket")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("nt"), sum($"w").as("sc"))
    docs.select($"doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"nt", lit(0L)).as("n_tokens"),
        coalesce($"sc", lit(0L)).as("score"))
      .orderBy($"doc_id")
  }

  private val c4hs = QuerySpec(
    "c4_hashscore",
    "Hashed linear quality scorer (fastText-style inference): token -> md5 2-hex-char bucket -> broadcast weight lookup -> exact integer per-doc score; corpus streams once, one shuffle.",
    Some("""WITH w AS (SELECT printf('%02x', i) AS bucket,
              CAST(i % 37 - 18 AS BIGINT) AS w
              FROM generate_series(0, 255) AS t(i)),
            u AS (SELECT doc_id,
              unnest(list_filter(string_split(lower(text), ' '), s -> s <> '')) AS token
              FROM documents),
            b AS (SELECT doc_id, substr(md5(token), 1, 2) AS bucket FROM u),
            sc AS (SELECT b.doc_id, COUNT(*) AS n_tokens, SUM(w.w) AS score
              FROM b JOIN w USING (bucket) GROUP BY b.doc_id)
            SELECT d.doc_id, CAST(COALESCE(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
              CAST(COALESCE(sc.score, 0) AS BIGINT) AS score
            FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
            ORDER BY d.doc_id"""),
    (s, d) => {
      import s.implicits._
      val weights = (0 until 256)
        .map(i => (f"$i%02x", (i % 37 - 18).toLong)).toDF("bucket", "w")
      hashedLinearScore(s, Tables.documents(s, d), weights)
    }
  )

  // -------------------------------------------- cross-source contamination
  /** Test-set decontamination: doc pairs from DIFFERENT sources sharing at
    * least one word k-gram — the standard pretraining check that an eval
    * set leaked into the training corpus.
    *
    * Scale shape: the same inverted-index discipline as c2_ngram_jaccard —
    * explode per-doc distinct k-grams, equi-join on the gram, block by
    * `source_a < source_b` (orients pairs AND kills same-source matches
    * inside the join), count shared grams per pair. Hot grams are df-capped
    * with logged drops before the join (a gram shared by thousands of docs
    * is boilerplate, not contamination signal — and its pair fan-out is
    * O(df²)).
    *
    * `hotPreFilter` picks the df-cap shape — same trade as
    * [[TierCSim.ngramJaccardPairs]]: default is the one-exchange window
    * (df window partitioning = pair-join partitioning, exchange reused
    * by both sides; but the hottest gram's posting list funnels through
    * one window task pre-cap — window partitions get no partial agg and
    * no AQE skew-split), `true` is the 100 TB shape (partial-agg groupBy
    * finds hot grams with map-side combine, broadcast anti-join drops
    * them pre-exchange, repartition on the gram restores the one-
    * exchange join reuse with every key df-bounded).
    */
  /** The ONE word-k-gram tokenizer shared by the batch contamination
    * sweep and the streaming in-flight filter
    * ([[graft.streaming.FeaturePipeline.decontamStream]]) — single-space
    * split, matching the DuckDB oracle's `string_split(text, ' ')`. A
    * divergent tokenizer (e.g. `\s+`) would make the two stages disagree
    * on any document containing tabs/newlines/double spaces.
    */
  private[graft] def wordGrams(text: String, gramSize: Int): Iterator[String] = {
    val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
    if (toks.length < gramSize) Iterator.empty
    else toks.sliding(gramSize).map(_.mkString(" "))
  }

  def crossSourceContamination(s: SparkSession, docs: DataFrame,
      gramSize: Int, dfCap: Int, hotPreFilter: Boolean = false): DataFrame = {
    import s.implicits._
    val gramsUdf = udf { (text: String) =>
      wordGrams(text, gramSize).toArray.distinct
    }
    val exploded = docs
      .select($"doc_id", $"source", explode(gramsUdf($"text")).as("gram"))
    // shape selection shared with c2_ngram_jaccard — see
    // [[TierCSim.dfCapKept]] for the window-reuse vs skew trade
    val kept = TierCSim.dfCapKept(exploded, Seq("gram"), dfCap, hotPreFilter,
      nHot => s"c4_decontam: dropped $nHot grams with df > $dfCap from the " +
        "contamination join (boilerplate, not leak signal; no-silent-caps)")
    val a = kept.select($"doc_id".as("id_a"), $"source".as("source_a"), $"gram")
    val b = kept.select($"doc_id".as("id_b"), $"source".as("source_b"), $"gram".as("gram_r"))
    a.join(b, $"gram" === $"gram_r" && $"source_a" < $"source_b")
      .groupBy($"id_a", $"id_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy($"id_a", $"id_b")
  }

  /** [[crossSourceContamination]] with the df-cap shape auto-selected by
    * [[TierCSim.hotProbe]] (max key df vs the cap) — callers needn't
    * know whether their corpus's boilerplate head exceeds the cap.
    */
  def crossSourceContaminationAuto(s: SparkSession, docs: DataFrame,
      gramSize: Int, dfCap: Int): DataFrame = {
    import s.implicits._
    val gramsUdf = udf { (text: String) =>
      wordGrams(text, gramSize).toArray.distinct
    }
    val exploded = docs
      .select($"doc_id", $"source", explode(gramsUdf($"text")).as("gram"))
    crossSourceContamination(s, docs, gramSize, dfCap,
      hotPreFilter = TierCSim.hotProbe(exploded, Seq("gram"), dfCap))
  }

  // ------------------------------------------------------- repetition ratio
  /** Repetition detection — the rep-ngram family of pretraining quality
    * filters: a doc whose bigrams are mostly copies of each other (low
    * distinct/total ratio) is boilerplate/spam. Reported as exact integers
    * (total and distinct bigram counts) so the oracle check is bit-exact;
    * the ratio itself is one division away for the caller. Map-side only.
    */
  private val repUdf = udf { (text: String) =>
    val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
    if (toks.length < 2) (0L, 0L)
    else {
      val grams = toks.sliding(2).map(g => g(0) + " " + g(1)).toArray
      (grams.length.toLong, grams.distinct.length.toLong)
    }
  }

  private val c4r = QuerySpec(
    "c4_repetition",
    "Repetition quality signal: total vs distinct word-bigram counts per doc (rep-2gram filter shape); exact integers, map-side only.",
    Some("""WITH t AS (SELECT doc_id,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            g AS (SELECT doc_id,
              CASE WHEN len(toks) < 2 THEN [] ELSE
                list_transform(generate_series(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1]) END AS grams
              FROM t)
            SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
              CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct
            FROM g ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", repUdf($"text").as("r"))
        .select($"doc_id", $"r._1".as("n_grams"), $"r._2".as("n_distinct"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------------------ top-n-gram coverage
  /** Gopher-style top-n-gram coverage: the multiplicity of a document's
    * MOST FREQUENT word n-gram for n ∈ {2,3,4}. A page whose single
    * hottest bigram covers a large token fraction (top2_cnt·2 / n_tokens)
    * is template/boilerplate even when its distinct/total ratio
    * ([[c4r]] `c4_repetition`) looks healthy — the two signals catch
    * different shapes (one hot phrase vs. globally low diversity).
    * Exact integers, map-side only (one UDF pass, counts folded per doc
    * before anything is emitted — nothing corpus-wide, no shuffle).
    */
  private[graft] val topGramUdf = udf { (text: String) =>
    val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
    def top(n: Int): Long =
      if (toks.length < n) 0L
      else {
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        toks.sliding(n).foreach { g =>
          val k = g.mkString(" ")
          m.update(k, m.getOrElse(k, 0L) + 1L)
        }
        m.valuesIterator.max
      }
    (toks.length.toLong, top(2), top(3), top(4))
  }

  private def topGramSql(n: Int): String = {
    val concat = (0 until n).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
      .mkString(" || ' ' || ")
    s"""(SELECT doc_id, MAX(c) AS top FROM (
          SELECT doc_id, gram, COUNT(*) AS c FROM (
            SELECT doc_id, unnest(list_transform(
              generate_series(1, len(toks) - ${n - 1}), i -> $concat)) AS gram
            FROM t WHERE len(toks) >= $n) u
          GROUP BY doc_id, gram) gc
        GROUP BY doc_id)"""
  }

  private val c4tg = QuerySpec(
    "c4_topgram",
    "Top-n-gram coverage quality signal: per doc the multiplicity of its most frequent word 2/3/4-gram plus token count (Gopher boilerplate rule); exact integers, map-side only.",
    Some(s"""WITH t AS (SELECT doc_id,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            m2 AS ${topGramSql(2)},
            m3 AS ${topGramSql(3)},
            m4 AS ${topGramSql(4)}
            SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
              CAST(COALESCE(m2.top, 0) AS BIGINT) AS top2_cnt,
              CAST(COALESCE(m3.top, 0) AS BIGINT) AS top3_cnt,
              CAST(COALESCE(m4.top, 0) AS BIGINT) AS top4_cnt
            FROM t LEFT JOIN m2 USING (doc_id) LEFT JOIN m3 USING (doc_id)
              LEFT JOIN m4 USING (doc_id)
            ORDER BY t.doc_id"""),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", topGramUdf($"text").as("g"))
        .select($"doc_id", $"g._1".as("n_tokens"), $"g._2".as("top2_cnt"),
          $"g._3".as("top3_cnt"), $"g._4".as("top4_cnt"))
        .orderBy($"doc_id")
    }
  )

  // -------------------------------------- duplicate-n-gram instance share
  /** Duplicate-trigram instance share — the third member of the
    * within-doc repetition family: [[c4r]] measures global diversity
    * (distinct/total), [[c4tg]] catches ONE hot phrase, and this one
    * measures how much of the doc sits in ANY repeated trigram (the
    * Gopher "fraction of n-gram instances in duplicated n-grams" rule) —
    * a page of many different repeated fragments trips this while passing
    * both others. Exact integers, one single-pass UDF (count trigrams in
    * a hash map, fold totals per doc), map-side only — nothing
    * corpus-wide, no shuffle.
    */
  private[graft] val dupGramUdf = udf { (text: String) =>
    val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
    if (toks.length < 3) (0L, 0L)
    else {
      val counts = new java.util.HashMap[String, Long]()
      toks.sliding(3).foreach { g =>
        counts.merge(g(0) + " " + g(1) + " " + g(2), 1L, (a, b) => a + b)
      }
      var total = 0L
      var dup = 0L
      counts.values.forEach { c => total += c; if (c >= 2) dup += c }
      (total, dup)
    }
  }

  private val c4dg = QuerySpec(
    "c4_dupgram",
    "Duplicate-trigram share: per doc the total trigram instances and how many belong to a trigram occurring >=2 times in that doc (Gopher dup-n-gram rule); exact integers, map-side only.",
    Some("""WITH t AS (SELECT doc_id,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            g AS (SELECT doc_id,
              CASE WHEN len(toks) < 3 THEN [] ELSE
                list_transform(generate_series(1, len(toks) - 2),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS grams
              FROM t),
            u AS (SELECT doc_id, unnest(grams) AS gram FROM g),
            c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM u GROUP BY doc_id, gram),
            a AS (SELECT doc_id, SUM(cnt) AS n_grams,
              SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS n_dup
              FROM c GROUP BY doc_id)
            SELECT d.doc_id, CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
              CAST(COALESCE(a.n_dup, 0) AS BIGINT) AS n_dup
            FROM documents d LEFT JOIN a ON a.doc_id = d.doc_id
            ORDER BY d.doc_id"""),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", dupGramUdf($"text").as("g"))
        .select($"doc_id", $"g._1".as("n_grams"), $"g._2".as("n_dup"))
        .orderBy($"doc_id")
    }
  )

  private val c4d = QuerySpec(
    "c4_decontam",
    "Cross-source contamination: doc pairs from different sources sharing a word 5-gram, with shared-gram count; inverted-index join, df-capped (logged drops).",
    Some("""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            g AS (SELECT doc_id, source,
              unnest(list_distinct(list_transform(generate_series(1, len(toks) - 4),
                i -> list_aggregate(toks[i:i+4], 'string_agg', ' ')))) AS gram
              FROM t WHERE len(toks) >= 5)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
            FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
            GROUP BY 1, 2 ORDER BY id_a, id_b"""),
    (s, d) => crossSourceContamination(s, Tables.documents(s, d), 5, 10000)
  )

  // --------------------------------------------- canonical-doc exact dedup
  /** The keep-best variant of C1 a crawl pipeline actually runs: group by
    * content fingerprint, keep ONE canonical document per group (longest
    * normalized text, ties to the lowest doc_id), count the rest as shed
    * duplicates. Shape: ONE hash aggregate — `max_by` over the unique
    * ordering key (norm_len, -doc_id) partial-aggregates map-side, so no
    * window, no per-group sort, no full-group materialization (the
    * window formulation stacked a count window over the rank window,
    * which also blocked the WindowGroupLimit rewrite — audited). The
    * unique ordering key is what makes max_by deterministic: ties in
    * norm_len break on -doc_id, never on encounter order.
    */
  private val c1c = QuerySpec(
    "c1c_dedup_keep_best",
    "Exact dedup with canonical-document selection: per content fingerprint keep the longest-normalized doc (ties to lowest doc_id), report group size — the keep-best rule of a crawl dedup stage.",
    Some("""WITH t AS (SELECT doc_id,
              array_to_string(list_filter(string_split(lower(text), ' '), s -> s <> ''), ' ') AS norm
              FROM documents),
            f AS (SELECT doc_id, md5(norm) AS fp_md5, CAST(length(norm) AS BIGINT) AS norm_len FROM t),
            r AS (SELECT fp_md5, doc_id, norm_len,
              row_number() OVER (PARTITION BY fp_md5 ORDER BY norm_len DESC, doc_id) AS rn,
              COUNT(*) OVER (PARTITION BY fp_md5) AS group_n
              FROM f)
            SELECT fp_md5, doc_id AS kept_doc_id, norm_len, group_n
            FROM r WHERE rn = 1 ORDER BY fp_md5"""),
    (s, d) => {
      import s.implicits._
      val norm = array_join(filter(split(lower($"text"), " "), t => t =!= ""), " ")
      val f = Tables.documents(s, d).select($"doc_id",
        md5(norm).as("fp_md5"), length(norm).cast(LongType).as("norm_len"))
      f.groupBy($"fp_md5")
        .agg(
          max_by(struct($"doc_id", $"norm_len"),
            struct($"norm_len", (-$"doc_id").as("neg_id"))).as("best"),
          count(lit(1)).as("group_n"))
        .select($"fp_md5", $"best.doc_id".as("kept_doc_id"),
          $"best.norm_len".as("norm_len"), $"group_n")
        .orderBy($"fp_md5")
    }
  )

  // ------------------------------------------------ repeated-sentence stats
  /** Boilerplate detection at sentence granularity: explode on '. ',
    * count totals vs distincts per source. Map-side explode + one
    * hash-agg shuffle on source — the same shape at 100 TB (sentences
    * fan out ~20× but stay narrow strings).
    */
  private val c4s = QuerySpec(
    "c4_sentdedup",
    "Per-source repeated-sentence statistics: total vs distinct sentence counts and the max single-sentence multiplicity — the intra-corpus boilerplate signal of a training-data pipeline.",
    Some("""WITH s AS (SELECT source, unnest(list_filter(
              string_split(lower(text), '. '), x -> x <> '')) AS sent
              FROM documents),
            c AS (SELECT source, sent, COUNT(*) AS n FROM s GROUP BY 1, 2)
            SELECT source, CAST(SUM(n) AS BIGINT) AS n_sentences,
              COUNT(*) AS n_distinct, CAST(MAX(n) AS BIGINT) AS max_mult
            FROM c GROUP BY source ORDER BY source"""),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"source", explode(filter(split(lower($"text"), "\\. "), x => x =!= "")).as("sent"))
        .groupBy($"source", $"sent").agg(count(lit(1)).as("n"))
        .groupBy($"source").agg(sum($"n").cast(LongType).as("n_sentences"),
          count(lit(1)).as("n_distinct"), max($"n").cast(LongType).as("max_mult"))
        .orderBy($"source")
    }
  )

  // -------------------------------------------- leakage-safe hash split
  /** Deterministic train/val/test assignment by CONTENT-FINGERPRINT
    * group, not by document: exact duplicates share a fingerprint, so
    * they can never straddle the train/eval boundary (the classic
    * dedup-leakage bug). The split key is the fingerprint's first hex
    * character — 12/2/2 of 16 ⇒ 75%/12.5%/12.5% expected — which both
    * engines compute identically from md5, no numeric parsing needed.
    * Map-side assignment + one agg shuffle; the same expression assigns
    * identically on any cluster size or replay.
    */
  private val c1d = QuerySpec(
    "c1d_hash_split",
    "Leakage-safe train/val/test split: md5-fingerprint groups assigned by first hex char (75/12.5/12.5 expected), so exact duplicates never straddle splits; per-split doc/group/token totals.",
    Some("""WITH t AS (SELECT doc_id,
              array_to_string(list_filter(string_split(lower(text), ' '), s -> s <> ''), ' ') AS norm
              FROM documents),
            f AS (SELECT doc_id, md5(norm) AS fp,
              CAST(len(list_filter(string_split(norm, ' '), s -> s <> '')) AS BIGINT) AS toks
              FROM t),
            a AS (SELECT doc_id, fp, toks,
              CASE WHEN substr(fp, 1, 1) BETWEEN '0' AND 'b' THEN 'train'
                   WHEN substr(fp, 1, 1) IN ('c', 'd') THEN 'val'
                   ELSE 'test' END AS split
              FROM f)
            SELECT split, COUNT(*) AS n_docs,
              COUNT(DISTINCT fp) AS n_groups,
              CAST(SUM(toks) AS BIGINT) AS n_tokens
            FROM a GROUP BY split ORDER BY split"""),
    (s, d) => {
      import s.implicits._
      val norm = array_join(filter(split(lower($"text"), " "), t => t =!= ""), " ")
      val f = Tables.documents(s, d).select($"doc_id", md5(norm).as("fp"),
        size(filter(split(norm, " "), t => t =!= "")).cast(LongType).as("toks"))
      val c1 = substring($"fp", 1, 1)
      f.withColumn("split",
          when(c1.between("0", "b"), "train")
            .when(c1.isin("c", "d"), "val")
            .otherwise("test"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"), countDistinct($"fp").as("n_groups"),
          sum($"toks").cast(LongType).as("n_tokens"))
        .orderBy($"split")
    }
  )

  // --------------------------------------------------- vocabulary top-k
  /** Corpus vocabulary head: top 100 tokens by document frequency (ties
    * to lexicographic token). Explode → two hash aggs (distinct per doc,
    * then df) → TakeOrdered top-k: partial aggregation and per-partition
    * top-k both apply, so the full vocabulary never sits on one node —
    * the shape that builds a tokenizer vocab at 100 TB.
    */
  private val c4v = QuerySpec(
    "c4_vocab",
    "Vocabulary head: top-100 tokens by document frequency (ties lexicographic) with total occurrence counts — the df/tf table a tokenizer build starts from.",
    Some("""WITH tok AS (SELECT doc_id, unnest(list_filter(
              string_split(lower(text), ' '), t -> t <> '')) AS token
              FROM documents),
            per AS (SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2)
            SELECT token, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf
            FROM per GROUP BY token
            ORDER BY df DESC, token LIMIT 100"""),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", explode(filter(split(lower($"text"), " "), t => t =!= "")).as("token"))
        .groupBy($"token", $"doc_id").agg(count(lit(1)).as("tf"))
        .groupBy($"token").agg(count(lit(1)).as("df"), sum($"tf").cast(LongType).as("total_tf"))
        .orderBy($"df".desc, $"token")
        .limit(100)
    }
  )

  // ------------------------------------------------ length-outlier filter
  /** Per-source length outliers by z-score over EXACT integer sums: both
    * engines compute mean and variance from the same integer
    * (sum, sum-of-squares, n) triple with the identical double chain, so
    * even the boolean comparison is bit-replayable — no slack needed
    * (the a11g chain-replay pattern applied to statistics).
    */
  private val c4o = QuerySpec(
    "c4_outlier",
    "Per-source document-length outliers: |z| > 2 on char length, computed from exact integer sums with an identical IEEE chain in both engines.",
    Some("""WITH l AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len
              FROM documents),
            st AS (SELECT source, CAST(SUM(len) AS BIGINT) AS s1,
              CAST(SUM(len*len) AS BIGINT) AS s2, COUNT(*) AS n
              FROM l GROUP BY source)
            SELECT l.doc_id, l.source, l.len,
              (CAST(l.len AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) AS z,
              abs((CAST(l.len AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))) > 2 AS is_outlier
            FROM l JOIN st ON l.source = st.source
            ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val l = Tables.documents(s, d)
        .select($"doc_id", $"source", length($"text").cast(LongType).as("len"))
      val st = l.groupBy($"source").agg(
        sum($"len").cast(LongType).as("s1"),
        sum($"len" * $"len").cast(LongType).as("s2"),
        count(lit(1)).as("n"))
      val z = ($"len".cast(DoubleType) - $"s1".cast(DoubleType) / $"n".cast(DoubleType)) /
        sqrt(($"s2".cast(DoubleType) - $"s1".cast(DoubleType) * $"s1".cast(DoubleType) / $"n".cast(DoubleType)) /
          ($"n" - 1).cast(DoubleType))
      l.join(broadcast(st), "source")
        .select($"doc_id", $"source", $"len", z.as("z"), (abs(z) > 2).as("is_outlier"))
        .orderBy($"doc_id")
    }
  )

  // --------------------------------------- end-to-end prep pipeline demo
  /** The composed "prepare training data" flow a reference user actually
    * runs, as ONE declared query: quality gate → exact dedup keep-best →
    * leakage-safe split → per-split token budget. Every stage reuses an
    * individually-oracled formula, so the composition stays bit-exact:
    * the quality boolean compares identical IEEE chains, dedup uses the
    * unique-key max_by, the split is pure string comparison. Shape:
    * map-side scoring, one agg shuffle for dedup, one for the rollup.
    */
  private val c4p = QuerySpec(
    "c4_pipeline",
    "End-to-end prep pipeline: quality >= 0.35 gate, fingerprint keep-best dedup, hash split, per-split doc/token totals — the composed flow whose stages are each oracle-checked alone.",
    Some(s"""WITH t AS (SELECT doc_id, text,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            q AS (SELECT doc_id, toks, array_to_string(toks, ' ') AS norm,
              0.5 * (CAST(len(list_filter(toks, x -> list_contains($stopSql, x))) AS DOUBLE) / len(toks))
                + 0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS quality
              FROM t WHERE len(toks) > 0),
            f AS (SELECT doc_id, md5(norm) AS fp,
              CAST(len(toks) AS BIGINT) AS ntok,
              CAST(length(norm) AS BIGINT) AS norm_len
              FROM q WHERE quality >= 0.35),
            k AS (SELECT fp, doc_id, ntok,
              row_number() OVER (PARTITION BY fp ORDER BY norm_len DESC, doc_id) AS rn
              FROM f)
            SELECT CASE WHEN substr(fp, 1, 1) BETWEEN '0' AND 'b' THEN 'train'
                        WHEN substr(fp, 1, 1) IN ('c', 'd') THEN 'val'
                        ELSE 'test' END AS split,
              COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens
            FROM k WHERE rn = 1 GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      import s.implicits._
      val stops = TextStats.Stopwords
      val withToks = Tables.documents(s, d)
        .select($"doc_id", toksCol.as("toks"))
        .filter(size($"toks") > 0)
      val stopRatio =
        size(filter($"toks", t => t.isInCollection(stops))).cast(DoubleType) / size($"toks")
      val scored = withToks.select($"doc_id", $"toks",
        array_join($"toks", " ").as("norm"),
        (lit(0.5) * stopRatio +
          lit(0.5) * least(size($"toks").cast(DoubleType) / 100.0, lit(1.0))).as("quality"))
      val kept = scored.filter($"quality" >= 0.35)
        .select($"doc_id", md5($"norm").as("fp"),
          size($"toks").cast(LongType).as("ntok"),
          length($"norm").cast(LongType).as("norm_len"))
        .groupBy($"fp")
        .agg(max_by($"ntok", struct($"norm_len", (-$"doc_id").as("neg_id"))).as("ntok"))
      val c1 = substring($"fp", 1, 1)
      kept.withColumn("split",
          when(c1.between("0", "b"), "train")
            .when(c1.isin("c", "d"), "val")
            .otherwise("test"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"), sum($"ntok").cast(LongType).as("n_tokens"))
        .orderBy($"split")
    }
  )

  // ------------------------------------------ Bloom incremental dedup (c1e)
  /** New-vs-store dedup with a Bloom pre-filter (functions/Bloom.scala).
    *
    * Semantics: rows of `incoming` whose `fp` does not occur in `store` —
    * i.e. exactly `incoming ANTI-JOIN store ON fp`. The Bloom filter only
    * *reroutes* work: definite rejects skip the join entirely; the exact
    * verification join runs only on Bloom-positive survivors. Because Bloom
    * has no false negatives, the union of both paths is bit-identical to the
    * plain anti-join — which keeps the declared query oracle-checkable.
    *
    * Scale posture: the filter is sized from the store's exact count
    * (16 bits/key, k=11 ⇒ FPR ≈ 0.05% — corpus-adaptive like the ANN
    * fanouts, deterministic in N), built by one map-side-combined aggregate,
    * and reaches probes via a broadcast single-row cross join. At 100 TB the
    * survivors (true dups + ~0.05% FP) are small enough to broadcast back
    * against a fingerprint-bucketed store, so the verification join never
    * shuffles the store.
    */
  def bloomIncrement(store: DataFrame, incoming: DataFrame, fpCol: String): DataFrame = {
    import store.sparkSession.implicits._
    val n = store.count()
    // One filter is a single Long-word array, so it tops out at ~2^31 bits
    // (~134M keys at 16 bits/key). Past the cap the pre-filter degrades
    // gracefully (higher FPR ⇒ more rows take the exact-join path; output
    // stays exact either way) — Long math throughout so the size can never
    // wrap negative or truncate. Stores that must keep the 0.05% FPR above
    // the cap should shard the filter by a fingerprint prefix.
    val MaxBits = (Int.MaxValue.toLong / 64) * 64
    val mBits = math.min(MaxBits, math.max(1024L, ((16L * math.max(n, 1L) + 63) / 64) * 64)).toInt
    val k = 11
    val bits = store.agg(graft.functions.Bloom.bloomAgg(mBits, k)(col(fpCol)).as("__bits"))
    val probed = incoming
      .crossJoin(broadcast(bits)) // single-row filter, broadcast once
      .withColumn("__maybe",
        graft.functions.Bloom.bloomContains(mBits, k)($"__bits", col(fpCol)))
      .drop("__bits")
    val rejected = probed.filter(!$"__maybe").drop("__maybe")
    val survivors = probed.filter($"__maybe").drop("__maybe")
      .join(store.select(col(fpCol)), Seq(fpCol), "left_anti")
    rejected.unionByName(survivors)
  }

  private val c1e = QuerySpec(
    "c1e_bloom_dedup",
    "Incremental dedup against an existing store (source src0) via a corpus-sized Bloom pre-filter + exact verification join; output is exactly the fingerprint anti-join, so it oracles.",
    Some("""WITH t AS (SELECT doc_id, source,
              md5(array_to_string(list_filter(string_split(lower(text), ' '), s -> s <> ''), ' ')) AS fp
              FROM documents)
            SELECT i.doc_id, i.source, i.fp
            FROM t i
            WHERE i.source <> 'src0'
              AND NOT EXISTS (SELECT 1 FROM t s WHERE s.source = 'src0' AND s.fp = i.fp)
            ORDER BY i.doc_id"""),
    (s, d) => {
      import s.implicits._
      val norm = array_join(filter(split(lower($"text"), " "), t => t =!= ""), " ")
      val f = Tables.documents(s, d)
        .select($"doc_id", $"source", md5(norm).as("fp"))
      val store = f.filter($"source" === "src0").select($"fp")
      val incoming = f.filter($"source" =!= "src0")
      bloomIncrement(store, incoming, "fp")
        .select($"doc_id", $"source", $"fp")
        .orderBy($"doc_id")
    }
  )

  // ----------------------------------------------------- chunking (c4_chunk)
  /** Fixed-size overlapping character windows (size 200, stride 150) — the
    * context-window chunking step before embedding/training. Map-side:
    * `sequence` + `explode` + `substr` are all codegen'd builtins, no
    * shuffle except the presentation sort; at 100 TB this is scan → explode
    * → write with output size bounded by ~len/stride per doc.
    */
  private val c4h = QuerySpec(
    "c4_chunk",
    "Overlapping char-window chunking (size 200, stride 150): one row per (doc, chunk) with the chunk text and its length; chunk starts replayed via generate_series in the oracle.",
    Some("""WITH c AS (
              SELECT doc_id, g.i AS chunk_idx,
                substr(text, CAST(g.i*150+1 AS BIGINT), 200) AS chunk
              FROM documents, LATERAL (SELECT unnest(generate_series(0,
                CAST(greatest(length(text)-1, 0)//150 AS BIGINT))) AS i) g)
            SELECT doc_id, chunk_idx, chunk,
              CAST(length(chunk) AS BIGINT) AS chunk_len
            FROM c ORDER BY doc_id, chunk_idx"""),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", $"text",
          sequence(lit(0L), expr("CAST(greatest(length(text)-1, 0) div 150 AS BIGINT)"))
            .as("starts"))
        .select($"doc_id", explode($"starts").as("chunk_idx"), $"text")
        .select($"doc_id", $"chunk_idx",
          $"text".substr(($"chunk_idx" * 150 + 1).cast(IntegerType), lit(200)).as("chunk"))
        .withColumn("chunk_len", length($"chunk").cast(LongType))
        .orderBy($"doc_id", $"chunk_idx")
    }
  )

  // ------------------------------------------- context-window packing (c4_bins)
  /** FIFO token packing into 256-token context windows, independently per
    * source. A bin closes once its running token total reaches the budget:
    * bin = floor(exclusive-prefix-sum / budget) over doc_id order. Packing
    * is inherently sequential, so the scale shape is per-partition
    * sequentiality — the window partitions by `source` (at 100 TB: by
    * source × shard), never a single global ordering.
    */
  private val c4b = QuerySpec(
    "c4_bins",
    "Per-source FIFO context-window packing at a 256-token budget: bin id from the exclusive prefix sum of token counts, per-bin doc/token totals and doc-id span.",
    Some("""WITH t AS (SELECT source, doc_id,
              CAST(len(list_filter(string_split(lower(text), ' '), s -> s <> '')) AS BIGINT) AS ntok
              FROM documents),
            w AS (SELECT source, doc_id, ntok,
              CAST(SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - ntok AS prefix
              FROM t)
            SELECT source, CAST(prefix // 256 AS BIGINT) AS bin, COUNT(*) AS n_docs,
              CAST(SUM(ntok) AS BIGINT) AS n_tokens,
              MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
            FROM w GROUP BY source, bin ORDER BY source, bin"""),
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      Tables.documents(s, d)
        .select($"source", $"doc_id", size(toksCol).cast(LongType).as("ntok"))
        .withColumn("prefix", sum($"ntok").over(w) - $"ntok")
        .withColumn("bin", expr("prefix div 256"))
        .groupBy($"source", $"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"ntok").cast(LongType).as("n_tokens"),
          min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
        .orderBy($"source", $"bin")
    }
  )

  // --------------------------------------- weighted sampling (c1f)
  /** Deterministic importance sampling: keep a row with probability equal
    * to its weight, with NO RNG — the first 8 md5 hex chars are a uniform
    * 32-bit draw, kept iff below the weight's hex cutoff
    * (`printf("%08x", floor(w·2^32))`). Full-weight rows (wt >= 1) are
    * short-circuited to kept: floor(1.0·2^32) = 2^32 formats to NINE hex
    * chars, and the lexicographic compare against an 8-char draw would
    * silently keep only ~1/16 of rows whose documented keep probability is
    * 1 (both engines replay the same chain, so the oracle alone could
    * never catch it). Map-side, partition-invariant, replayable on any
    * engine with md5 — the same discipline as `c1b_sample_hash` but with
    * a per-row rate; the shape a quality-weighted corpus resample uses at
    * 100 TB.
    */
  private val c1f = QuerySpec(
    "c1f_weighted_sample",
    "Deterministic weighted sampling: keep probability = min(ntok/100, 1) via wt >= 1 OR md5-prefix < hex(floor(w*2^32)); per-source kept/total and kept-token stats.",
    Some("""WITH t AS (SELECT doc_id, source,
              CAST(len(list_filter(string_split(lower(text), ' '), s -> s <> '')) AS BIGINT) AS ntok,
              substr(md5(text), 1, 8) AS draw
              FROM documents),
            w AS (SELECT *, least(CAST(ntok AS DOUBLE) / 100.0, 1.0) AS wt FROM t),
            k AS (SELECT *, (wt >= 1.0 OR draw < printf('%08x', CAST(floor(wt*4294967296.0) AS BIGINT))) AS kept FROM w)
            SELECT source, COUNT(*) AS n_total,
              COUNT(CASE WHEN kept THEN 1 END) AS n_kept,
              CAST(SUM(CASE WHEN kept THEN ntok END) AS BIGINT) AS kept_tokens
            FROM k GROUP BY source ORDER BY source"""),
    (s, d) => {
      import s.implicits._
      val ntok = size(toksCol).cast(LongType)
      val wt = least(ntok.cast(DoubleType) / 100.0, lit(1.0))
      val cutoff = format_string("%08x", floor(wt * 4294967296.0).cast(LongType))
      val kept = (wt >= 1.0) || (substring(md5($"text"), 1, 8) < cutoff)
      Tables.documents(s, d)
        .select($"source", ntok.as("ntok"), kept.as("kept"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_total"),
          count(when($"kept", 1)).as("n_kept"),
          sum(when($"kept", $"ntok")).cast(LongType).as("kept_tokens"))
        .orderBy($"source")
    }
  )

  // --------------------------------------- source-mix resampling (c1g)
  /** Deterministic source reweighting — the data-mixing step a pretraining
    * pipeline runs to hit target domain proportions (the DoReMi/"data
    * mixture" shape): per-source acceptance rate `r_s = w_s·T / n_s` with
    * `T = min_s(n_s / w_s)` (the largest total for which every source can
    * meet its share), drawn per row by the c1f md5-prefix uniform — no
    * RNG, partition-invariant, replayable. Weights derive from the source
    * NAME (index % 4 + 1) so the query is fixture-scale-free; a real
    * pipeline passes its mixture map the same way.
    *
    * Scale shape: one tiny per-source count agg (|sources| rows) cross-
    * joined as a broadcast scalar, a broadcast rate join, then a map-side
    * filter — the corpus streams through once; nothing corpus-sized
    * shuffles. The binding source's rate lands within one IEEE ulp of
    * 1.0, so the c1f full-weight guard (`rate >= 1.0 OR draw < cutoff`)
    * is replayed on both engines.
    */
  private val c1g = QuerySpec(
    "c1g_source_mix",
    "Deterministic source-mix resampling to target weights (source-name-derived, index%4+1): rate = w*T/n with T = min(n/w), md5-prefix draw; per-source totals, kept counts, kept-id range.",
    Some("""WITH t AS (SELECT doc_id, source,
              substr(md5(text), 1, 8) AS draw
              FROM documents),
            n AS (SELECT source,
              CAST(CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS DOUBLE) AS w,
              COUNT(*) AS n_s
              FROM t GROUP BY source),
            m AS (SELECT MIN(CAST(n_s AS DOUBLE) / w) AS tmax FROM n),
            r AS (SELECT source, w * tmax / CAST(n_s AS DOUBLE) AS rate
                  FROM n CROSS JOIN m),
            k AS (SELECT t.doc_id, t.source,
                (rate >= 1.0 OR draw < printf('%08x', CAST(floor(rate*4294967296.0) AS BIGINT))) AS kept
              FROM t JOIN r ON t.source = r.source)
            SELECT source, COUNT(*) AS n_total,
              COUNT(CASE WHEN kept THEN 1 END) AS n_kept,
              MIN(CASE WHEN kept THEN doc_id END) AS first_kept,
              MAX(CASE WHEN kept THEN doc_id END) AS last_kept
            FROM k GROUP BY source ORDER BY source"""),
    (s, d) => sourceMixResample(s, Tables.documents(s, d))
  )

  // ----------------------------------- temperature resampling (c1l)
  /** Temperature-scaled source mixing — the multilingual/mixture rule
    * (`p_s ∝ n_s^α`, the mT5-style sampler) that UPWEIGHTS small sources
    * instead of taking fixed target weights like [[c1g]]: with α = 1/2
    * the weight is `sqrt(n_s)`, so a 100× bigger source is sampled only
    * 10× as often. α is pinned to 1/2 specifically because `sqrt` is
    * IEEE-correctly-rounded on BOTH engines while libm `pow` is not —
    * general α would need quantized weights. Everything downstream
    * (rate = w·T/n_s with T = min(n_s/w), md5-prefix draw, broadcast
    * rate join, map-side filter) is [[sourceMixResample]]'s audited
    * machinery with the weight expression swapped.
    */
  private val c1l = QuerySpec(
    "c1l_temperature_mix",
    "Temperature-scaled source resampling (p_s ~ n_s^(1/2), the multilingual upweighting rule): rate = sqrt(n_s)*T/n_s with T = min(n_s/sqrt(n_s)), md5-prefix draw; per-source totals, kept counts, kept-id range.",
    Some("""WITH t AS (SELECT doc_id, source,
              substr(md5(text), 1, 8) AS draw
              FROM documents),
            n AS (SELECT source, sqrt(CAST(COUNT(*) AS DOUBLE)) AS w, COUNT(*) AS n_s
              FROM t GROUP BY source),
            m AS (SELECT MIN(CAST(n_s AS DOUBLE) / w) AS tmax FROM n),
            r AS (SELECT source, w * tmax / CAST(n_s AS DOUBLE) AS rate
                  FROM n CROSS JOIN m),
            k AS (SELECT t.doc_id, t.source,
                (rate >= 1.0 OR draw < printf('%08x', CAST(floor(rate*4294967296.0) AS BIGINT))) AS kept
              FROM t JOIN r ON t.source = r.source)
            SELECT source, COUNT(*) AS n_total,
              COUNT(CASE WHEN kept THEN 1 END) AS n_kept,
              MIN(CASE WHEN kept THEN doc_id END) AS first_kept,
              MAX(CASE WHEN kept THEN doc_id END) AS last_kept
            FROM k GROUP BY source ORDER BY source"""),
    (s, d) => temperatureMixResample(s, Tables.documents(s, d), alphaQuarters = 2)
  )

  /** Temperature-mix machinery shared by the α knob (VERDICT r10 #8):
    * p_s ∝ n_s^(alphaQuarters/4) for alphaQuarters ∈ {1, 2, 3} — the
    * practical α range (0.25 flattens hardest, 0.75 stays closest to
    * natural proportions). General libm `pow` is NOT correctly rounded
    * (engines could disagree in the last ulp, breaking the rate >= 1.0
    * boundary replay), but `sqrt` and `*` both ARE, so each supported α
    * is a composed chain of exactly-rounded ops identical on both
    * engines: n^(1/4) = sqrt(sqrt(n)), n^(1/2) = sqrt(n),
    * n^(3/4) = sqrt(n)·sqrt(sqrt(n)). Downstream is [[sourceMixResample]]'s
    * audited shape: tiny count agg → broadcast scalar → broadcast rate
    * join → map-side filter; the corpus streams through once.
    */
  def temperatureMixResample(s: SparkSession, docs: DataFrame,
      alphaQuarters: Int): DataFrame = {
    require(alphaQuarters >= 1 && alphaQuarters <= 3,
      s"alphaQuarters must be 1..3 (α = k/4, sqrt-composable); got $alphaQuarters")
    temperatureMixResampleDyadic(s, docs, num = alphaQuarters, log2Den = 2)
  }

  /** GENERAL-α temperature mixing (VERDICT r12 missing #5): α as any
    * dyadic rational k/2^m in (0, 1). The replay argument, extended from
    * the quarters family: libm `pow` is not correctly rounded (engines
    * could disagree in the last ulp, breaking the rate ≥ 1.0 boundary),
    * but IEEE `sqrt` and `*` both are — so n^(k/2^m) is composed as the
    * product of j-fold-sqrt chains, one per set bit of k
    * (n^(5/8) = sqrt(n) · sqrt(sqrt(sqrt(n)))), multiplied highest
    * exponent first. Every intermediate is the identical double on both
    * engines, so the composed weight replays bit-for-bit even where it
    * differs from true n^α by a few ulps (determinism, not last-ulp
    * accuracy, is the contract — the α knob is a sampling temperature,
    * not a measurement). Any practical α is within 1/64 of a k/2^6
    * dyadic, far inside the knob's meaningful resolution. Downstream is
    * [[sourceMixResample]]'s audited shape unchanged: tiny count agg →
    * broadcast scalar → broadcast rate join → map-side filter; the corpus
    * streams through once — one scan, no corpus shuffle, 100 TB-safe.
    */
  def temperatureMixResampleDyadic(s: SparkSession, docs: DataFrame,
      num: Int, log2Den: Int): DataFrame = {
    import s.implicits._
    require(log2Den >= 1 && log2Den <= 6,
      s"log2Den must be 1..6 (α = k/2^m at practical resolution); got $log2Den")
    require(num >= 1 && num < (1 << log2Den),
      s"num must give α = num/2^$log2Den in (0, 1); got $num")
    val t = docs.select($"doc_id", $"source", substring(md5($"text"), 1, 8).as("draw"))
    // n^(k/2^m) = Π over set bits i of k of the (m−i)-fold sqrt chain,
    // multiplied highest-exponent-first — mirrored verbatim by
    // [[dyadicWeightSql]] so oracle and engine compose the same doubles
    def weight(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      def chain(depth: Int): org.apache.spark.sql.Column =
        (1 to depth).foldLeft(c)((acc, _) => sqrt(acc))
      val terms = (log2Den - 1 to 0 by -1)
        .filter(i => (num & (1 << i)) != 0)
        .map(i => chain(log2Den - i))
      terms.reduceLeft(_ * _)
    }
    val n = docs.groupBy($"source").agg(count(lit(1)).as("n_s"))
      .select($"source", weight($"n_s".cast(DoubleType)).as("w"), $"n_s")
    val tmax = n.agg(min($"n_s".cast(DoubleType) / $"w").as("tmax"))
    val rates = n.crossJoin(broadcast(tmax))
      .select($"source", ($"w" * $"tmax" / $"n_s".cast(DoubleType)).as("rate"))
    t.join(broadcast(rates), "source")
      .select($"doc_id", $"source",
        ($"rate" >= 1.0 ||
          $"draw" < format_string("%08x", floor($"rate" * 4294967296.0).cast(LongType))).as("kept"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_total"),
        count(when($"kept", 1)).as("n_kept"),
        min(when($"kept", $"doc_id")).as("first_kept"),
        max(when($"kept", $"doc_id")).as("last_kept"))
      .orderBy($"source")
  }

  /** c1l's oracle with the weight chain swapped per α (same CTE skeleton). */
  private def tempMixOracle(wSql: String): String =
    s"""WITH t AS (SELECT doc_id, source,
              substr(md5(text), 1, 8) AS draw
              FROM documents),
            n AS (SELECT source, $wSql AS w, COUNT(*) AS n_s
              FROM t GROUP BY source),
            m AS (SELECT MIN(CAST(n_s AS DOUBLE) / w) AS tmax FROM n),
            r AS (SELECT source, w * tmax / CAST(n_s AS DOUBLE) AS rate
                  FROM n CROSS JOIN m),
            k AS (SELECT t.doc_id, t.source,
                (rate >= 1.0 OR draw < printf('%08x', CAST(floor(rate*4294967296.0) AS BIGINT))) AS kept
              FROM t JOIN r ON t.source = r.source)
            SELECT source, COUNT(*) AS n_total,
              COUNT(CASE WHEN kept THEN 1 END) AS n_kept,
              MIN(CASE WHEN kept THEN doc_id END) AS first_kept,
              MAX(CASE WHEN kept THEN doc_id END) AS last_kept
            FROM k GROUP BY source ORDER BY source"""

  private val c1m = QuerySpec(
    "c1m_temperature_mix_a25",
    "Temperature-scaled source resampling at α = 1/4 (p_s ~ n_s^(1/4) = sqrt(sqrt(n)) — the hardest-flattening end of the practical α range); same audited machinery as c1l with the weight chain swapped.",
    Some(tempMixOracle("sqrt(sqrt(CAST(COUNT(*) AS DOUBLE)))")),
    (s, d) => temperatureMixResample(s, Tables.documents(s, d), alphaQuarters = 1)
  )

  private val c1n = QuerySpec(
    "c1n_temperature_mix_a75",
    "Temperature-scaled source resampling at α = 3/4 (p_s ~ n_s^(3/4) = sqrt(n)·sqrt(sqrt(n)) — closest to natural proportions); same audited machinery as c1l with the weight chain swapped.",
    Some(tempMixOracle(
      "sqrt(CAST(COUNT(*) AS DOUBLE)) * sqrt(sqrt(CAST(COUNT(*) AS DOUBLE)))")),
    (s, d) => temperatureMixResample(s, Tables.documents(s, d), alphaQuarters = 3)
  )

  /** The SQL twin of [[temperatureMixResampleDyadic]]'s weight chain:
    * the same set-bit decomposition rendered as nested sqrt() calls,
    * highest exponent first — generated from (num, log2Den) so the two
    * sides cannot drift.
    */
  private[operators] def dyadicWeightSql(num: Int, log2Den: Int): String = {
    def chain(depth: Int): String =
      (1 to depth).foldLeft("CAST(COUNT(*) AS DOUBLE)")((acc, _) => s"sqrt($acc)")
    (log2Den - 1 to 0 by -1)
      .filter(i => (num & (1 << i)) != 0)
      .map(i => chain(log2Den - i))
      .mkString(" * ")
  }

  private val c1v = QuerySpec(
    "c1v_temperature_mix_dyadic",
    "Temperature-scaled source resampling at GENERAL dyadic α = 5/8 (p_s ~ n_s^(5/8) = sqrt(n)·sqrt(sqrt(sqrt(n))) — any k/2^m composes from exactly-rounded sqrt chains, closing the α knob beyond {1/4, 1/2, 3/4}); same audited machinery as c1l with the generated weight chain.",
    Some(tempMixOracle(dyadicWeightSql(num = 5, log2Den = 3))),
    (s, d) => temperatureMixResampleDyadic(s, Tables.documents(s, d), num = 5, log2Den = 3)
  )

  /** The c1g body on any (doc_id, source, text) frame — source weight =
    * (source-name index % 4) + 1, see [[c1g]]'s design note.
    */
  def sourceMixResample(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val t = docs.select($"doc_id", $"source", substring(md5($"text"), 1, 8).as("draw"))
    val n = docs.groupBy($"source").agg(count(lit(1)).as("n_s"))
      .select($"source",
        ((substring($"source", 4, 100).cast(LongType) % 4) + 1).cast(DoubleType).as("w"),
        $"n_s")
    val tmax = n.agg(min($"n_s".cast(DoubleType) / $"w").as("tmax"))
    val rates = n.crossJoin(broadcast(tmax))
      .select($"source", ($"w" * $"tmax" / $"n_s".cast(DoubleType)).as("rate"))
    t.join(broadcast(rates), "source")
      .select($"doc_id", $"source",
        ($"rate" >= 1.0 ||
          $"draw" < format_string("%08x", floor($"rate" * 4294967296.0).cast(LongType))).as("kept"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_total"),
        count(when($"kept", 1)).as("n_kept"),
        min(when($"kept", $"doc_id")).as("first_kept"),
        max(when($"kept", $"doc_id")).as("last_kept"))
      .orderBy($"source")
  }

  // --------------------------------- per-doc contamination fraction (c4y)
  /** Per-document contamination score: the fraction of a document's
    * distinct word 5-grams that also occur in ANY other source — the
    * per-doc triage view of [[crossSourceContamination]] (which emits
    * pairs). A gram is contaminated iff its distinct-source count > 1,
    * computed as a collect_set(source) window over the gram partition:
    * ONE shuffle, linear in the posting list, NO pair fan-out, hence no
    * df-cap needed — a boilerplate gram shared by thousands of documents
    * costs O(df), not O(df²). Skew bound: a window partition gets no
    * partial aggregation, so the Zipf-head gram's whole posting list
    * buffers in one task — but the per-row state (the collected set) is
    * capped by |sources|, so that task is O(max-df) rows of small state,
    * not O(max-df²) work; acceptable where the pair operators need the
    * hot-gram pre-filter.
    */
  def contaminationFraction(s: SparkSession, docs: DataFrame,
      gramSize: Int): DataFrame = {
    import s.implicits._
    val gramsUdf = udf { (text: String) =>
      wordGrams(text, gramSize).toArray.distinct
    }
    // per-gram distinct-source count as a window over the gram partition:
    // ONE shuffle, no agg+join pair; the collected set is bounded by the
    // number of SOURCES (not docs), so the Zipf-head gram costs O(df)
    // rows and a tiny set
    val gWin = org.apache.spark.sql.expressions.Window.partitionBy($"gram")
    docs
      .select($"doc_id", $"source", explode(gramsUdf($"text")).as("gram"))
      .withColumn("ns", size(collect_set($"source").over(gWin)))
      .select($"doc_id", when($"ns" > 1, 1).otherwise(0).as("c"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"), sum($"c").cast(LongType).as("n_contam"))
      .select($"doc_id", $"n_grams", $"n_contam",
        floor(lit(1000000.0) * $"n_contam" / $"n_grams").cast(LongType).as("contam_ppm"))
      .orderBy($"doc_id")
  }

  private val c4y = QuerySpec(
    "c4_contam_frac",
    "Per-doc contamination fraction: share of distinct word 5-grams also present in another source (collect_set(source) window over the gram partition — ONE shuffle, linear, no pair fan-out, no caps); ppm at exact IEEE floor.",
    Some("""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            g AS (SELECT doc_id, source,
              unnest(list_distinct(list_transform(generate_series(1, len(toks) - 4),
                i -> list_aggregate(toks[i:i+4], 'string_agg', ' ')))) AS gram
              FROM t WHERE len(toks) >= 5),
            gs AS (SELECT gram, COUNT(DISTINCT source) AS ns FROM g GROUP BY gram),
            j AS (SELECT g.doc_id, CASE WHEN gs.ns > 1 THEN 1 ELSE 0 END AS c
                  FROM g JOIN gs ON g.gram = gs.gram)
            SELECT doc_id, COUNT(*) AS n_grams, CAST(SUM(c) AS BIGINT) AS n_contam,
              CAST(floor(1000000.0 * SUM(c) / COUNT(*)) AS BIGINT) AS contam_ppm
            FROM j GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => contaminationFraction(s, Tables.documents(s, d), 5)
  )

  // ----------------------------- exact-substring dedup spans (c4ss)
  /** Exact-substring duplicate spans — the ExactSubstr shape of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499): any k-token run that occurs more than once in
    * the corpus marks its span for removal; overlapping spans merge, and
    * the per-doc removable-token count is the span-union length. The
    * published pipeline builds a suffix array; the Spark-native shape is
    * a k-token shingle explode → global count > 1 → join back → the
    * gaps-and-islands union (running-max window) — every step a shuffle
    * on a well-distributed key, all integer arithmetic (exact oracle).
    *
    * Scale: the shingle explode is ~ntok rows (one per start position).
    * [[exactSubstrSpans]] takes `hashKey`: the oracle row keeps the raw
    * ~50-char shingle string as the key so DuckDB can replay the
    * grouping byte-for-byte; `hashKey = true` is the 100 TB shape —
    * xxhash64 of the shingle computed map-side BEFORE the exchange, so
    * both shuffles (the count and the join back) move an 8-byte long
    * instead of the string (~6× less exchange payload; collision odds
    * ~n²/2⁶⁴ ≈ 1e-7 at 1e6 shingles — a collision can only mark an
    * extra span, never lose one). SimSpec sweeps hash-vs-raw equality.
    */
  private val SubstrK = 8
  private val c4ss = QuerySpec(
    "c4_substr_dedup",
    "Exact-substring dedup spans (ExactSubstr, k=8 tokens): shingles occurring >1x corpus-wide mark spans, overlapping spans merge via a running-max island window; per-doc removable-token counts, exact integers.",
    Some(s"""WITH t AS (SELECT doc_id,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            st AS (SELECT doc_id, toks,
                unnest(generate_series(1, len(toks) - ${SubstrK - 1})) AS start
              FROM t WHERE len(toks) >= $SubstrK),
            sh AS (SELECT doc_id, start,
                list_aggregate(toks[start:start+${SubstrK - 1}], 'string_agg', ' ') AS shingle
              FROM st),
            dup AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > 1),
            ds AS (SELECT sh.doc_id, sh.start FROM sh JOIN dup ON sh.shingle = dup.shingle),
            isl AS (SELECT doc_id, start,
                MAX(start + $SubstrK) OVER (PARTITION BY doc_id ORDER BY start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
              FROM ds),
            cov AS (SELECT doc_id,
                GREATEST(0, (start + $SubstrK) - GREATEST(start, COALESCE(prev_end, 0))) AS c
              FROM isl),
            n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS ntok FROM t)
            SELECT n.doc_id, n.ntok,
              CAST(COALESCE(SUM(c), 0) AS BIGINT) AS dup_tokens,
              CAST(floor(1000000.0 * COALESCE(SUM(c), 0) / NULLIF(n.ntok, 0)) AS BIGINT) AS dup_ppm
            FROM n LEFT JOIN cov ON n.doc_id = cov.doc_id
            GROUP BY n.doc_id, n.ntok ORDER BY n.doc_id"""),
    (s, d) => exactSubstrSpans(s, Tables.documents(s, d), SubstrK)
  )

  /** The c4_substr_dedup body on any (doc_id, text) frame.
    * `hashKey = false` shuffles the raw shingle string (oracle-replayable);
    * `hashKey = true` shuffles xxhash64(shingle) — the scale path.
    */
  def exactSubstrSpans(s: SparkSession, docs: DataFrame, k: Int,
      hashKey: Boolean = false): DataFrame = {
    import s.implicits._
    val shingleUdf = udf { (toks: Seq[String]) =>
      if (toks.length < k) Array.empty[(Int, String)]
      else toks.sliding(k).zipWithIndex
        .map { case (g, i) => (i + 1, g.mkString(" ")) }.toArray
    }
    val base = CacheRegistry.persist(docs.select($"doc_id", toksCol.as("toks")))
    // the key column is hashed map-side, pre-exchange: everything
    // downstream (cache, count shuffle, join shuffle) carries 8 bytes
    val keyCol = if (hashKey) xxhash64($"s._2") else $"s._2"
    val sh = CacheRegistry.persist(base
      .select($"doc_id", explode(shingleUdf($"toks")).as("s"))
      .select($"doc_id", $"s._1".as("start"), keyCol.as("shingle")))
    val dup = sh.groupBy($"shingle").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" > 1).select($"shingle".as("dup_shingle"))
    val ds = sh.join(dup, $"shingle" === $"dup_shingle").select($"doc_id", $"start")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"start")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cov = ds
      .withColumn("prev_end", max($"start" + k).over(w))
      .select($"doc_id",
        greatest(lit(0), ($"start" + k) - greatest($"start", coalesce($"prev_end", lit(0)))).as("c"))
      .groupBy($"doc_id").agg(sum($"c").as("sc"))
    base.select($"doc_id", size($"toks").cast(LongType).as("ntok"))
      .join(cov, Seq("doc_id"), "left")
      .select($"doc_id", $"ntok",
        coalesce($"sc", lit(0L)).cast(LongType).as("dup_tokens"),
        // an all-whitespace doc tokenizes to ntok = 0: 0.0/0 is NaN in
        // Spark but an error in the oracle's CAST — both sides NULL it
        when($"ntok" > 0,
          floor(lit(1000000.0) * coalesce($"sc", lit(0L)) / $"ntok").cast(LongType))
          .as("dup_ppm"))
      .orderBy($"doc_id")
  }

  // -------------------------------- unigram cross-entropy quality (c4u)
  /** Unigram LM cross-entropy per document — the perplexity-proxy quality
    * filter (the CCNet-style shape: score each doc by how surprising its
    * tokens are under a corpus LM; here the LM is the corpus's own
    * unigram distribution, so boilerplate scores low and rare-token noise
    * scores high). Float ln-sums across rows are partition-order-
    * dependent, so each token INSTANCE contributes an integer
    * `floor(ln(cnt/total)·1e6)` and the per-doc sum is exact integer
    * arithmetic — order-independent, bit-replayable (the c5 discipline).
    *
    * Scale shape: one token explosion feeding (a) the corpus unigram
    * count agg and (b) the per-doc join back on the token — the same
    * inverted-index posting-list discipline as TF-IDF; nothing is
    * corpus² anywhere. The Zipf head ("the") makes the token join's
    * build side skewed, but each probe row matches exactly one vocab row,
    * so AQE's skew-join split handles it without semantic change
    * (ScaleSpec audits the no-BNLJ/AQE degradation path).
    */
  // ------------------------------------------ char entropy (c4_entropy)
  /** Character-entropy gibberish detector — the quality-filter member the
    * repetition/compression signals don't give: random byte soup scores
    * HIGH entropy, single-char spam scores near zero, natural text sits
    * in a narrow band (the C4/Gopher symbol-heuristic family). Map-side
    * scalar UDF over the lowered text; at 100 TB this is scan → count →
    * write, no shuffle beyond the presentation sort. Exactness: per-char
    * floor(p·ln p·1e9) integer terms ([[TextStats.charEntropyE9]]) — the
    * oracle rebuilds the same integers from a per-char GROUP BY and the
    * integer sum is order-free on both engines.
    */
  private val entropyUdf = udf { (text: String) =>
    TextStats.charEntropyE9(if (text == null) "" else text)
  }
  private val c4en = QuerySpec(
    "c4_entropy",
    "Character-entropy quality signal: per-doc char count, distinct-char count, and integer-quantized Shannon entropy (1e-9 nats) over lowered text — gibberish scores high, spam near zero.",
    // len = 0 guard: an empty doc emits (0, 0, 0) from the engine, but the
    // cnt/len arithmetic below would NaN — so empty docs take the UNION arm
    // instead of the GROUP BY arm (unreachable on the current corpus, min
    // doc length 48, but a regenerated corpus must mismatch, not abort).
    Some("""WITH c AS (SELECT doc_id, unnest(string_split(lower(text), '')) AS ch,
              length(lower(text)) AS len FROM documents WHERE length(text) > 0),
            k AS (SELECT doc_id, ch, len, COUNT(*) AS cnt FROM c GROUP BY doc_id, ch, len),
            t AS (SELECT doc_id, len,
              CAST(floor((CAST(cnt AS DOUBLE) / CAST(len AS DOUBLE))
                * ln(CAST(cnt AS DOUBLE) / CAST(len AS DOUBLE)) * 1000000000.0) AS BIGINT) AS q
              FROM k),
            nz AS (SELECT doc_id, CAST(len AS BIGINT) AS n_chars,
              COUNT(*) AS n_distinct_chars, CAST(-SUM(q) AS BIGINT) AS ent_e9
              FROM t GROUP BY doc_id, len)
            SELECT * FROM nz
            UNION ALL
            SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
              FROM documents WHERE length(text) = 0
            ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", entropyUdf(lower($"text")).as("e"))
        .select($"doc_id", $"e._1".as("n_chars"),
          $"e._2".as("n_distinct_chars"), $"e._3".as("ent_e9"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------------- fuzzy title join (c2_fuzzy)
  /** Fuzzy-string record linkage — the entity-resolution primitive the
    * near-dup family doesn't cover: two records whose TITLES differ by a
    * few character edits (typos, reformatting) match even when their
    * token sets diverge enough to sink Jaccard. Classic blocked
    * edit-distance join: block on the title's first TWO tokens —
    * measured 30× candidate cut (417k → 14k pairs at sf0.1) for a 2%
    * recall loss vs one-token blocking, the standard linkage trade; the
    * Zipf-head block stays the skew caveat, AQE splits it — then refine
    * with exact `levenshtein ≤ k`. Both engines
    * implement the identical classic integer edit distance, so the match
    * set AND the distances replay exactly — no float anywhere.
    *
    * Scale shape: one map-side title/block projection, one equi-join on
    * the block key, O(len²) refine only on blocked candidates. Real
    * linkage stacks more blocking keys (soundex, length buckets); the
    * single-key form is the plan shape that matters.
    */
  private val FuzzyMaxEdits = 3
  private val c2fz = QuerySpec(
    "c2_fuzzy_join",
    s"Blocked fuzzy-title join (entity resolution): titles = first 5 tokens, block on the first two tokens, length prune, exact levenshtein <= $FuzzyMaxEdits refine; pair list with integer edit distances.",
    Some(s"""WITH t AS (SELECT doc_id, array_to_string(
              list_filter(string_split(lower(text), ' '), s -> s <> '')[1:5], ' ') AS title
              FROM documents),
            b AS (SELECT doc_id, title,
              array_to_string(string_split(title, ' ')[1:2], ' ') AS blk FROM t)
            SELECT a.doc_id AS id_a, c.doc_id AS id_b,
              CAST(levenshtein(a.title, c.title) AS BIGINT) AS edits
            FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
              AND abs(length(a.title) - length(c.title)) <= $FuzzyMaxEdits
            WHERE levenshtein(a.title, c.title) <= $FuzzyMaxEdits
            ORDER BY id_a, id_b"""),
    (s, d) => {
      import s.implicits._
      val t = Tables.documents(s, d)
        .select($"doc_id", concat_ws(" ", slice(toksCol, 1, 5)).as("title"))
      val b = CacheRegistry.persist(
        t.withColumn("blk", concat_ws(" ", slice(split($"title", " "), 1, 2))))
      val a = b.select($"doc_id".as("id_a"), $"title".as("title_a"), $"blk")
      val c = b.select($"doc_id".as("id_b"), $"title".as("title_b"), $"blk".as("blk_r"))
      // |len diff| > k implies lev > k: the O(1) reject runs BEFORE the
      // O(len²) DP — measured 5.9 s → the cheap-prune price on blocks a
      // Zipf-head first token makes fat
      a.join(c, $"blk" === $"blk_r" && $"id_a" < $"id_b" &&
          abs(length($"title_a") - length($"title_b")) <= FuzzyMaxEdits)
        .withColumn("edits", levenshtein($"title_a", $"title_b").cast(LongType))
        .filter($"edits" <= FuzzyMaxEdits)
        .select($"id_a", $"id_b", $"edits")
        .orderBy($"id_a", $"id_b")
    }
  )

  // ---------------------------- per-source distribution drift (c4_kl_drift)
  /** Per-source unigram KL divergence against the whole corpus — the
    * data-mixture drift monitor a pipeline watches as new crawls land:
    * KL(P_source ‖ P_corpus) spikes when a source's token distribution
    * shifts away from the blend the model was tuned on. Complements
    * [[c4u]]: that scores each DOCUMENT under one corpus LM; this scores
    * each SOURCE's distribution as a whole.
    *
    * Exactness: float Σ over thousands of tokens is partition-order-
    * dependent, so each distinct token contributes an INTEGER
    * `floor(term · 1e9)` where term = (c_st/t_s)·ln((c_st·N)/(t_s·c_t))
    * — the identical IEEE chain on both engines (c4u's discipline one
    * level up); the per-source sum is then exact. KL ≥ 0 up to per-term
    * floor error; the quantized value is bit-replayable either way.
    *
    * Scale shape: one token explosion feeding (a) per-(source, token)
    * counts, (b) per-source totals (|sources| rows, broadcast), (c)
    * corpus token counts — (a) joins (c) on the token (posting-list
    * equi-join, AQE splits the Zipf head), then ONE |sources|-row agg.
    */
  private val c4kl = QuerySpec(
    "c4_kl_drift",
    "Per-source unigram KL divergence vs the corpus blend (mixture drift monitor): per-token integer-quantized (p_s*ln(p_s/p_corpus))*1e9 contributions, exact per-source sums; posting-list join, one small agg.",
    Some("""WITH t AS (SELECT source, unnest(list_filter(string_split(lower(text), ' '), s -> s <> '')) AS token
              FROM documents),
            st AS (SELECT source, token, COUNT(*) AS cst FROM t GROUP BY source, token),
            ts AS (SELECT source, COUNT(*) AS tot_s FROM t GROUP BY source),
            ct AS (SELECT token, COUNT(*) AS c FROM t GROUP BY token),
            n AS (SELECT COUNT(*) AS total FROM t),
            terms AS (SELECT st.source,
                CAST(floor((CAST(st.cst AS DOUBLE) / CAST(ts.tot_s AS DOUBLE))
                  * ln((CAST(st.cst AS DOUBLE) * CAST(n.total AS DOUBLE))
                       / (CAST(ts.tot_s AS DOUBLE) * CAST(ct.c AS DOUBLE))) * 1000000000.0) AS BIGINT) AS q
              FROM st JOIN ts ON ts.source = st.source
              JOIN ct ON ct.token = st.token CROSS JOIN n)
            SELECT source, COUNT(*) AS n_distinct,
              CAST(SUM(q) AS BIGINT) AS kl_e9
            FROM terms GROUP BY source ORDER BY source"""),
    (s, d) => {
      import s.implicits._
      val t = CacheRegistry.persist(Tables.documents(s, d)
        .select($"source", explode(toksCol).as("token")))
      val st = t.groupBy($"source", $"token").agg(count(lit(1)).as("cst"))
      val ts = t.groupBy($"source").agg(count(lit(1)).as("tot_s"))
      val ct = t.groupBy($"token").agg(count(lit(1)).as("c"))
      val n = t.agg(count(lit(1)).as("total"))
      st.join(broadcast(ts), Seq("source"))
        .join(ct, Seq("token"))
        .crossJoin(broadcast(n))
        .select($"source",
          floor(($"cst".cast(DoubleType) / $"tot_s".cast(DoubleType))
            * log(($"cst".cast(DoubleType) * $"total".cast(DoubleType))
              / ($"tot_s".cast(DoubleType) * $"c".cast(DoubleType))) * 1000000000.0)
            .cast(LongType).as("q"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_distinct"), sum($"q").cast(LongType).as("kl_e9"))
        .orderBy($"source")
    }
  )

  private val c4u = QuerySpec(
    "c4_unigram_ce",
    "Unigram cross-entropy quality proxy: per-token-instance floor(ln(corpus_p)*1e6) integer contributions, exact per-doc sums, mean CE at a second exact floor; posting-list join, no caps needed.",
    Some("""WITH t AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), s -> s <> '')) AS token
              FROM documents),
            f AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
            n AS (SELECT COUNT(*) AS total FROM t),
            j AS (SELECT t.doc_id,
                CAST(floor(ln(CAST(f.cnt AS DOUBLE) / CAST(n.total AS DOUBLE)) * 1000000.0) AS BIGINT) AS mlp
              FROM t JOIN f ON t.token = f.token CROSS JOIN n)
            SELECT doc_id, COUNT(*) AS ntok,
              CAST(-SUM(mlp) AS BIGINT) AS ce_sum_e6,
              CAST(floor(CAST(-SUM(mlp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_ce_e6
            FROM j GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val t = CacheRegistry.persist(docs
        .select($"doc_id", explode(toksCol).as("token")))
      val f = t.groupBy($"token").agg(count(lit(1)).as("cnt"))
      val n = t.agg(count(lit(1)).as("total"))
      t.join(f, "token")
        .crossJoin(broadcast(n))
        .select($"doc_id",
          floor(log($"cnt".cast(DoubleType) / $"total".cast(DoubleType)) * 1000000.0)
            .cast(LongType).as("mlp"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("ntok"), (-sum($"mlp")).cast(LongType).as("ce_sum_e6"))
        .select($"doc_id", $"ntok", $"ce_sum_e6",
          floor($"ce_sum_e6".cast(DoubleType) / $"ntok".cast(DoubleType))
            .cast(LongType).as("avg_ce_e6"))
        .orderBy($"doc_id")
    }
  )

  // ---------------------------- bigram cross-entropy quality (c4_bigram_ce)
  /** Bigram-LM cross-entropy per document — the KenLM-filter shape one
    * order above [[c4u]]: score each doc by how surprising its token
    * TRANSITIONS are under the corpus's own bigram MLE,
    * P(w|v) = c(v,w)/c(v). Boilerplate with stereotyped phrasing scores
    * even lower than under the unigram model; noisy token soup scores
    * higher — the standard second-pass perplexity filter. Every bigram in
    * a doc exists in the corpus (the doc IS corpus), so c(v,w) ≥ 1 and no
    * smoothing arm is needed for self-scoring. Same exactness discipline
    * as c4u: each bigram instance contributes an integer
    * `floor(ln(bcnt/ucnt)·1e6)`, per-doc sums are exact integers —
    * order-independent, bit-replayable.
    *
    * Scale shape: bigram extraction is map-side (transform over the token
    * array — no window, no per-doc shuffle for adjacency); the bigram and
    * unigram count tables are posting-list aggs with map-side combine;
    * the two probe joins are the TF-IDF inverted-index discipline. The
    * Zipf-head history ("the …") skews the probe like c4u's token join;
    * each probe row matches exactly one count row, so AQE's skew split
    * handles it without semantic change.
    */
  private val c4bg = QuerySpec(
    "c4_bigram_ce",
    "Bigram cross-entropy quality proxy: per-bigram-instance floor(ln(c(v,w)/c(v))*1e6) integer contributions under the corpus's own bigram MLE, exact per-doc sums; map-side adjacency, posting-list joins.",
    Some("""WITH t AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), s -> s <> '')) AS token
              FROM documents),
            a AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            bgi AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM a),
            bg AS (SELECT doc_id, toks[CAST(i AS INTEGER)] AS prev, toks[CAST(i + 1 AS INTEGER)] AS cur FROM bgi),
            f AS (SELECT token, COUNT(*) AS ucnt FROM t GROUP BY token),
            b AS (SELECT prev, cur, COUNT(*) AS bcnt FROM bg GROUP BY prev, cur),
            j AS (SELECT g.doc_id,
                CAST(floor(ln(CAST(b.bcnt AS DOUBLE) / CAST(f.ucnt AS DOUBLE)) * 1000000.0) AS BIGINT) AS mlp
              FROM bg g JOIN b ON g.prev = b.prev AND g.cur = b.cur JOIN f ON g.prev = f.token)
            SELECT doc_id, COUNT(*) AS nbig,
              CAST(-SUM(mlp) AS BIGINT) AS ce_sum_e6,
              CAST(floor(CAST(-SUM(mlp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_ce_e6
            FROM j GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val t = docs.select($"doc_id", explode(toksCol).as("token"))
      val f = t.groupBy($"token").agg(count(lit(1)).as("ucnt"))
      // size<2 guard BEFORE sequence: Spark's sequence(1, 0) counts DOWN
      // ([1,0]) instead of yielding empty — a one-token doc would emit
      // phantom bigrams; DuckDB's range(1,1) is empty so both engines
      // drop such docs entirely
      val bg = CacheRegistry.persist(docs
        .select($"doc_id", toksCol.as("toks"))
        .filter(size($"toks") >= 2)
        .select($"doc_id", explode(transform(sequence(lit(1), size($"toks") - 1),
          i => struct(element_at($"toks", i).as("prev"),
            element_at($"toks", i + 1).as("cur")))).as("p"))
        .select($"doc_id", $"p.prev".as("prev"), $"p.cur".as("cur")))
      val b = bg.groupBy($"prev", $"cur").agg(count(lit(1)).as("bcnt"))
      bg.join(b, Seq("prev", "cur"))
        .join(f.withColumnRenamed("token", "prev"), Seq("prev"))
        .select($"doc_id",
          floor(log($"bcnt".cast(DoubleType) / $"ucnt".cast(DoubleType)) * 1000000.0)
            .cast(LongType).as("mlp"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("nbig"), (-sum($"mlp")).cast(LongType).as("ce_sum_e6"))
        .select($"doc_id", $"nbig", $"ce_sum_e6",
          floor($"ce_sum_e6".cast(DoubleType) / $"nbig".cast(DoubleType))
            .cast(LongType).as("avg_ce_e6"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------------------- PII masking (c4_pii)
  /** PII redaction pass (emails then URLs). The synthetic corpus carries no
    * real PII, so the query plants a deterministic contact line per doc and
    * masks it — the regexes and replacement machinery are what's under
    * test. Patterns stay in the Java∩RE2 common subset (no lookaround, no
    * backrefs) so Spark and DuckDB replay identically. Map-side codegen'd
    * regexp_replace; at 100 TB this is scan → regex → write.
    */
  private val EmailRe = """[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"""
  private val UrlRe = """https?://[^ ]+"""
  private val c4z = QuerySpec(
    "c4_pii",
    "PII masking: plant a per-doc contact line (email + URL), redact with sequential regexp_replace passes, count masked spans; patterns in the Java-and-RE2 common subset.",
    Some(s"""WITH r AS (SELECT doc_id,
              'doc ' || doc_id || ' by user' || doc_id || '@' || source || '.com said ' ||
              substr(text, 1, 40) || ' more at https://' || source || '.example.org/d/' ||
              doc_id || '?ref=x' AS raw
              FROM documents)
            SELECT doc_id,
              regexp_replace(regexp_replace(raw, '$EmailRe', '<EMAIL>', 'g'),
                '$UrlRe', '<URL>', 'g') AS masked,
              CAST(len(regexp_extract_all(raw, '$EmailRe')) AS BIGINT) AS n_email,
              CAST(len(regexp_extract_all(raw, '$UrlRe')) AS BIGINT) AS n_url
            FROM r ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val raw = concat(lit("doc "), $"doc_id", lit(" by user"), $"doc_id", lit("@"),
        $"source", lit(".com said "), substring($"text", 1, 40),
        lit(" more at https://"), $"source", lit(".example.org/d/"), $"doc_id",
        lit("?ref=x"))
      Tables.documents(s, d)
        .select($"doc_id", raw.as("raw"))
        .select($"doc_id",
          regexp_replace(regexp_replace($"raw", EmailRe, "<EMAIL>"), UrlRe, "<URL>")
            .as("masked"),
          size(regexp_extract_all($"raw", lit(EmailRe), lit(0))).cast(LongType).as("n_email"),
          size(regexp_extract_all($"raw", lit(UrlRe), lit(0))).cast(LongType).as("n_url"))
        .orderBy($"doc_id")
    }
  )

  // --------------------------------- global corpus shuffle (c1h)
  /** Deterministic global corpus shuffle — the "shuffle then shard" step
    * a training pipeline runs so adjacent source documents don't land in
    * the same batch: every document gets a global position under the
    * pseudorandom total order (md5(doc_id), doc_id) and a round-robin
    * shard from it. RNG-free, so replays and reruns produce the
    * identical permutation (the c1d md5-draw discipline).
    *
    * Scale shape — NO single-task global sort: repartitionByRange on the
    * md5 key spreads the total order across contiguous partitions,
    * per-partition ranks come from a pid-partitioned window, and global
    * positions add the partition-count prefix offsets (a bounded
    * |partitions|-row collect). Because (md5, doc_id) is a TOTAL order,
    * the reconstructed position is partition-invariant — range-boundary
    * placement only decides where the order is cut, never how it reads —
    * which is exactly what lets the one-line ROW_NUMBER oracle replay it.
    */
  private val ShuffleShards = 8
  private val c1h = QuerySpec(
    "c1h_global_shuffle",
    s"Deterministic global corpus shuffle: position under the (md5(doc_id), doc_id) total order via range partitioning + prefix offsets (no single-task sort), round-robin shard over $ShuffleShards; RNG-free and partition-invariant.",
    Some(s"""WITH r AS (SELECT doc_id,
              ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
              FROM documents)
            SELECT doc_id, pos, (pos - 1) % $ShuffleShards AS shard
            FROM r ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val nPart = s.sparkContext.defaultParallelism
      val keyed = CacheRegistry.persist(Tables.documents(s, d)
        .select($"doc_id", md5($"doc_id".cast(StringType)).as("k"))
        .repartitionByRange(nPart, $"k", $"doc_id")
        .withColumn("pid", spark_partition_id()))
      // prefix offsets: |partitions| rows to the driver, broadcast back
      // as a literal map — never a corpus-sized collect
      val counts = keyed.groupBy($"pid").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val pids = counts.keys.toSeq.sorted
      val offsets: Map[Int, Long] =
        pids.zip(pids.scanLeft(0L)((acc, p) => acc + counts(p)).init).toMap
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy($"pid").orderBy($"k", $"doc_id")
      keyed
        .withColumn("lrn", row_number().over(wp).cast(LongType))
        .withColumn("pos",
          element_at(typedLit(offsets), $"pid") + $"lrn")
        .select($"doc_id", $"pos", (($"pos" - 1) % ShuffleShards).as("shard"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------- curriculum ordering (c1k)
  /** Curriculum ordering — the quality-first cousin of [[c1h]]'s uniform
    * shuffle: every document gets a global position under the
    * (quality_e6 DESC, doc_id) total order (the c4_quality blend,
    * quantized to an integer at 1e-6 so the order key is exact and
    * replayable), plus a 3-way stage from its position — the
    * easy-examples-first schedule a curriculum-training run consumes.
    *
    * Scale shape is c1h's, reused verbatim: repartitionByRange on the
    * order key spreads the total order across contiguous partitions,
    * per-partition ranks come from a pid-local window, and global
    * positions add |partitions|-row prefix offsets — NO single-task
    * global sort. The quality score itself is map-side. Stage boundaries
    * need the corpus count, which falls out of the same bounded collect.
    */
  private val CurriculumStages = 3
  private val c1k = QuerySpec(
    "c1k_curriculum",
    s"Curriculum ordering: global position under (quality_e6 DESC, doc_id) via range partitioning + prefix offsets (no single-task sort); $CurriculumStages equal-width stages by position; RNG-free, partition-invariant.",
    Some(s"""WITH t AS (SELECT doc_id,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            q AS (SELECT doc_id,
              CAST(floor((0.5 * (CAST(len(list_filter(toks, x -> list_contains($stopSql, x))) AS DOUBLE) / len(toks))
                + 0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)) * 1000000.0) AS BIGINT) AS q_e6
              FROM t),
            r AS (SELECT doc_id, q_e6,
              ROW_NUMBER() OVER (ORDER BY q_e6 DESC, doc_id) AS pos,
              COUNT(*) OVER () AS total
              FROM q)
            SELECT doc_id, q_e6, pos,
              ((pos - 1) * $CurriculumStages) // total AS stage
            FROM r ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val toks = toksCol
      val nTokens = size(toks)
      val stopHits = size(filter(toks, t => t.isInCollection(TextStats.Stopwords)))
      val quality = lit(0.5) * (stopHits.cast(DoubleType) / nTokens) +
        lit(0.5) * least(nTokens.cast(DoubleType) / 100.0, lit(1.0))
      val nPart = s.sparkContext.defaultParallelism
      val keyed = CacheRegistry.persist(Tables.documents(s, d)
        .select($"doc_id", floor(quality * 1000000.0).cast(LongType).as("q_e6"))
        .repartitionByRange(nPart, $"q_e6".desc, $"doc_id")
        .withColumn("pid", spark_partition_id()))
      val counts = keyed.groupBy($"pid").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val pids = counts.keys.toSeq.sorted
      val offsets: Map[Int, Long] =
        pids.zip(pids.scanLeft(0L)((acc, p) => acc + counts(p)).init).toMap
      val total = counts.values.sum
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy($"pid").orderBy($"q_e6".desc, $"doc_id")
      keyed
        .withColumn("lrn", row_number().over(wp).cast(LongType))
        .withColumn("pos", element_at(typedLit(offsets), $"pid") + $"lrn")
        .select($"doc_id", $"q_e6", $"pos",
          expr(s"(pos - 1) * $CurriculumStages div ${math.max(total, 1L)}").as("stage"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------- sequence packing (c4_seqpack)
  /** Concat-and-chunk sequence packing — the pre-training step that turns
    * a deduped corpus into fixed-length training examples: within a shard
    * (here `source`), documents concatenate in a deterministic order and
    * the token stream splits every [[SeqPackLen]] tokens; a document's
    * examples are `floor(prev_cum/L) .. floor((prev_cum+ntok-1)/L)`.
    * Everything is a running integer sum + integer division — exact,
    * order-fixed, bit-replayable.
    *
    * Scale shape: ONE exchange on the shard key; the per-shard window is
    * a sequential scan, which is exactly how packing parallelizes in
    * practice — the shard IS the unit of parallelism (a real pipeline
    * salts documents into O(corpus/shard-budget) shards first, so no
    * shard outgrows a task; `source` stands in for that shard id here).
    * No pair work, no caps, nothing corpus².
    */
  private val SeqPackLen = 512
  private val c4k = QuerySpec(
    "c4_seqpack",
    s"Concat-and-chunk sequence packing (L=$SeqPackLen): per-shard running token offsets, first/last example ids and examples spanned per doc; exact integer arithmetic end-to-end.",
    Some(s"""WITH t AS (SELECT doc_id, source,
              CAST(len(list_filter(string_split(lower(text), ' '), s -> s <> '')) AS BIGINT) AS ntok
              FROM documents),
            c AS (SELECT doc_id, source, ntok,
              COALESCE(CAST(SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prev_cum
              FROM t)
            SELECT doc_id, source, ntok, prev_cum,
              prev_cum // $SeqPackLen AS first_example,
              CASE WHEN ntok > 0 THEN (prev_cum + ntok - 1) // $SeqPackLen END AS last_example,
              CASE WHEN ntok > 0
                THEN (prev_cum + ntok - 1) // $SeqPackLen - prev_cum // $SeqPackLen + 1
                ELSE 0 END AS n_examples
            FROM c ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select($"doc_id", $"source", size(toksCol).cast(LongType).as("ntok"))
        .withColumn("prev_cum", coalesce(sum($"ntok").over(w), lit(0L)))
        .select($"doc_id", $"source", $"ntok", $"prev_cum",
          expr(s"prev_cum div $SeqPackLen").as("first_example"),
          when($"ntok" > 0,
            expr(s"(prev_cum + ntok - 1) div $SeqPackLen")).as("last_example"),
          when($"ntok" > 0,
            expr(s"(prev_cum + ntok - 1) div $SeqPackLen - prev_cum div $SeqPackLen + 1"))
            .otherwise(0L).as("n_examples"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------- compression quality (c4_compress)
  /** Deflate-ratio quality signal (the Gopher/RefinedWeb repetitiveness
    * heuristic): highly repetitive or templated text compresses far below
    * natural prose, so compressed/raw length is a cheap one-pass quality
    * feature. No oracle by design — DuckDB has no deflate — but the ratio
    * is bit-deterministic: java.util.zip.Deflater at a fixed level with a
    * fresh instance per row is the fixed zlib algorithm, identical on
    * every JVM/partitioning (TextStatsSpec pins values and invariance).
    * Map-side scalar UDF; at 100 TB this is scan → deflate → write.
    */
  private val deflateLenUdf = udf { (text: String) =>
    if (text == null) 0L else TextStats.deflateLen(text)
  }
  private val c4x = QuerySpec(
    "c4_compress",
    "Compression-ratio quality signal: per-doc deflate(level 6) length and compressed/raw ratio in 1e-6 units — repetitive text scores low; deterministic zlib, ScalaTest-pinned.",
    None,
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", length($"text").cast(LongType).as("raw_len"),
          deflateLenUdf($"text").as("deflate_len"))
        // empty doc ⇒ null ratio: 0/0 would collapse to a Long.MaxValue
        // sentinel under non-ANSI floor/cast, poisoning the quality signal
        .withColumn("ratio_ppm",
          when($"raw_len" > 0,
            floor($"deflate_len".cast(DoubleType) / $"raw_len" * 1e6).cast(LongType)))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------------------ BPE merge-step pairs
  /** The tokenizer-TRAINING primitive c4_vocab's df table feeds into: one
    * BPE merge decision = the corpus-wide count of every adjacent symbol
    * pair, argmax picked as the next merge. Full BPE training iterates
    * this (re-tokenize, recount) — each round is exactly this job, so the
    * one-round query is the scale shape that matters: explode words →
    * explode in-word character bigrams (all codegen'd builtins — sequence/
    * transform/substr, no UDF) → ONE partial-aggregated count shuffle →
    * TakeOrdered top-50. At 100 TB the pair alphabet is tiny (≤ |chars|²),
    * so map-side combine collapses virtually everything before the
    * exchange — the same partial-agg posture as c4_vocab.
    */
  private val c4bp = QuerySpec(
    "c4_bpe_pairs",
    "BPE tokenizer-training merge step: corpus-wide adjacent character-pair counts within words, top-50 by (count desc, pair) — exact integers, one partial-agg shuffle.",
    Some("""WITH w AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
              t -> t <> '')) AS w FROM documents),
            p AS (SELECT substr(w, CAST(unnest(range(1, length(w))) AS INTEGER), 2) AS pair
              FROM w WHERE length(w) >= 2)
            SELECT pair, COUNT(*) AS cnt FROM p
            GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50"""),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(explode(filter(split(lower($"text"), " "), t => t =!= "")).as("w"))
        .filter(length($"w") >= 2)
        .select(explode(transform(sequence(lit(1), length($"w") - 1),
          i => $"w".substr(i, lit(2)))).as("pair"))
        .groupBy($"pair").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"pair")
        .limit(50)
    }
  )

  // ------------------------------------------------ full BPE training loop
  /** The iterated tokenizer build on top of [[c4bp]]'s one merge step
    * (VERDICT r10 #3): [[BpeMerges]] greedy rounds of count-argmax-merge,
    * emitting the merge table a real BPE trainer ships. The scale move is
    * the FIRST line: the corpus rolls up to the distinct-word/weight table
    * once (vocab-sized — Heaps' law says ~|corpus|^0.5, so 100 TB of text
    * is a few hundred million words, a small Spark table), and every round
    * after that touches only that cached table: adjacent-pair explode →
    * one partial-agg SUM(weight) shuffle over a tiny pair alphabet →
    * argmax LIMIT 1 collect (one row per round — the only driver traffic)
    * → a map-side `replace` of the winning pair. The driver holds just the
    * merge table (K rows), exactly like the k-means codebook loop.
    *
    * Exactness: weights are integer counts, the argmax tiebreak is
    * (count DESC, left, right) over [a-z]+ symbols where Spark's UTF8
    * binary ordering equals DuckDB's — so each round's winner replays, and
    * the merge application is the identical left-to-right non-overlapping
    * `replace` on both engines over the fully-delimited '<sym>' encoding
    * (delimiters make matches share no characters, so "aaa" under merge
    * (a,a) gives [aa, a] on both — greedy BPE semantics). The oracle
    * unrolls all K rounds as paired CTEs (the c3_kmeans unrolled-Lloyd
    * precedent). A corpus with < K distinct pairs ends both sides early:
    * the engine breaks on an empty argmax, the oracle's empty LIMIT 1
    * empties every later CTE.
    */
  private val BpeMerges = 12
  /** Shared K-round merge chain for the two BPE oracles: w0 = the
    * distinct-word/weight rollup, r_i = every word's delimited symbol
    * representation after i merges (the word key `w` rides along so the
    * encode oracle can join back to the corpus), m_i = round i's argmax
    * pair. The train oracle reads the m_i arms; the encode oracle reads
    * the final r_K.
    */
  private def bpeChainCtes(k: Int): String = {
    // Every CTE is MATERIALIZED: r_{i-1} is referenced twice per round
    // (by q_i and r_i), so DuckDB's default CTE inlining re-expands the
    // whole prefix chain at each reference — exponential plan growth that
    // blew the driver's gate at ~904 s (train) / ~507 s (encode) at
    // sf0.01. Materializing pins each round to one evaluation: measured
    // 0.14 s / 0.17 s on the same data. OracleBudgetSpec guards this.
    val base =
      """WITH w0 AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
        |        FROM documents)
        |  WHERE regexp_matches(w, '^[a-z]+$')
        |  GROUP BY w),
        |r0 AS MATERIALIZED (SELECT w, '<' || array_to_string(string_split(w, ''), '><') || '>' AS rep, cnt
        |       FROM w0)""".stripMargin
    val rounds = (1 to k).map { i =>
      s"""q$i AS MATERIALIZED (SELECT syms, cnt, unnest(range(1, len(syms))) AS i FROM (
         |  SELECT string_split(substr(rep, 2, length(rep) - 2), '><') AS syms, cnt
         |  FROM r${i - 1}) WHERE len(syms) >= 2),
         |m$i AS MATERIALIZED (SELECT syms[i] AS a, syms[i + 1] AS b, CAST(SUM(cnt) AS BIGINT) AS cnt
         |  FROM q$i GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1),
         |r$i AS MATERIALIZED (SELECT w, replace(rep, '<' || a || '><' || b || '>', '<' || a || b || '>') AS rep,
         |  r.cnt AS cnt FROM r${i - 1} r CROSS JOIN m$i)""".stripMargin
    }.mkString(",\n", ",\n", "")
    base + rounds
  }
  private def bpeTrainOracle(k: Int): String = {
    val arms = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, a AS lhs, b AS rhs, a || b AS merged, cnt FROM m$i")
      .mkString(" UNION ALL ")
    s"${bpeChainCtes(k)}\nSELECT * FROM ($arms) ORDER BY step"
  }
  private val c4bt = QuerySpec(
    "c4_bpe_train",
    s"Full BPE tokenizer training: $BpeMerges greedy merge rounds over the cached distinct-word/weight table (pair-count agg, (count desc, pair) argmax, delimited replace); output is the merge table (step, lhs, rhs, merged, cnt).",
    Some(bpeTrainOracle(BpeMerges)),
    (s, d) => {
      import s.implicits._
      bpeTrainLoop(s, d)._2.toDF("step", "lhs", "rhs", "merged", "cnt").orderBy($"step")
    }
  )

  /** The shared BPE training loop (engine side of [[bpeChainCtes]]):
    * returns (final per-word representation frame `(w, rep, cnt)` after
    * all merges, the merge table). Only the INITIAL rollup is persisted —
    * round i's argmax recomputes i map-side `replace`s over that cached
    * vocab-sized frame, K² tiny-map work that beats K cache round-trips.
    */
  private def bpeTrainLoop(s: SparkSession, d: String)
      : (DataFrame, Seq[(Long, String, String, String, Long)]) = {
    import s.implicits._
    var reps = CacheRegistry.persist(
      Tables.documents(s, d)
        .select(explode(filter(split(lower($"text"), " "), t => t =!= "")).as("w"))
        .filter($"w".rlike("^[a-z]+$"))
        .groupBy($"w").agg(count(lit(1)).cast(LongType).as("cnt"))
        .select($"w",
          concat(lit("<"), array_join(split($"w", ""), "><"), lit(">")).as("rep"),
          $"cnt"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= BpeMerges && !exhausted) {
      val top = reps
        .select(split(expr("substring(rep, 2, length(rep) - 2)"), "><").as("syms"), $"cnt")
        .filter(size($"syms") >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> named_struct('a', element_at(syms, i), 'b', element_at(syms, i + 1)))"""
            .stripMargin)).as("p"), $"cnt")
        .groupBy($"p.a".as("a"), $"p.b".as("b")).agg(sum($"cnt").as("cnt"))
        .orderBy($"cnt".desc, $"a", $"b")
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step.toLong, a, b, a + b, cnt))
        // symbols are [a-z]+ by the word filter, so embedding them as SQL
        // string literals needs no escaping.
        // (r18 re-probe of the r17 call: an eager lineage barrier per
        // round (now Par.barrier) to flatten the stacked replace chain —
        // was A/B'd alternating at this HEAD and REVERTED: encode min
        // 3.12 s pinned vs 3.01 unpinned, train 2.60 vs 2.32; ten ~40 ms
        // checkpoint jobs cost more than the K² tiny-map replays save.
        // The stacked-replace + single-persist shape stands.)
        reps = reps.select($"w",
          expr(s"replace(rep, '<$a><$b>', '<$a$b>')").as("rep"), $"cnt")
        step += 1
      }
    }
    (reps, merges.toSeq)
  }

  // ------------------------------------------------ BPE encode (apply)
  /** The tokenizer's APPLY side, closing the train→encode loop: the final
    * r_K frame of [[bpeTrainLoop]] IS every word's encoding under the
    * trained merges (greedy rank-order application — merging all
    * occurrences of merge i can never create a new instance of a merge
    * < i, since the new symbol only participates in later-learned pairs),
    * so encoding the corpus is one join from the per-doc word list to the
    * vocab-sized encoding table. Output per doc: alpha-word count, BPE
    * token count, character count — the tokens-per-doc signal a training
    * pipeline budgets with.
    *
    * Scale: the encoding table is Heaps'-law small relative to the corpus
    * (broadcast-able at moderate scale, an ordinary shuffle join beyond);
    * everything after the join is one partial-agg shuffle on doc_id.
    * Assumption (documented like c4_winnow's fullHash arm): the corpus
    * yields all K merges — a tiny corpus would exhaust the engine loop
    * gracefully but empty the oracle's CROSS JOIN chain; c4_bpe_train's
    * green K-row output pins the assumption per round.
    */
  private def bpeEncodeOracle(k: Int): String =
    s"""${bpeChainCtes(k)},
       |dw AS (SELECT doc_id,
       |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
       |  FROM documents),
       |dwf AS (SELECT doc_id, w FROM dw WHERE regexp_matches(w, '^[a-z]+$$')),
       |wt AS (SELECT w,
       |    CAST(len(string_split(substr(rep, 2, length(rep) - 2), '><')) AS BIGINT) AS toks
       |  FROM r$k)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |  CAST(SUM(length(w)) AS BIGINT) AS n_chars
       |FROM dwf JOIN wt USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin
  private val c4be = QuerySpec(
    "c4_bpe_encode",
    s"BPE encode: apply the $BpeMerges trained merges to every document (vocab-table join, no per-doc merge loop) and emit per-doc alpha-word/token/char counts; oracle replays the training chain and the encoding join end to end.",
    Some(bpeEncodeOracle(BpeMerges)),
    (s, d) => {
      import s.implicits._
      val wordToks = bpeTrainLoop(s, d)._1
        .select($"w",
          size(split(expr("substring(rep, 2, length(rep) - 2)"), "><"))
            .cast(LongType).as("toks"))
      Tables.documents(s, d)
        .select($"doc_id", explode(filter(split(lower($"text"), " "), t => t =!= "")).as("w"))
        .filter($"w".rlike("^[a-z]+$"))
        .join(wordToks, Seq("w"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).cast(LongType).as("n_words"),
          sum($"toks").cast(LongType).as("n_tokens"),
          sum(length($"w")).cast(LongType).as("n_chars"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------- token-budget sampling (c1o)
  /** Token-budget-constrained sampling — the budgeted cousin of [[c1g]]'s
    * rate mix and [[c1h]]'s shuffle: each source contributes documents in
    * its deterministic (md5(doc_id), doc_id) pseudorandom order until the
    * running TOKEN total would exceed the per-source budget — the "give me
    * N tokens per source" selection a training-data pipeline runs against
    * a token target, not a row target. RNG-free, so reruns pick the
    * identical prefix.
    *
    * Scale shape — c1h's no-single-task-cumsum machinery, generalized to
    * per-GROUP running sums: repartitionByRange on (source, k) keeps each
    * source's order contiguous across partitions, per-(source, pid) token
    * subtotals collect to the driver (|sources|·|partitions| rows,
    * bounded), prefix offsets come back as one broadcast literal map, and
    * the in-partition window is pid-local — a naive
    * `SUM OVER (PARTITION BY source ORDER BY …)` would serialize each
    * source through ONE task, the exact bottleneck this shape avoids at
    * 100 TB. Admission uses the INCLUSIVE running sum (a doc enters iff
    * the budget covers it entirely), so the admitted set is a pure prefix
    * of the per-source total order — partition-invariant by the same
    * argument as c1h.
    */
  private val TokenBudget = 700L
  private val c1o = QuerySpec(
    "c1o_token_budget",
    s"Token-budget sampling: per source, admit documents in (md5(doc_id), doc_id) order while the inclusive running whitespace-token total stays <= $TokenBudget; range-partitioned per-group cumsum with driver prefix offsets — no single-task window.",
    Some(s"""WITH t AS (SELECT doc_id, source,
              CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS toks
              FROM documents),
            r AS (SELECT doc_id, source, toks,
              CAST(SUM(toks) OVER (PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS cum_toks
              FROM t)
            SELECT doc_id, source, toks, cum_toks
            FROM r WHERE cum_toks <= $TokenBudget ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val nPart = s.sparkContext.defaultParallelism
      val keyed = CacheRegistry.persist(Tables.documents(s, d)
        .select($"doc_id", $"source",
          size(filter(split($"text", " "), x => x =!= "")).cast(LongType).as("toks"),
          md5($"doc_id".cast(StringType)).as("k"))
        .repartitionByRange(nPart, $"source", $"k", $"doc_id")
        .withColumn("pid", spark_partition_id()))
      // per-(source, pid) token subtotals → driver → per-source prefix
      // offsets under the pid order; bounded by |sources|·|partitions|
      val subtotals = keyed.groupBy($"source", $"pid")
        .agg(sum($"toks").as("t")).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      val offsets: Map[String, Long] = subtotals
        .groupBy(_._1._1)
        .flatMap { case (src, rows) =>
          val byPid = rows.sortBy(_._1._2)
          byPid.map(_._1._2).zip(
            byPid.map(_._2).scanLeft(0L)(_ + _).init)
            .map { case (pid, off) => s"$src|$pid" -> off }
        }
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy($"source", $"pid").orderBy($"k", $"doc_id")
      keyed
        .withColumn("lcum", sum($"toks").over(wp))
        .withColumn("cum_toks",
          element_at(typedLit(offsets), concat($"source", lit("|"), $"pid")) + $"lcum")
        .filter($"cum_toks" <= TokenBudget)
        .select($"doc_id", $"source", $"toks", $"cum_toks")
        .orderBy($"doc_id")
    }
  )

  // --------------------------------- stride-scheduled source interleave
  /** Deterministic weighted round-robin interleave — the training
    * DATALOADER ORDER the mixing family stops short of: [[c1g]]/[[c1l]]
    * decide how MUCH of each source to keep, [[c1h]] shuffles globally,
    * [[c1k]] orders by difficulty; this produces the order where source s
    * recurs every ~1/w_s steps (stride scheduling: sort key =
    * (2·rank_s − 1)/(2·w_s), the midpoint rule — a weight-4 source
    * appears 4× as often, evenly spread, not front-loaded). Within a
    * source the order is the (md5(doc_id), doc_id) deterministic shuffle.
    *
    * Everything is exact: rank and weight are small integers, the single
    * IEEE division is correctly rounded on both engines, ties across
    * sources break on (source, doc_id). Per-source rank uses the c1o
    * range-partition + pid-local-window + driver-prefix-offset machinery
    * — never one task per source; the interleave key itself is map-side.
    */
  private val c1p = QuerySpec(
    "c1p_interleave",
    "Stride-scheduled source interleave (weighted round-robin dataloader order): per-source rank under the (md5(doc_id), doc_id) shuffle order, sort key (2*rank-1)/(2*w) with w = source-name weight 1..4 — a weight-4 source recurs 4x as often, evenly spread; range-partitioned per-source ranks, no single-task window.",
    Some("""WITH t AS (SELECT doc_id, source,
              md5(CAST(doc_id AS VARCHAR)) AS k FROM documents),
            n AS (SELECT doc_id, source,
              CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY k, doc_id) AS BIGINT) AS rank_s,
              CAST(CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS BIGINT) AS w
              FROM t)
            SELECT doc_id, source, rank_s,
              CAST(2 * rank_s - 1 AS DOUBLE) / CAST(2 * w AS DOUBLE) AS ikey
            FROM n ORDER BY ikey, source, doc_id"""),
    (s, d) => {
      import s.implicits._
      val nPart = s.sparkContext.defaultParallelism
      val keyed = CacheRegistry.persist(Tables.documents(s, d)
        .select($"doc_id", $"source", md5($"doc_id".cast(StringType)).as("k"))
        .repartitionByRange(nPart, $"source", $"k", $"doc_id")
        .withColumn("pid", spark_partition_id()))
      // per-(source, pid) row counts → driver → per-source rank offsets
      // under the pid order; bounded by |sources|·|partitions|
      val subtotals = keyed.groupBy($"source", $"pid")
        .agg(count(lit(1)).as("c")).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      val offsets: Map[String, Long] = subtotals
        .groupBy(_._1._1)
        .flatMap { case (src, rows) =>
          val byPid = rows.sortBy(_._1._2)
          byPid.map(_._1._2).zip(
            byPid.map(_._2).scanLeft(0L)(_ + _).init)
            .map { case (pid, off) => s"$src|$pid" -> off }
        }
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy($"source", $"pid").orderBy($"k", $"doc_id")
      keyed
        .withColumn("lrank", row_number().over(wp).cast(LongType))
        .withColumn("rank_s",
          element_at(typedLit(offsets), concat($"source", lit("|"), $"pid")) + $"lrank")
        .withColumn("w", expr("cast(substr(source, 4) as bigint) % 4 + 1"))
        .select($"doc_id", $"source", $"rank_s",
          ((lit(2) * $"rank_s" - 1).cast(DoubleType) /
            (lit(2) * $"w").cast(DoubleType)).as("ikey"))
        .orderBy($"ikey", $"source", $"doc_id")
    }
  )

  // --------------------------------------------- n-gram novelty (c4)
  /** Per-document n-gram novelty — the "how much of this doc is new to
    * the corpus" score dedup pipelines use to rank survivors and data
    * buyers use to price a crawl increment: a bigram's FIRST OWNER is
    * the min doc_id carrying it, and a doc's novelty is the fraction of
    * its distinct bigrams it owns. A near-dup of an earlier doc scores
    * ~0; the first doc of a template family absorbs the template's
    * grams.
    *
    * Scale shape: one inverted-index pass — explode distinct bigrams,
    * ONE min-aggregate per gram (partial-aggregates map-side; no df-cap
    * needed — min is an aggregate, not a pair generator), one
    * posting-list join back, one per-doc count. Integer-exact output
    * ((novel·10⁶) div grams).
    */
  private val c4nv = QuerySpec(
    "c4_novelty",
    "Per-doc bigram novelty: fraction of the doc's distinct bigrams whose corpus-wide first owner (min doc_id) is the doc itself, as (novel*1e6) div grams — near-dups of earlier docs score ~0; one min-agg + one posting join, no pair generation.",
    Some("""WITH t AS (SELECT doc_id,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            b AS (SELECT doc_id,
              unnest(list_distinct(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1]))) AS gram
              FROM t WHERE len(toks) >= 2),
            fo AS (SELECT gram, MIN(doc_id) AS first_doc FROM b GROUP BY gram),
            j AS (SELECT b.doc_id, COUNT(*) AS n_grams,
              COUNT(CASE WHEN fo.first_doc = b.doc_id THEN 1 END) AS n_novel
              FROM b JOIN fo USING (gram) GROUP BY b.doc_id)
            SELECT doc_id, n_grams, n_novel,
              (n_novel * 1000000) // n_grams AS novelty_e6
            FROM j ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val b = Tables.documents(s, d)
        .withColumn("toks", filter(split(lower($"text"), " "), t => t =!= ""))
        .filter(size($"toks") >= 2)
        .select($"doc_id", explode(array_distinct(
          expr("transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))")))
          .as("gram"))
      val fo = b.groupBy($"gram").agg(min($"doc_id").as("first_doc"))
      b.join(fo, "gram")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
          count(when($"first_doc" === $"doc_id", 1)).as("n_novel"))
        .withColumn("novelty_e6", expr("(n_novel * 1000000) div n_grams"))
        .orderBy($"doc_id")
    }
  )

  // --------------------------------------- per-epoch reshuffle (c1q)
  /** Multi-epoch dataloader orders — [[c1h]]'s uniform shuffle re-drawn
    * per epoch: position under the (md5(doc_id ‖ ':' ‖ epoch), doc_id)
    * total order, so each epoch's order is independent-looking yet fully
    * reproducible from (corpus, epoch) alone — the property a resumable
    * multi-epoch training run needs (re-derive epoch 7's order without
    * having stored it). Both epochs emit in one frame; the per-epoch
    * rank uses the c1o/c1p range-partition + pid-window + prefix-offset
    * machinery with epoch as the group key — no single-task sort, and
    * the epoch count multiplies rows, not state.
    */
  private val c1q = QuerySpec(
    "c1q_epoch_shuffle",
    "Per-epoch deterministic reshuffle: position under the (md5(doc_id||':'||epoch), doc_id) total order for epochs 0 and 1 in one frame — each epoch's order reproducible from (corpus, epoch) alone; range-partitioned per-epoch ranks, no single-task sort.",
    Some("""WITH x AS (SELECT doc_id, CAST(e.epoch AS BIGINT) AS epoch
              FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS epoch) e),
            r AS (SELECT doc_id, epoch,
              ROW_NUMBER() OVER (PARTITION BY epoch
                ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)),
                         doc_id) AS pos
              FROM x)
            SELECT doc_id, epoch, pos FROM r ORDER BY doc_id, epoch"""),
    (s, d) => {
      import s.implicits._
      val nPart = s.sparkContext.defaultParallelism
      val keyed = CacheRegistry.persist(Tables.documents(s, d)
        .select($"doc_id", explode(array(lit(0L), lit(1L))).as("epoch"))
        .withColumn("k", md5(concat($"doc_id".cast(StringType), lit(":"),
          $"epoch".cast(StringType))))
        .repartitionByRange(nPart, $"epoch", $"k", $"doc_id")
        .withColumn("pid", spark_partition_id()))
      val subtotals = keyed.groupBy($"epoch", $"pid")
        .agg(count(lit(1)).as("c")).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      val offsets: Map[String, Long] = subtotals
        .groupBy(_._1._1)
        .flatMap { case (ep, rows) =>
          val byPid = rows.sortBy(_._1._2)
          byPid.map(_._1._2).zip(
            byPid.map(_._2).scanLeft(0L)(_ + _).init)
            .map { case (pid, off) => s"$ep|$pid" -> off }
        }
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy($"epoch", $"pid").orderBy($"k", $"doc_id")
      keyed
        .withColumn("lrn", row_number().over(wp).cast(LongType))
        .withColumn("pos",
          element_at(typedLit(offsets), concat($"epoch", lit("|"), $"pid")) + $"lrn")
        .select($"doc_id", $"epoch", $"pos")
        .orderBy($"doc_id", $"epoch")
    }
  )

  // -------------------------------------- unigram-LM (SentencePiece) seed
  /** Unigram-LM tokenizer seed vocabulary — the companion to the BPE
    * family (VERDICT r11 #7): SentencePiece's trainer starts from the
    * most frequent substrings scored by count·length, then EM-prunes.
    * The EM phase is float-likelihood iteration (not SQL-replayable and
    * corpus-quality, not correctness, sensitive); the SEED build is
    * exact integer arithmetic, so this declares the seed: every substring
    * of length 2–6 of every word, counted once per occurrence POSITION
    * (SentencePiece's suffix-array enumeration semantics) weighted by
    * the word's corpus count, scored `cnt · len`, top-60 by
    * (score DESC, substring) — a total order, so the cut is exact.
    *
    * Scale shape (the c4_bpe_train argument): the corpus rolls up ONCE
    * to the Heaps-law distinct-word/weight table; the substring explode
    * is ~5·|word| candidates per DISTINCT word — vocab-sized × a small
    * constant, never corpus-sized. One partial-agg'd shuffle on the
    * substring, then TakeOrdered for the top-60. At 100 TB the word
    * rollup is the same shuffle the BPE trainer already pays; everything
    * downstream is sub-vocab-sized.
    */
  private val c4uv = QuerySpec(
    "c4_unigram_vocab",
    "Unigram-LM (SentencePiece-style) tokenizer seed vocab: all length-2..6 word substrings counted per occurrence position over the distinct-word table, scored cnt*len, top-60 by (score desc, substring) — exact integers end-to-end.",
    Some("""WITH w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
              SELECT unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
              FROM documents)
              WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w),
            ls AS (SELECT w, cnt, CAST(unnest(range(2, 7)) AS INTEGER) AS l FROM w0),
            subs AS (SELECT substr(w, CAST(unnest(range(1, length(w) - l + 2)) AS INTEGER), l) AS sub, cnt
              FROM ls WHERE length(w) >= l),
            agg AS (SELECT sub, CAST(SUM(cnt) AS BIGINT) AS cnt FROM subs GROUP BY sub)
            SELECT sub, CAST(length(sub) AS BIGINT) AS len, cnt,
              CAST(cnt * length(sub) AS BIGINT) AS score
            FROM agg ORDER BY score DESC, sub LIMIT 60"""),
    (s, d) => {
      import s.implicits._
      val words = Tables.documents(s, d)
        .select(explode(filter(split(lower($"text"), " "), t => t =!= "")).as("w"))
        .filter($"w".rlike("^[a-z]+$"))
        .groupBy($"w").agg(count(lit(1)).as("cnt"))
      words
        .select($"cnt", explode(flatten(transform(
          filter(sequence(lit(2), lit(6)), l => l <= length($"w")),
          l => transform(sequence(lit(1), length($"w") - l + 1),
            i => $"w".substr(i, l))))).as("sub"))
        .groupBy($"sub").agg(sum($"cnt").as("cnt"))
        .select($"sub", length($"sub").cast(LongType).as("len"), $"cnt",
          ($"cnt" * length($"sub")).cast(LongType).as("score"))
        .orderBy($"score".desc, $"sub")
        .limit(60)
    }
  )

  // ------------------------------- tokenizer fertility / coverage (c4fe)
  /** Tokenizer fertility & coverage under the unigram seed vocab — the
    * diagnostic that tells a tokenizer team whether a candidate vocab is
    * WORTH training: greedy longest-match segmentation (the SentencePiece
    * eval default) of every word against [[c4uv]]'s top-60 seed pieces
    * with single-char fallback, rolled up per source as fertility
    * (emitted tokens per word instance) and coverage (fraction of chars
    * consumed by real pieces rather than fallback chars).
    *
    * Scale shape (the BPE-trainer argument): segmentation runs once per
    * DISTINCT word — the corpus rolls up to the Heaps-law (source, word,
    * cnt) table and a corpus-wide distinct-word table; the greedy walk
    * multiplies back through the counts. The walk itself is the one UDF
    * this family allows (an inherently sequential per-word loop over a
    * 60-piece broadcast set — built-ins cannot express pointer-chasing);
    * it runs on vocab-sized input, never corpus-sized. The vocab collect
    * is a bounded limit(60) (the index-build discipline).
    *
    * Exactness: the walk is a pure integer function of the word; the
    * oracle replays it as a precomputed per-position jump table (LEFT
    * JOIN vocab, MAX piece length, fallback 1) driving a recursive-CTE
    * walk — same greedy choice at every step. Ratios are integer
    * division at 1e-6.
    */
  private val c4fe = QuerySpec(
    "c4_fertility",
    "Tokenizer fertility/coverage diagnostic: greedy longest-match segmentation of the Heaps-law distinct-word table under the c4_unigram_vocab top-60 seed (single-char fallback), per-source tokens-per-word and piece-char coverage at 1e-6 integer resolution.",
    Some("""WITH RECURSIVE wsrc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
              SELECT source,
                unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
              FROM documents)
              WHERE regexp_matches(w, '^[a-z]+$') GROUP BY source, w),
            w0 AS (SELECT w, CAST(SUM(cnt) AS BIGINT) AS cnt FROM wsrc GROUP BY w),
            ls AS (SELECT w, cnt, CAST(unnest(range(2, 7)) AS INTEGER) AS l FROM w0),
            subs AS (SELECT substr(w, CAST(unnest(range(1, length(w) - l + 2)) AS INTEGER), l) AS sub, cnt
              FROM ls WHERE length(w) >= l),
            vagg AS (SELECT sub, CAST(SUM(cnt) AS BIGINT) AS cnt FROM subs GROUP BY sub),
            vocab AS (SELECT sub FROM vagg
              ORDER BY cnt * length(sub) DESC, sub LIMIT 60),
            dw AS (SELECT DISTINCT w FROM w0),
            steps AS (SELECT w, CAST(unnest(range(1, length(w) + 1)) AS INTEGER) AS pos FROM dw),
            jmp AS (SELECT s.w, s.pos,
              CAST(COALESCE(MAX(length(v.sub)), 1) AS INTEGER) AS l
              FROM steps s LEFT JOIN vocab v ON substr(s.w, s.pos, length(v.sub)) = v.sub
              GROUP BY s.w, s.pos),
            walk(w, pos, toks, cov) AS (
              SELECT w, CAST(1 AS INTEGER), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM dw
              UNION ALL
              SELECT wk.w, wk.pos + j.l, wk.toks + 1,
                wk.cov + CASE WHEN j.l >= 2 THEN j.l ELSE 0 END
              FROM walk wk JOIN jmp j ON j.w = wk.w AND j.pos = wk.pos
              WHERE wk.pos <= length(wk.w)),
            fin AS (SELECT w, toks, cov FROM walk WHERE pos > length(w))
            SELECT wsrc.source,
              COUNT(*) AS n_distinct_words,
              CAST(SUM(wsrc.cnt) AS BIGINT) AS word_instances,
              CAST(SUM(wsrc.cnt * fin.toks) AS BIGINT) AS tok_total,
              CAST(SUM(wsrc.cnt * fin.toks) * 1000000 // SUM(wsrc.cnt) AS BIGINT) AS fertility_e6,
              CAST(SUM(wsrc.cnt * fin.cov) * 1000000 // SUM(wsrc.cnt * length(wsrc.w)) AS BIGINT) AS coverage_e6
            FROM wsrc JOIN fin ON wsrc.w = fin.w
            GROUP BY wsrc.source ORDER BY wsrc.source"""),
    (s, d) => {
      import s.implicits._
      val wsrc = CacheRegistry.persist(Tables.documents(s, d)
        .select($"source", explode(filter(split(lower($"text"), " "), t => t =!= "")).as("w"))
        .filter($"w".rlike("^[a-z]+$"))
        .groupBy($"source", $"w").agg(count(lit(1)).as("cnt")))
      val w0 = wsrc.groupBy($"w").agg(sum($"cnt").as("cnt"))
      val vocabRows = w0
        .select($"cnt", explode(flatten(transform(
          filter(sequence(lit(2), lit(6)), l => l <= length($"w")),
          l => transform(sequence(lit(1), length($"w") - l + 1),
            i => $"w".substr(i, l))))).as("sub"))
        .groupBy($"sub").agg(sum($"cnt").as("cnt"))
        .orderBy(($"cnt" * length($"sub")).desc, $"sub")
        .limit(60).select($"sub").collect().map(_.getString(0))
      val vocab = vocabRows.toSet
      val walkUdf = udf { (w: String) =>
        var pos = 0
        var toks = 0L
        var cov = 0L
        while (pos < w.length) {
          var l = math.min(6, w.length - pos)
          while (l >= 2 && !vocab.contains(w.substring(pos, pos + l))) l -= 1
          if (l >= 2) cov += l else l = 1
          toks += 1
          pos += l
        }
        (toks, cov)
      }
      val fin = w0.select($"w".as("fw"), walkUdf($"w").as("tc"))
        .select($"fw", $"tc._1".as("toks"), $"tc._2".as("cov"))
      wsrc.join(fin, $"w" === $"fw")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_distinct_words"),
          sum($"cnt").as("word_instances"),
          sum($"cnt" * $"toks").as("tok_total"),
          expr("sum(cnt * toks) * 1000000 div sum(cnt)").as("fertility_e6"),
          expr("sum(cnt * cov) * 1000000 div sum(cnt * length(w))").as("coverage_e6"))
        .orderBy($"source")
    }
  )

  // ---------------------------------------- duplicated-chunk removal (C4)
  /** Corpus-wide duplicated-chunk REMOVAL — the C4/CCNet step the
    * per-source statistics query (`c4_sentdedup`) only measures: split
    * every document into fixed 8-token chunks (the corpus has no sentence
    * punctuation, so windows stand in for lines; the tail keeps its
    * partial chunk, as real pipelines do), then keep only the FIRST
    * occurrence of each distinct chunk corpus-wide (first = min
    * (doc_id, chunk_idx)) and report per-source retention.
    *
    * Scale shape — deliberately NOT a window over the fingerprint:
    * boilerplate is the definition of a mega-key (one license header can
    * occur 10⁹ times at 100 TB), and `row_number() OVER (PARTITION BY
    * fp)` funnels every instance of it through one task. Instead the
    * first occurrence per chunk is a `min_by` HASH aggregate — associative,
    * so map-side partial aggregation collapses the mega-key to one row
    * per map task before the exchange — and per-source totals come from a
    * second independent partial-agged rollup; the two tiny per-source
    * frames join at the end. Nothing in the plan is sensitive to chunk
    * skew, and the shuffled payload is (md5, source, 2 longs), never the
    * chunk text.
    *
    * Exactness: all counts are integers; the retained ratio is integer
    * division at 1e-6 resolution (`x*1000000 div y`), identical in both
    * engines for non-negative operands. The (doc_id, idx) order rides a
    * composite scalar key `doc_id*1e6+idx` because DuckDB's `min_by`
    * rejects STRUCT ordering keys (idx < 1e6 always: it is a per-doc
    * chunk ordinal, bounded by doc length / 8).
    */
  private val c4cd = QuerySpec(
    "c4_chunk_dedup",
    "C4-style duplicated-chunk removal: 8-token chunks fingerprinted corpus-wide, first occurrence (min doc_id, idx) kept via skew-proof min_by hash agg (never a window over the fingerprint); per-source chunk/token retention at 1e-6 integer resolution.",
    Some("""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents),
            ch AS (SELECT doc_id, source,
              CAST(unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS BIGINT) AS idx,
              toks FROM t WHERE len(toks) > 0),
            inst AS (SELECT doc_id, source, idx,
              md5(array_to_string(toks[idx*8+1 : idx*8+8], ' ')) AS fp,
              CAST(len(toks[idx*8+1 : idx*8+8]) AS BIGINT) AS ctoks
              FROM ch),
            tot AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
              COUNT(*) AS n_chunks, CAST(SUM(ctoks) AS BIGINT) AS tok_total
              FROM inst GROUP BY source),
            firsts AS (SELECT fp,
              min_by(source, doc_id * 1000000 + idx) AS src_first,
              min_by(ctoks, doc_id * 1000000 + idx) AS ctoks_first
              FROM inst GROUP BY fp),
            kept AS (SELECT src_first AS source, COUNT(*) AS n_kept,
              CAST(SUM(ctoks_first) AS BIGINT) AS tok_kept
              FROM firsts GROUP BY src_first)
            SELECT t.source, t.n_docs, t.n_chunks, COALESCE(k.n_kept, 0) AS n_kept,
              t.tok_total, CAST(COALESCE(k.tok_kept, 0) AS BIGINT) AS tok_kept,
              CAST(COALESCE(k.tok_kept, 0) * 1000000 // t.tok_total AS BIGINT) AS retained_e6
            FROM tot t LEFT JOIN kept k ON t.source = k.source
            ORDER BY t.source"""),
    (s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d)
        .select($"doc_id", $"source", toksCol.as("toks"))
        .filter(size($"toks") > 0)
      val inst = CacheRegistry.persist(base
        .select($"doc_id", $"source", posexplode(transform(
          sequence(lit(0L), ceil(size($"toks") / 8.0).cast(LongType) - 1),
          j => struct(
            md5(array_join(slice($"toks", (j * 8 + 1).cast(IntegerType), lit(8)), " ")).as("fp"),
            size(slice($"toks", (j * 8 + 1).cast(IntegerType), lit(8))).cast(LongType).as("ctoks")))))
        .select($"doc_id", $"source", $"pos".cast(LongType).as("idx"),
          $"col.fp".as("fp"), $"col.ctoks".as("ctoks")))
      val tot = inst.groupBy($"source").agg(
        countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum($"ctoks").as("tok_total"))
      val kept = inst.groupBy($"fp").agg(
          min_by($"source", $"doc_id" * 1000000L + $"idx").as("src_first"),
          min_by($"ctoks", $"doc_id" * 1000000L + $"idx").as("ctoks_first"))
        .groupBy($"src_first").agg(
          count(lit(1)).as("n_kept"), sum($"ctoks_first").as("tok_kept"))
      tot.join(kept, $"source" === $"src_first", "left")
        .select($"source", $"n_docs", $"n_chunks",
          coalesce($"n_kept", lit(0L)).as("n_kept"), $"tok_total",
          coalesce($"tok_kept", lit(0L)).as("tok_kept"),
          expr("coalesce(tok_kept, 0L) * 1000000 div tok_total").as("retained_e6"))
        .orderBy($"source")
    }
  )

  // -------------------------------------- rejection-reasons filter report
  /** Quality-filter composite WITH per-rule attribution — the report a
    * training-data pipeline actually ships: not just "x % passed" (the
    * `c4_quality` blend) but WHICH Gopher-style rule rejected how many
    * documents per source, so a corpus regression points at its cause.
    * Six rules, all exact-integer comparisons (thresholds cross-multiplied
    * so no division ever happens): too short (<15 tokens), too long
    * (>120), mean word length outside [3,10] (`sumlen<3n ∨ sumlen>10n`),
    * stopword fraction <2 % (`50·stop<n`), top-unigram share >20 %
    * (`5·top1>n`), distinct-token fraction <40 % (`5·distinct<2n`).
    * Rules overlap (a doc can trip several); `n_pass` counts docs
    * tripping none; pass rate at 1e-6 integer resolution.
    *
    * Scale shape: every per-doc feature — token count, summed word
    * length, stopword hits, distinct count, max unigram run — is
    * computed MAP-SIDE with codegen higher-order functions (the max
    * multiplicity is a run-length fold over `array_sort`, not an
    * explode+groupBy: nothing corpus-wide happens before the one tiny
    * per-source rollup). The oracle replays the same features with
    * list lambdas (its max-multiplicity is the O(distinct·n) list form
    * — same value, oracle-scale only).
    */
  private val c4rr = QuerySpec(
    "c4_reject_reasons",
    "Gopher-style quality filter with per-rule attribution: per source, how many docs each of 6 exact-integer rules rejects (short/long/word-len/stopword/top-unigram/diversity), docs passing all, and the 1e-6 pass rate — all features map-side.",
    Some(s"""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents),
            f AS (SELECT doc_id, source,
              CAST(len(toks) AS BIGINT) AS n,
              CAST(list_sum(list_transform(toks, x -> CAST(len(x) AS BIGINT))) AS BIGINT) AS sumlen,
              CAST(len(list_filter(toks, x -> list_contains($stopSql, x))) AS BIGINT) AS nstop,
              CAST(len(list_distinct(toks)) AS BIGINT) AS ndist,
              CAST(list_max(list_transform(list_distinct(toks),
                t2 -> len(list_filter(toks, x -> x = t2)))) AS BIGINT) AS top1
              FROM t WHERE len(toks) > 0),
            r AS (SELECT source,
              CAST(n < 15 AS BIGINT) AS f_short,
              CAST(n > 120 AS BIGINT) AS f_long,
              CAST(sumlen < 3 * n OR sumlen > 10 * n AS BIGINT) AS f_wordlen,
              CAST(50 * nstop < n AS BIGINT) AS f_stoplow,
              CAST(5 * top1 > n AS BIGINT) AS f_rep,
              CAST(5 * ndist < 2 * n AS BIGINT) AS f_lowdiv
              FROM f)
            SELECT source, COUNT(*) AS n_docs,
              CAST(SUM(f_short) AS BIGINT) AS r_short,
              CAST(SUM(f_long) AS BIGINT) AS r_long,
              CAST(SUM(f_wordlen) AS BIGINT) AS r_wordlen,
              CAST(SUM(f_stoplow) AS BIGINT) AS r_stoplow,
              CAST(SUM(f_rep) AS BIGINT) AS r_rep,
              CAST(SUM(f_lowdiv) AS BIGINT) AS r_lowdiv,
              CAST(SUM(CASE WHEN f_short + f_long + f_wordlen + f_stoplow + f_rep + f_lowdiv = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
              CAST(SUM(CASE WHEN f_short + f_long + f_wordlen + f_stoplow + f_rep + f_lowdiv = 0
                THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS pass_e6
            FROM r GROUP BY source ORDER BY source"""),
    (s, d) => {
      import s.implicits._
      val stop = typedLit(TextStats.Stopwords)
      val sorted = array_sort(col("toks"))
      // run-length fold over the sorted tokens: state = (prev, run, best)
      val top1 = aggregate(sorted,
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (st, x) => {
          val run = when(x === st.getField("prev"), st.getField("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(st.getField("best"), run).as("best"))
        },
        st => st.getField("best"))
      val f = Tables.documents(s, d)
        .select($"doc_id", $"source", toksCol.as("toks"))
        .filter(size($"toks") > 0)
        .select($"source",
          size($"toks").cast(LongType).as("n"),
          aggregate(transform($"toks", x => length(x).cast(LongType)),
            lit(0L), (a, b) => a + b).as("sumlen"),
          size(filter($"toks", x => array_contains(stop, x))).cast(LongType).as("nstop"),
          size(array_distinct($"toks")).cast(LongType).as("ndist"),
          top1.as("top1"))
      val flags = f.select($"source",
        ($"n" < 15).cast(LongType).as("f_short"),
        ($"n" > 120).cast(LongType).as("f_long"),
        ($"sumlen" < $"n" * 3 || $"sumlen" > $"n" * 10).cast(LongType).as("f_wordlen"),
        ($"nstop" * 50 < $"n").cast(LongType).as("f_stoplow"),
        ($"top1" * 5 > $"n").cast(LongType).as("f_rep"),
        ($"ndist" * 5 < $"n" * 2).cast(LongType).as("f_lowdiv"))
      val all = $"f_short" + $"f_long" + $"f_wordlen" + $"f_stoplow" + $"f_rep" + $"f_lowdiv"
      flags.groupBy($"source").agg(
          count(lit(1)).as("n_docs"),
          sum($"f_short").as("r_short"), sum($"f_long").as("r_long"),
          sum($"f_wordlen").as("r_wordlen"), sum($"f_stoplow").as("r_stoplow"),
          sum($"f_rep").as("r_rep"), sum($"f_lowdiv").as("r_lowdiv"),
          sum(when(all === 0, 1L).otherwise(0L)).as("n_pass"))
        .select($"source", $"n_docs", $"r_short", $"r_long", $"r_wordlen",
          $"r_stoplow", $"r_rep", $"r_lowdiv", $"n_pass",
          expr("n_pass * 1000000 div n_docs").as("pass_e6"))
        .orderBy($"source")
    }
  )

  // ------------------------------------- cross-source duplicate overlap
  /** Cross-source duplication overlap matrix — the dedup diagnostic that
    * tells you WHICH sources copy from each other (mirror sites, feed
    * re-publishers, scraped aggregators) rather than just how many
    * duplicates exist: for every source pair (a <= b), the number of
    * duplicated 8-token chunks (the `c4_chunk_dedup` fingerprint) with
    * at least one occurrence in BOTH; the diagonal counts chunks
    * duplicated WITHIN the source (>= 2 instances). `c4_chunk_dedup`
    * removes the duplication; this query explains where it comes from —
    * which is what decides whether you drop a source entirely, dedup it,
    * or fix one upstream scraper. (Whole-document granularity was
    * measured vacuous on this corpus: zero exact-dup groups below
    * sf0.1; chunk granularity is where the sharing lives — the same
    * reason `c2_kcore` builds its graph there.)
    *
    * Scale shape: one distinct over (chunk fp, source) with a per-pair
    * instance count (partial-agged), then a self-equi-join on the
    * fingerprint — per-fp fan-out is bounded by |sources|² (a
    * catalog-sized constant, ~400 here), NEVER instance multiplicity (a
    * chunk duplicated 10⁹ times across 5 sources contributes 25 pairs,
    * not 10¹⁸); the matrix rollup is |sources|² rows.
    */
  private lazy val c1s = QuerySpec(
    "c1s_source_overlap",
    "Cross-source duplication overlap matrix at chunk granularity: per source pair (a<=b), duplicated 8-token chunks present in both (diagonal = chunks repeated within the source); distinct (fp, source) + per-fp self-join — fan-out bounded by |sources|^2, never instance multiplicity.",
    Some("""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents),
            ch AS (SELECT doc_id, source,
              CAST(unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS BIGINT) AS idx,
              toks FROM t WHERE len(toks) > 0),
            inst AS (SELECT source,
              md5(array_to_string(toks[idx*8+1 : idx*8+8], ' ')) AS fp
              FROM ch),
            fs AS (SELECT fp, source, COUNT(*) AS c FROM inst GROUP BY fp, source),
            p AS (SELECT a.fp, a.source AS src_a, b.source AS src_b
              FROM fs a JOIN fs b ON a.fp = b.fp AND a.source <= b.source
              WHERE a.source < b.source OR a.c >= 2)
            SELECT src_a, src_b, COUNT(*) AS n_chunks
            FROM p GROUP BY src_a, src_b
            ORDER BY src_a, src_b"""),
    (s, d) => {
      import s.implicits._
      val fs = CacheRegistry.persist(Tables.documents(s, d)
        .select($"source", toksCol.as("toks"))
        .filter(size($"toks") > 0)
        .select($"source", explode(transform(
          sequence(lit(0L), ceil(size($"toks") / 8.0).cast(LongType) - 1),
          j => md5(array_join(slice($"toks", (j * 8 + 1).cast(IntegerType), lit(8)), " ")))).as("fp"))
        .groupBy($"fp", $"source").agg(count(lit(1)).as("c")))
      val a = fs.select($"fp", $"source".as("src_a"), $"c")
      val b = fs.select($"fp".as("fp_b"), $"source".as("src_b"))
      a.join(b, $"fp" === $"fp_b" && $"src_a" <= $"src_b")
        .filter($"src_a" < $"src_b" || $"c" >= 2)
        .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_chunks"))
        .orderBy($"src_a", $"src_b")
    }
  )

  // ------------------------------- DSIR importance weights (c4_dsir)
  /** Data-selection importance weights — the DSIR recipe (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling", arXiv:2302.03169): score every document by how much
    * more likely its hashed-bigram features are under a TARGET
    * distribution (source 'src0' stands in for the high-quality
    * exemplar corpus) than under the raw pool —
    * log p_target(doc) − log p_raw(doc) under bag-of-hashed-bigram
    * unigram models with add-1 smoothing. Positive weight ⇒ looks like
    * the target; the selection signal that feeds temperature sampling
    * (c1l) or top-k retention upstream of training.
    *
    * Exactness (c4u discipline): each bigram instance contributes its
    * bucket's integer floor(ln(((ct+1)·(Tr+B)) / ((cr+1)·(Tt+B)))·1e6)
    * — the four operands are exact doubles (counts < 2^53) and the
    * mul/div/ln/mul/floor chain is written identically in both engines;
    * per-doc and per-source sums are exact BIGINTs. The mean avoids
    * integer division (Spark `div` truncates toward zero, DuckDB `//`
    * floors — they disagree on negatives): floor(double/double), same
    * as c4u's avg.
    *
    * Scale shape: bigrams hash map-side into B=256 buckets (2 md5 hex
    * chars); both count tables collapse to ≤B rows in one partial-agged
    * pass over the cached bigram frame; the ≤B-row log-ratio table and
    * the single-row totals ride BROADCASTS back over the posting list;
    * per-doc weights partial-aggregate. The corpus is tokenized once,
    * and the only driver traffic is the ratio table's bucket count.
    */
  private val DsirBuckets = 256
  private val c4di = QuerySpec(
    "c4_dsir",
    s"DSIR importance weights (hashed-bigram log-likelihood ratio vs target source src0, $DsirBuckets md5 buckets, add-1 smoothing): integer-quantized per-bucket log ratios broadcast over the posting list, exact per-doc/per-source sums, positive-weight census.",
    Some(s"""WITH a AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks FROM documents),
            bgi AS (SELECT doc_id, source, toks, unnest(range(1, len(toks))) AS i FROM a),
            bk AS (SELECT doc_id, source,
              CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS BIGINT) AS bucket
              FROM (SELECT doc_id, source,
                md5(toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)]) AS h
                FROM bgi) hh),
            cr AS (SELECT bucket, COUNT(*) AS cr FROM bk GROUP BY bucket),
            ct AS (SELECT bucket AS tb, COUNT(*) AS ct FROM bk WHERE source = 'src0' GROUP BY bucket),
            tot AS (SELECT CAST((SELECT COUNT(*) FROM bk) AS BIGINT) AS tr,
                           CAST((SELECT COUNT(*) FROM bk WHERE source = 'src0') AS BIGINT) AS tt),
            lr AS (SELECT cr.bucket,
              CAST(floor(ln(((CAST(COALESCE(ct.ct, 0) AS DOUBLE) + 1.0) * (CAST(tot.tr AS DOUBLE) + $DsirBuckets.0))
                / ((CAST(cr.cr AS DOUBLE) + 1.0) * (CAST(tot.tt AS DOUBLE) + $DsirBuckets.0))) * 1000000.0) AS BIGINT) AS lr_e6
              FROM cr LEFT JOIN ct ON cr.bucket = ct.tb CROSS JOIN tot),
            dw AS (SELECT bk.doc_id, bk.source, CAST(SUM(lr.lr_e6) AS BIGINT) AS w
              FROM bk JOIN lr ON bk.bucket = lr.bucket GROUP BY bk.doc_id, bk.source)
            SELECT source, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS w_sum_e6,
              CAST(floor(CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS w_mean_e6,
              CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive
            FROM dw GROUP BY source ORDER BY source"""),
    (s, d) => {
      import s.implicits._
      val bk = CacheRegistry.persist(Tables.documents(s, d)
        .select($"doc_id", $"source", toksCol.as("toks"))
        .filter(size($"toks") >= 2)
        .select($"doc_id", $"source",
          explode(transform(sequence(lit(1), size($"toks") - 1),
            i => concat_ws(" ", element_at($"toks", i), element_at($"toks", i + 1))))
            .as("bg"))
        .select($"doc_id", $"source",
          conv(substring(md5($"bg"), 1, 2), 16, 10).cast(LongType).as("bucket")))
      val cr = bk.groupBy($"bucket").agg(count(lit(1)).as("cr"))
      val ct = bk.filter($"source" === "src0")
        .groupBy($"bucket".as("tb")).agg(count(lit(1)).as("ct"))
      val tot = bk.agg(count(lit(1)).cast(LongType).as("tr"),
        sum(when($"source" === "src0", 1L).otherwise(0L)).cast(LongType).as("tt"))
      val b = lit(DsirBuckets.toDouble)
      val lr = cr.join(ct, $"bucket" === $"tb", "left")
        .crossJoin(broadcast(tot))
        .select($"bucket".as("lb"),
          floor(log(((coalesce($"ct", lit(0L)).cast(DoubleType) + 1.0) * ($"tr".cast(DoubleType) + b))
            / (($"cr".cast(DoubleType) + 1.0) * ($"tt".cast(DoubleType) + b))) * 1000000.0)
            .cast(LongType).as("lr_e6"))
      bk.join(broadcast(lr), $"bucket" === $"lb")
        .groupBy($"doc_id", $"source")
        .agg(sum($"lr_e6").cast(LongType).as("w"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"w").cast(LongType).as("w_sum_e6"),
          floor(sum($"w").cast(DoubleType) / count(lit(1)).cast(DoubleType))
            .cast(LongType).as("w_mean_e6"),
          sum(when($"w" > 0, 1L).otherwise(0L)).cast(LongType).as("n_positive"))
        .orderBy($"source")
    }
  )

  // --------------------------------------- Zipf law fit (c4_zipf)
  /** Zipf-law fit over the token frequency spectrum — the
    * is-this-corpus-natural-language diagnostic (a scraped corpus whose
    * rank–frequency slope sits far from −1 is boilerplate soup or
    * templated spam; the standard sanity plot behind every corpus
    * report). OLS of ln(freq) on ln(rank) over the top-k vocabulary:
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²-of-sums).
    *
    * Exactness: ln values quantize ONCE at 1e3 (coarse by design —
    * e6 would overflow BIGINT in the n·Σxy cross terms at k = 500:
    * 500·(ln(500)·1e6)² ≈ 2e19 > 2^63; at 1e3, n·Σxy ≤ ~1e13), so all
    * five moment sums are exact BIGINTs; the final slope is one IEEE
    * division + floor at 1e-6, identical text both engines.
    *
    * Scale shape: token counts partial-aggregate to vocabulary grain;
    * the top-k selection is orderBy+limit — TakeOrderedAndProject, a
    * per-partition k-merge, never a global sort; the rank window and
    * the regression run over k rows.
    */
  private val ZipfK = 500
  private val c4zp = QuerySpec(
    "c4_zipf",
    s"Zipf-law OLS fit over the top-$ZipfK token spectrum: vocab-grain counts (partial-agged), top-k by (freq desc, token) via TakeOrdered, ln(rank)/ln(freq) quantized at 1e3 into exact BIGINT moment sums, one final IEEE division for slope_e6.",
    Some(s"""WITH t AS (SELECT unnest(list_filter(string_split(lower(text), ' '), s -> s <> '')) AS token
              FROM documents),
            f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY token
              ORDER BY cnt DESC, token LIMIT $ZipfK),
            r AS (SELECT token, cnt,
              ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rnk FROM f),
            q AS (SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000.0) AS BIGINT) AS x,
                         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000.0) AS BIGINT) AS y FROM r),
            s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
              CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sx2
              FROM q)
            SELECT n, sx, sy, sxy, sx2,
              CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE) * 1000000.0
                / CAST(n * sx2 - sx * sx AS DOUBLE)) AS BIGINT) AS slope_e6
            FROM s"""),
    (s, d) => {
      import s.implicits._
      val f = Tables.documents(s, d)
        .select(explode(toksCol).as("token"))
        .groupBy($"token").agg(count(lit(1)).cast(LongType).as("cnt"))
        .orderBy($"cnt".desc, $"token").limit(ZipfK)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"cnt".desc, $"token")
      f.withColumn("rnk", row_number().over(w).cast(LongType))
        .select(floor(log($"rnk".cast(DoubleType)) * 1000.0).cast(LongType).as("x"),
          floor(log($"cnt".cast(DoubleType)) * 1000.0).cast(LongType).as("y"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum($"x").cast(LongType).as("sx"), sum($"y").cast(LongType).as("sy"),
          sum($"x" * $"y").cast(LongType).as("sxy"),
          sum($"x" * $"x").cast(LongType).as("sx2"))
        .select($"n", $"sx", $"sy", $"sxy", $"sx2",
          floor(($"n" * $"sxy" - $"sx" * $"sy").cast(DoubleType) * 1000000.0
            / ($"n" * $"sx2" - $"sx" * $"sx").cast(DoubleType))
            .cast(LongType).as("slope_e6"))
    }
  )

  // -------------------------- weighted top-k priority sampling (c1u)
  /** Fixed-size weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * priority sampling): each doc gets the deterministic priority
    * ln(u)/w — u a uniform md5-derived draw in (0,1), w = token count —
    * and the k largest priorities per source ARE a weighted
    * without-replacement sample (ES 2006, the one-pass/distributed
    * standard). [[c1f]]'s Bernoulli sampler keeps a RANDOM NUMBER of
    * rows; this keeps EXACTLY k per source — the shape a per-source
    * quota resample needs. u = (v + 0.5)/2^32 keeps the draw strictly
    * inside (0,1) (v = first 8 md5 hex chars), so ln never sees 0; the
    * ln/division chain is the same IEEE replay c4_unigram_ce proved
    * engine-identical; priorities are reported floor-e9 quantized.
    *
    * Scale shape: the draw and priority are map-side expressions; per-
    * source top-k is a source-partitioned window (WindowGroupLimit prunes
    * below rank k map-side); no join, no global sort.
    */
  private val PrioK = 10
  private val c1u = QuerySpec(
    "c1u_priority_sample",
    s"Weighted without-replacement sampling (Efraimidis-Spirakis priorities): top-$PrioK docs per source by ln(md5-uniform)/ntok — exactly k per source, heavier docs more likely, zero RNG; priorities floor-e9 quantized.",
    Some(s"""WITH t AS (SELECT doc_id, source,
              CAST(len(list_filter(string_split(lower(text), ' '), s -> s <> '')) AS BIGINT) AS ntok,
              ((CAST(strpos('0123456789abcdef', substr(md5(text), 1, 1)) AS BIGINT) - 1) * 268435456
               + (CAST(strpos('0123456789abcdef', substr(md5(text), 2, 1)) AS BIGINT) - 1) * 16777216
               + (CAST(strpos('0123456789abcdef', substr(md5(text), 3, 1)) AS BIGINT) - 1) * 1048576
               + (CAST(strpos('0123456789abcdef', substr(md5(text), 4, 1)) AS BIGINT) - 1) * 65536
               + (CAST(strpos('0123456789abcdef', substr(md5(text), 5, 1)) AS BIGINT) - 1) * 4096
               + (CAST(strpos('0123456789abcdef', substr(md5(text), 6, 1)) AS BIGINT) - 1) * 256
               + (CAST(strpos('0123456789abcdef', substr(md5(text), 7, 1)) AS BIGINT) - 1) * 16
               + (CAST(strpos('0123456789abcdef', substr(md5(text), 8, 1)) AS BIGINT) - 1)) AS v
              FROM documents),
            p AS (SELECT doc_id, source, ntok,
              ln((CAST(v AS DOUBLE) + 0.5) / 4294967296.0) / CAST(ntok AS DOUBLE) AS pri
              FROM t WHERE ntok >= 1),
            r AS (SELECT doc_id, source, ntok, pri,
              ROW_NUMBER() OVER (PARTITION BY source ORDER BY pri DESC, doc_id) AS rn
              FROM p)
            SELECT source, CAST(rn AS BIGINT) AS rn, doc_id, ntok,
              CAST(floor(pri * 1000000000.0) AS BIGINT) AS pri_e9
            FROM r WHERE rn <= $PrioK ORDER BY source, rn"""),
    (s, d) => {
      import s.implicits._
      val ntok = size(toksCol).cast(LongType)
      val v = conv(substring(md5($"text"), 1, 8), 16, 10).cast(LongType)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"pri".desc, $"doc_id")
      Tables.documents(s, d)
        .select($"doc_id", $"source", ntok.as("ntok"), v.as("v"))
        .filter($"ntok" >= 1)
        .withColumn("pri",
          log(($"v".cast(DoubleType) + 0.5) / 4294967296.0) / $"ntok".cast(DoubleType))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter($"rn" <= PrioK)
        .select($"source", $"rn", $"doc_id", $"ntok",
          floor($"pri" * 1000000000.0).cast(LongType).as("pri_e9"))
        .orderBy($"source", $"rn")
    }
  )

  // -------------------------------------- k-fold CV assignment (c1t_kfold)
  /** K-fold cross-validation assignment with a stratification audit — the
    * CV companion to [[c1d]]'s train/val/test split, with the same
    * leakage-safety: folds are keyed on the content FINGERPRINT (md5 of
    * normalized text), so exact duplicates always land in the same fold.
    * `fold = first-4-hex-chars(fp) mod 5` — 65536 mod 5 = 1 leaves a
    * one-in-65536 bias toward fold 0, negligible and exactly replayable
    * (DuckDB parses the hex via the strpos chain, Spark via conv(_,16,10);
    * both yield the identical integer). The census is per (fold, source):
    * the balance view that tells you whether a fold accidentally
    * concentrates one source — the stratification failure CV quietly
    * suffers when sources differ in size.
    *
    * Scale shape: map-side assignment (no shuffle to assign), one
    * partial-agg census into |folds|×|sources| cells.
    */
  private val c1t = QuerySpec(
    "c1t_kfold",
    "Leakage-safe 5-fold CV assignment: content-fingerprint groups folded by first-4-hex mod 5 (duplicates can never straddle folds), censused per (fold, source) with doc/group/token counts — the stratification balance audit.",
    Some("""WITH t AS (SELECT doc_id, source,
              array_to_string(list_filter(string_split(lower(text), ' '), s -> s <> ''), ' ') AS norm
              FROM documents),
            f AS (SELECT doc_id, source, md5(norm) AS fp,
              CAST(len(list_filter(string_split(norm, ' '), s -> s <> '')) AS BIGINT) AS toks
              FROM t),
            a AS (SELECT doc_id, source, fp, toks,
              ((CAST(strpos('0123456789abcdef', substr(fp, 1, 1)) AS BIGINT) - 1) * 4096
               + (CAST(strpos('0123456789abcdef', substr(fp, 2, 1)) AS BIGINT) - 1) * 256
               + (CAST(strpos('0123456789abcdef', substr(fp, 3, 1)) AS BIGINT) - 1) * 16
               + (CAST(strpos('0123456789abcdef', substr(fp, 4, 1)) AS BIGINT) - 1)) % 5 AS fold
              FROM f)
            SELECT fold, source, COUNT(*) AS n_docs,
              COUNT(DISTINCT fp) AS n_groups,
              CAST(SUM(toks) AS BIGINT) AS n_tokens
            FROM a GROUP BY fold, source ORDER BY fold, source"""),
    (s, d) => {
      import s.implicits._
      val norm = array_join(filter(split(lower($"text"), " "), t => t =!= ""), " ")
      Tables.documents(s, d)
        .select($"source", md5(norm).as("fp"),
          size(filter(split(norm, " "), t => t =!= "")).cast(LongType).as("toks"))
        .withColumn("fold", (conv(substring($"fp", 1, 4), 16, 10).cast(LongType) % 5))
        .groupBy($"fold", $"source")
        .agg(count(lit(1)).as("n_docs"), countDistinct($"fp").as("n_groups"),
          sum($"toks").cast(LongType).as("n_tokens"))
        .orderBy($"fold", $"source")
    }
  )

  // ----------------------------------- lexical diversity profile (c4_ttr)
  /** Type-token ratio + hapax profile per document — the lexical-diversity
    * leg of a quality filter (template/boilerplate docs have low TTR; OCR
    * noise and word salad have TTR near 1 with a fat hapax tail — the two
    * signals separate failure modes the stopword/length heuristics of
    * [[c4q]] can't). Ratios are exact integer e6 divisions (`div` / `//`)
    * — zero float ops, bit-identical on both engines.
    *
    * Scale shape: ONE partial-agg shuffle keyed (doc_id, token) builds the
    * per-doc term-frequency rows (map-side combine absorbs the Zipf head),
    * then a second doc-keyed agg folds them to counts — never the O(L²)
    * per-row array scan a naive `filter(toks, …)` formulation would cost
    * on 10k-token documents.
    */
  private val c4tt = QuerySpec(
    "c4_ttr",
    "Lexical diversity per document: token/type/hapax counts with exact integer TTR and hapax ratios (e6) — the diversity leg of a quality filter; one (doc, token) partial-agg shuffle, no float ops.",
    Some("""WITH t AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), s -> s <> '')) AS token
              FROM documents),
            g AS (SELECT doc_id, token, COUNT(*) AS cnt FROM t GROUP BY doc_id, token)
            SELECT doc_id,
              CAST(SUM(cnt) AS BIGINT) AS n_tokens,
              COUNT(*) AS n_types,
              CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 END), 0) AS BIGINT) AS hapax,
              CAST((COUNT(*) * 1000000) // SUM(cnt) AS BIGINT) AS ttr_e6,
              CAST((COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 END), 0) * 1000000) // SUM(cnt) AS BIGINT) AS hapax_e6
            FROM g GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", explode(toksCol).as("token"))
        .groupBy($"doc_id", $"token").agg(count(lit(1)).as("cnt"))
        .groupBy($"doc_id")
        .agg(sum($"cnt").cast(LongType).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when($"cnt" === 1, 1L).otherwise(0L)).cast(LongType).as("hapax"))
        .select($"doc_id", $"n_tokens", $"n_types", $"hapax",
          expr("(n_types * 1000000L) div n_tokens").as("ttr_e6"),
          expr("(hapax * 1000000L) div n_tokens").as("hapax_e6"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------ collocation mining by lift (c4_pmi)
  /** PMI-ranked collocations — the phrase-mining step of a tokenizer/
    * vocab pipeline (which bigrams behave as single lexical units). For a
    * fixed corpus, PMI = ln(N·c(xy)/(c(x)·c(y))) is a monotone function of
    * the lift ratio c(xy)/(c(x)·c(y)) (N is constant), so the ranking is
    * computed WITHOUT any float log: `lift_e9 = c(xy)·1e9 div (c(x)·c(y))`
    * is one exact BIGINT multiply + integer divide on both engines
    * (`div` / `//`), bit-identical by construction — the b97/c4_entropy
    * integer discipline. Min-support c(xy) ≥ 5 kills the hapax pairs that
    * dominate raw PMI (the classic failure mode of unsmoothed PMI).
    *
    * Scale shape: bigram extraction is map-side (transform over the token
    * array — no window); the unigram/bigram count tables are partial-agg
    * shuffles; the two probe joins run AFTER the ≥5 support filter, so the
    * probe side is the collocation candidates (tiny), not the corpus —
    * at 100 TB the unigram table is Heaps-law bounded and the candidate
    * table support-bounded, so both joins broadcast. Top-100 is
    * TakeOrdered (no global sort), ties broken by the (prev, cur) key.
    */
  private val c4pm = QuerySpec(
    "c4_pmi",
    "Collocation mining: top-100 bigrams by exact integer PMI lift (c_xy*1e9 div (c_x*c_y), min-support 5) — phrase detection for vocab building with zero float ops in the ranking.",
    Some("""WITH a AS (SELECT list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            t AS (SELECT unnest(toks) AS token FROM a),
            f AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
            bgi AS (SELECT toks, unnest(range(1, len(toks))) AS i FROM a),
            bg AS (SELECT toks[CAST(i AS INTEGER)] AS prev, toks[CAST(i + 1 AS INTEGER)] AS cur FROM bgi),
            b AS (SELECT prev, cur, COUNT(*) AS c_xy FROM bg GROUP BY prev, cur HAVING COUNT(*) >= 5)
            SELECT b.prev, b.cur, b.c_xy, fx.cnt AS c_x, fy.cnt AS c_y,
              CAST((b.c_xy * 1000000000) // (fx.cnt * fy.cnt) AS BIGINT) AS lift_e9
            FROM b JOIN f fx ON b.prev = fx.token JOIN f fy ON b.cur = fy.token
            ORDER BY lift_e9 DESC, prev, cur LIMIT 100"""),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val toks = CacheRegistry.persist(docs.select(toksCol.as("toks")))
      val f = toks.select(explode($"toks").as("token"))
        .groupBy($"token").agg(count(lit(1)).as("cnt"))
      // size<2 guard BEFORE sequence — Spark's sequence(1, 0) counts down
      // instead of yielding empty (the c4_bigram_ce pitfall)
      val b = toks.filter(size($"toks") >= 2)
        .select(explode(transform(sequence(lit(1), size($"toks") - 1),
          i => struct(element_at($"toks", i).as("prev"),
            element_at($"toks", i + 1).as("cur")))).as("p"))
        .select($"p.prev".as("prev"), $"p.cur".as("cur"))
        .groupBy($"prev", $"cur").agg(count(lit(1)).as("c_xy"))
        .filter($"c_xy" >= 5)
      b.join(f.select($"token".as("prev"), $"cnt".as("c_x")), Seq("prev"))
        .join(f.select($"token".as("cur"), $"cnt".as("c_y")), Seq("cur"))
        .select($"prev", $"cur", $"c_xy", $"c_x", $"c_y",
          expr("c_xy * 1000000000L div (c_x * c_y)").cast(LongType).as("lift_e9"))
        .orderBy($"lift_e9".desc, $"prev", $"cur")
        .limit(100)
    }
  )

  // ----------------------------- Good-Turing count-of-counts (c4gt)
  /** Good–Turing frequency-of-frequencies — the smoothing table every
    * n-gram LM and every "how much tail am I cutting" data decision rests
    * on: S(r) = how many distinct words occur exactly r times, the GT
    * adjusted count r* = (r+1)·S(r+1)/S(r), and the probability mass
    * observed at count r. S(1)/N (the r=1 row's mass) is the classic
    * estimate of UNSEEN-type mass — the number a corpus curator reads to
    * decide whether more data still buys new vocabulary, and the
    * principled companion to the Heaps/Zipf diagnostics ([[c4zp]]).
    *
    * Exactness: the whole table is integer — S(r) and N are counts, and
    * both ratios are BIGINT integer division at 1e-6 (`div` / `//`), so
    * no IEEE chain is needed at all; ties/rounding cannot differ.
    *
    * The unit is the word TRIGRAM — the n where GT smoothing actually
    * gets used (unigram vocabularies saturate; trigram type space stays
    * r=1-dominated at any corpus size, so S(r) is rich where the
    * estimator matters).
    *
    * Scale shape: one corpus-wide adjacency explosion into the
    * distinct-trigram rollup (the c4_bigram_ce map-side transform, one
    * gram deeper), then a second agg on the COUNT — output is
    * |{distinct r}| rows, hundreds at any corpus size, so the self-join
    * on r+1 and the single-row total crossJoin are driver-trivial
    * broadcasts.
    */
  private val c4gt = QuerySpec(
    "c4_good_turing",
    "Good-Turing count-of-counts over word trigrams: S(r) distinct grams at count r (r<=20), adjusted count r*=(r+1)S(r+1)/S(r), and observed mass r*S(r)/N — all-BIGINT integer division at 1e-6, no IEEE anywhere; one adjacency rollup + one tiny agg.",
    Some("""WITH a AS (SELECT list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            gi AS (SELECT toks, unnest(range(1, len(toks) - 1)) AS i FROM a WHERE len(toks) >= 3),
            g AS (SELECT toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)]
                || ' ' || toks[CAST(i + 2 AS INTEGER)] AS g FROM gi),
            w0 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY g),
            ff AS (SELECT cnt AS r, CAST(COUNT(*) AS BIGINT) AS s_r FROM w0 GROUP BY cnt),
            tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tok FROM w0)
            SELECT a.r, a.s_r,
              CAST((a.r + 1) * coalesce(b.s_r, 0) * 1000000 // a.s_r AS BIGINT) AS gt_e6,
              CAST(a.r * a.s_r * 1000000 // tot.tok AS BIGINT) AS mass_e6
            FROM ff a LEFT JOIN ff b ON b.r = a.r + 1 CROSS JOIN tot
            WHERE a.r <= 20 ORDER BY a.r"""),
    (s, d) => {
      import s.implicits._
      // size<3 guard BEFORE sequence — the c4_bigram_ce phantom-gram
      // discipline (Spark's sequence counts DOWN when hi < lo)
      val words = Tables.documents(s, d)
        .select(toksCol.as("toks"))
        .filter(size($"toks") >= 3)
        .select(explode(transform(sequence(lit(1), size($"toks") - 2),
          i => concat_ws(" ", element_at($"toks", i),
            element_at($"toks", i + 1), element_at($"toks", i + 2)))).as("g"))
        .groupBy($"g").agg(count(lit(1)).as("cnt"))
      val ff = words.groupBy($"cnt".as("r")).agg(count(lit(1)).as("s_r"))
      val nxt = ff.select(($"r" - 1).as("r"), $"s_r".as("s_next"))
      val tot = words.agg(sum($"cnt").as("tok"))
      ff.join(nxt, Seq("r"), "left")
        .crossJoin(broadcast(tot))
        .filter($"r" <= 20)
        .select($"r", $"s_r",
          expr("CAST(((r + 1) * coalesce(s_next, 0L) * 1000000) div s_r AS BIGINT)").as("gt_e6"),
          expr("CAST((r * s_r * 1000000) div tok AS BIGINT)").as("mass_e6"))
        .orderBy($"r")
    }
  )

  // ------------------------------ Stupid Backoff held-out scorer (c4sb)
  /** Stupid Backoff bigram scoring on a held-out split — the web-scale LM
    * quality filter (Brants et al. 2007, "Large Language Models in
    * Machine Translation"): S(w|v) = c(v,w)/c(v) when the bigram was seen
    * in training, else 0.4·c(w)/N — no discounting, no normalization,
    * which is exactly why it's THE smoothing used at data-pipeline scale
    * (Katz's α/β bookkeeping needs a per-context pass; this needs three
    * count tables). Unlike [[c4bg]] (self-scored, so backoff can never
    * fire), this trains on the md5-first-half docs and scores the other
    * half — held-out bigrams genuinely take the backoff path, and the
    * per-doc backoff count is emitted as its own diagnostic. OOV words
    * (impossible on this closed-vocab corpus, live in production) get the
    * 1e-9 floor branch.
    *
    * Exactness: one ln over a CASE of IEEE division chains written
    * identically in both engines, floor-quantized at 1e-6 PER INSTANCE so
    * per-doc sums are order-free (the c4u discipline).
    *
    * Scale shape: three count tables (unigram, bigram, one-row total) via
    * partial-agged rollups; scoring is posting-list equi-joins from the
    * held-out adjacency onto those tables — the Zipf-head skew on the
    * bigram probe is AQE-split like c4u/c4bg, and nothing is ever
    * corpus×corpus.
    */
  private val c4sb = QuerySpec(
    "c4_stupid_backoff",
    "Stupid Backoff held-out scorer: bigram counts from the md5-half train split score the other half's docs; seen c(v,w)/c(v), unseen 0.4*c(w)/N, OOV 1e-9 floor, per-instance 1e-6 quantization — per-doc NLL sum/avg + backoff/OOV counts; three rollups + posting-list joins.",
    Some("""WITH tr AS (SELECT text FROM documents
              WHERE substring(md5(text), 1, 1) IN ('0','1','2','3','4','5','6','7')),
            sc AS (SELECT doc_id, text FROM documents
              WHERE substring(md5(text), 1, 1) NOT IN ('0','1','2','3','4','5','6','7')),
            cu AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cuc FROM (
              SELECT unnest(list_filter(string_split(lower(text), ' '), s -> s <> '')) AS w FROM tr)
              GROUP BY w),
            tot AS (SELECT CAST(SUM(cuc) AS BIGINT) AS ntok FROM cu),
            trb AS (SELECT p.v AS v, p.w AS w FROM (
              SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> {'v': toks[i], 'w': toks[i+1]})) AS p FROM (
              SELECT list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks FROM tr)
              WHERE len(toks) >= 2)),
            cb AS (SELECT v, w, CAST(COUNT(*) AS BIGINT) AS cbc FROM trb GROUP BY v, w),
            scb AS (SELECT doc_id, p.v AS v, p.w AS w FROM (
              SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> {'v': toks[i], 'w': toks[i+1]})) AS p FROM (
              SELECT doc_id, list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks FROM sc)
              WHERE len(toks) >= 2)),
            j AS (SELECT g.doc_id, cb.cbc, cuv.cuc AS cuv, cuw.cuc AS cuw,
                CAST(floor(ln(CASE
                  WHEN cb.cbc IS NOT NULL THEN CAST(cb.cbc AS DOUBLE) / CAST(cuv.cuc AS DOUBLE)
                  WHEN cuw.cuc IS NOT NULL THEN 0.4 * CAST(cuw.cuc AS DOUBLE) / CAST(tot.ntok AS DOUBLE)
                  ELSE 0.000000001 END) * 1000000.0) AS BIGINT) AS mlp
              FROM scb g
              LEFT JOIN cb ON cb.v = g.v AND cb.w = g.w
              LEFT JOIN cu cuv ON cuv.w = g.v
              LEFT JOIN cu cuw ON cuw.w = g.w
              CROSS JOIN tot)
            SELECT doc_id, COUNT(*) AS n_big,
              CAST(SUM(CASE WHEN cbc IS NULL AND cuw IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
              CAST(SUM(CASE WHEN cbc IS NULL AND cuw IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
              CAST(-SUM(mlp) AS BIGINT) AS nll_sum_e6,
              CAST(floor(CAST(-SUM(mlp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_nll_e6
            FROM j GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val isTrain = substring(md5($"text"), 1, 1)
        .isin("0", "1", "2", "3", "4", "5", "6", "7")
      def bigrams(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame = df
        .select(cols :+ toksCol.as("toks"): _*)
        .filter(size($"toks") >= 2) // the c4bg phantom-bigram guard
        .select(cols :+ explode(transform(sequence(lit(1), size($"toks") - 1),
          i => struct(element_at($"toks", i).as("v"),
            element_at($"toks", i + 1).as("w")))).as("p"): _*)
        .select(cols :+ $"p.v".as("v") :+ $"p.w".as("w"): _*)
      val tr = docs.filter(isTrain)
      val cu = CacheRegistry.persist(tr
        .select(explode(toksCol).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("cuc")))
      val tot = cu.agg(sum($"cuc").as("ntok"))
      val cb = bigrams(tr).groupBy($"v", $"w").agg(count(lit(1)).as("cbc"))
      bigrams(docs.filter(!isTrain), $"doc_id")
        .join(cb, Seq("v", "w"), "left")
        .join(cu.select($"w".as("v"), $"cuc".as("cuv")), Seq("v"), "left")
        .join(cu.select($"w", $"cuc".as("cuw")), Seq("w"), "left")
        .crossJoin(broadcast(tot))
        .select($"doc_id", $"cbc", $"cuw",
          expr("""CAST(floor(ln(CASE
            WHEN cbc IS NOT NULL THEN CAST(cbc AS DOUBLE) / CAST(cuv AS DOUBLE)
            WHEN cuw IS NOT NULL THEN 0.4 * CAST(cuw AS DOUBLE) / CAST(ntok AS DOUBLE)
            ELSE 0.000000001 END) * 1000000.0) AS BIGINT)""").as("mlp"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_big"),
          sum(when($"cbc".isNull && $"cuw".isNotNull, 1L).otherwise(0L)).as("n_backoff"),
          sum(when($"cbc".isNull && $"cuw".isNull, 1L).otherwise(0L)).as("n_oov"),
          (-sum($"mlp")).cast(LongType).as("nll_sum_e6"))
        .select($"doc_id", $"n_big", $"n_backoff", $"n_oov", $"nll_sum_e6",
          floor($"nll_sum_e6".cast(DoubleType) / $"n_big".cast(DoubleType))
            .cast(LongType).as("avg_nll_e6"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------------- per-source data card (c4dc2)
  /** Per-source data card — the one-row-per-source datasheet a corpus
    * release ships (Datasheets for Datasets, Gebru et al.; every open
    * pretraining corpus publishes this table): volume (docs, tokens,
    * chars, average length), exact-duplicate rate, vocabulary size, and
    * the dominant language with its share. Composes ONLY cheap exact
    * metrics so the card is a single corpus scan plus one token
    * explosion — the expensive diagnostics (near-dup rate, quality
    * blends, drift) stay their own queries; this is the index page.
    *
    * Exactness: counts, distincts (md5 text identity), and integer
    * divisions at ppm — nothing float anywhere. Dominant language ties
    * break lexicographically on both engines (row_number ORDER BY cnt
    * DESC, lang).
    *
    * Scale shape: three partial-agged rollups keyed on source (plus one
    * on (source, lang)) and |sources|-sized joins — the corpus shuffles
    * only for the token explosion all vocabulary metrics already pay.
    */
  private val c4dc2 = QuerySpec(
    "c4_datacard",
    "Per-source data card (the corpus datasheet): docs, tokens, chars, integer avg length, exact-dup ppm (md5 identity), vocab size, dominant language + ppm share — all-exact counts and integer division, three source-keyed rollups, no floats.",
    Some("""WITH base AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(length(text)) AS BIGINT) AS n_chars,
              CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct
              FROM documents GROUP BY source),
            tk AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types FROM (
                SELECT source, unnest(list_filter(string_split(lower(text), ' '), s -> s <> '')) AS w
                FROM documents) GROUP BY source),
            lg AS (SELECT source, lang AS top_lang, cnt FROM (
              SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt,
                row_number() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang) AS rn
              FROM documents GROUP BY source, lang) WHERE rn = 1)
            SELECT b.source, b.n_docs, t.n_tokens, b.n_chars,
              CAST(b.n_chars // b.n_docs AS BIGINT) AS avg_len,
              CAST((b.n_docs - b.n_distinct) * 1000000 // b.n_docs AS BIGINT) AS exact_dup_ppm,
              t.n_types, l.top_lang,
              CAST(l.cnt * 1000000 // b.n_docs AS BIGINT) AS top_lang_ppm
            FROM base b JOIN tk t ON t.source = b.source JOIN lg l ON l.source = b.source
            ORDER BY b.source"""),
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val base = docs.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length($"text")).cast(LongType).as("n_chars"),
          countDistinct(md5($"text")).as("n_distinct"))
      val tk = docs.select($"source", explode(toksCol).as("w"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tokens"), countDistinct($"w").as("n_types"))
      val lg = docs.groupBy($"source", $"lang").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"source").orderBy($"cnt".desc, $"lang")))
        .filter($"rn" === 1)
        .select($"source", $"lang".as("top_lang"), $"cnt")
      base.join(tk, Seq("source")).join(lg, Seq("source"))
        .select($"source", $"n_docs", $"n_tokens", $"n_chars",
          expr("CAST(n_chars div n_docs AS BIGINT)").as("avg_len"),
          expr("CAST((n_docs - n_distinct) * 1000000 div n_docs AS BIGINT)").as("exact_dup_ppm"),
          $"n_types", $"top_lang",
          expr("CAST(cnt * 1000000 div n_docs AS BIGINT)").as("top_lang_ppm"))
        .orderBy($"source")
    }
  )

  // ------------------------------------- readability score (c4_readability)
  /** Flesch reading ease per document — the readability leg of a quality
    * filter (too-hard text is OCR noise or jargon walls; too-easy is
    * boilerplate/listicles; pretraining mixes often band-pass on it).
    * Syllables use the standard vowel-group heuristic (`[aeiouy]+` runs —
    * a run can never span a space, so the whole-doc regex count equals
    * the per-word sum); sentences are `[.!?]+` runs floored at 1. The
    * three inputs are exact integers; the score is ONE fixed-association
    * IEEE chain `(206.835 − 1.015·w/s) − 84.6·(sy/w)` floored at e2 —
    * replayed verbatim by the oracle (the c4_kl_drift discipline).
    *
    * Scale shape: pure map-side regex counting + presentation sort — the
    * 100 TB shape is scan → per-row count → write.
    */
  private val c4rd = QuerySpec(
    "c4_readability",
    "Flesch reading ease per document: exact integer word/sentence/vowel-group-syllable counts, score as one fixed-association IEEE chain floored at e2 — the readability band-pass of a quality filter; map-side only.",
    Some("""WITH c AS (SELECT doc_id,
              GREATEST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')), 1) AS w,
              GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS sn,
              len(regexp_extract_all(lower(text), '[aeiouy]+')) AS sy
            FROM documents)
            SELECT doc_id, CAST(w AS BIGINT) AS n_words, CAST(sn AS BIGINT) AS n_sents,
              CAST(sy AS BIGINT) AS n_syll,
              CAST(floor((206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(sn AS DOUBLE))
                - 84.6 * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE))) * 100.0) AS BIGINT) AS flesch_e2
            FROM c ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          greatest(size(toksCol), lit(1)).cast(LongType).as("n_words"),
          greatest(expr("size(regexp_extract_all(text, '[.!?]+', 0))"), lit(1))
            .cast(LongType).as("n_sents"),
          expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))")
            .cast(LongType).as("n_syll"))
        .select($"doc_id", $"n_words", $"n_sents", $"n_syll",
          floor((lit(206.835)
            - lit(1.015) * ($"n_words".cast(DoubleType) / $"n_sents".cast(DoubleType))
            - lit(84.6) * ($"n_syll".cast(DoubleType) / $"n_words".cast(DoubleType))) * 100.0)
            .cast(LongType).as("flesch_e2"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------------- Heaps-law curve (c4_heaps)
  /** Vocabulary-growth (Heaps' law) curve — the corpus census a tokenizer
    * team reads before sizing a vocab: cumulative distinct types vs
    * cumulative tokens at 20 corpus-prefix checkpoints (prefix = docs with
    * id ≤ max_id·k/20). Every metric is an exact integer; each type is
    * attributed to the checkpoint of its FIRST document, so the corpus is
    * token-exploded exactly once.
    *
    * Scale shape: per-doc token counts and per-type first-doc are both
    * partial-agg shuffles; each then folds to ≤20 bucket rows via an
    * integer ceil-div key (1-row max_id broadcast fold), and the only
    * window is the cumulative sum over the FIXED 20-row checkpoint grid —
    * the bounded-rollup-frame discipline, never a corpus-grain window.
    */
  private val HeapsK = 20
  private val c4hp = QuerySpec(
    "c4_heaps",
    s"Heaps-law vocabulary growth: cumulative docs/tokens/distinct types at $HeapsK corpus-prefix checkpoints (doc_id ceil-div buckets, first-doc type attribution); all-integer, one token explosion, windows only over the fixed $HeapsK-row grid.",
    Some(s"""WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents),
            d AS (SELECT doc_id, len(toks) AS ntok FROM t),
            m AS (SELECT MAX(doc_id) AS max_id FROM d),
            dk AS (SELECT GREATEST((doc_id * $HeapsK + max_id - 1) // max_id, 1) AS k, ntok
              FROM d CROSS JOIN m),
            db AS (SELECT k, COUNT(*) AS docs_in, SUM(ntok) AS toks_in FROM dk GROUP BY k),
            w AS (SELECT token, MIN(doc_id) AS first_doc
              FROM (SELECT doc_id, unnest(toks) AS token FROM t) u GROUP BY token),
            wk AS (SELECT GREATEST((first_doc * $HeapsK + max_id - 1) // max_id, 1) AS k
              FROM w CROSS JOIN m),
            wb AS (SELECT k, COUNT(*) AS vocab_in FROM wk GROUP BY k),
            g AS (SELECT CAST(k AS BIGINT) AS k FROM range(1, ${HeapsK + 1}) r(k))
            SELECT g.k,
              CAST(SUM(COALESCE(db.docs_in, 0)) OVER (ORDER BY g.k) AS BIGINT) AS cum_docs,
              CAST(SUM(COALESCE(db.toks_in, 0)) OVER (ORDER BY g.k) AS BIGINT) AS cum_tokens,
              CAST(SUM(COALESCE(wb.vocab_in, 0)) OVER (ORDER BY g.k) AS BIGINT) AS cum_vocab
            FROM g LEFT JOIN db ON db.k = g.k LEFT JOIN wb ON wb.k = g.k
            ORDER BY g.k"""),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val perDoc = docs.select($"doc_id", size(toksCol).cast(LongType).as("ntok"))
      val mx = perDoc.agg(max($"doc_id").as("max_id"))
      val bucket = greatest(expr(s"(doc_id * $HeapsK + max_id - 1) div max_id"), lit(1L))
      val db = perDoc.crossJoin(broadcast(mx))
        .select(bucket.as("k"), $"ntok")
        .groupBy($"k").agg(count(lit(1)).as("docs_in"), sum($"ntok").as("toks_in"))
      val wb = docs.select($"doc_id", explode(toksCol).as("token"))
        .groupBy($"token").agg(min($"doc_id").as("doc_id"))
        .crossJoin(broadcast(mx))
        .select(bucket.as("k"))
        .groupBy($"k").agg(count(lit(1)).as("vocab_in"))
      // cumulative over the FIXED 20-row checkpoint grid only
      val w = org.apache.spark.sql.expressions.Window.orderBy($"k")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      s.range(1, HeapsK + 1).toDF("k")
        .join(db, Seq("k"), "left").join(wb, Seq("k"), "left")
        .na.fill(0L, Seq("docs_in", "toks_in", "vocab_in"))
        .select($"k",
          sum($"docs_in").over(w).cast(LongType).as("cum_docs"),
          sum($"toks_in").over(w).cast(LongType).as("cum_tokens"),
          sum($"vocab_in").over(w).cast(LongType).as("cum_vocab"))
        .orderBy($"k")
    }
  )

  // ------------------------------------- term burstiness (c4_burstiness)
  /** Word burstiness census — variance-to-mean ratio of per-document
    * counts over ALL documents for the 50 highest-frequency terms: the
    * classic content-vs-function-word separator (function words spread
    * evenly, VMR ≈ 1+; topical terms clump into few docs, VMR ≫ 1) a
    * stopword-list builder and a TF-IDF sanity check both read. With
    * N docs, VMR = σ²/μ = (N·Σc² − (Σc)²)/(N·Σc) — all-integer inputs,
    * quantized by ONE exact integer e3 division (zero float ops).
    *
    * Scale shape: one (doc, token) partial-agg shuffle, one token-grain
    * rollup, a 1-row doc-count broadcast fold, TakeOrdered top-50.
    */
  private val c4bu = QuerySpec(
    "c4_burstiness",
    "Term burstiness (variance-to-mean ratio of per-doc counts, all docs) for the top-50 corpus terms: exact integer (N*S2 - C^2)*1000 div (N*C) — the content/function-word separator; one partial-agg shuffle + token rollup + TakeOrdered.",
    Some("""WITH t AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
              FROM documents),
            g AS (SELECT doc_id, token, COUNT(*) AS cnt FROM t GROUP BY doc_id, token),
            st AS (SELECT token, COUNT(*) AS df, SUM(cnt) AS c_t, SUM(cnt * cnt) AS s2
              FROM g GROUP BY token),
            n AS (SELECT COUNT(*) AS n_docs FROM documents)
            SELECT token, CAST(df AS BIGINT) AS df, CAST(c_t AS BIGINT) AS c_t,
              CAST(((n_docs * s2 - c_t * c_t) * 1000) // (n_docs * c_t) AS BIGINT) AS vmr_e3
            FROM st CROSS JOIN n
            ORDER BY c_t DESC, token LIMIT 50"""),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val g = docs.select($"doc_id", explode(toksCol).as("token"))
        .groupBy($"doc_id", $"token").agg(count(lit(1)).as("cnt"))
      val st = g.groupBy($"token")
        .agg(count(lit(1)).as("df"), sum($"cnt").as("c_t"), sum($"cnt" * $"cnt").as("s2"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      st.crossJoin(broadcast(n))
        .select($"token", $"df", $"c_t".cast(LongType).as("c_t"),
          expr("((n_docs * s2 - c_t * c_t) * 1000) div (n_docs * c_t)")
            .cast(LongType).as("vmr_e3"))
        .orderBy($"c_t".desc, $"token").limit(50)
    }
  )

  // ---------------------------------- keyword extraction (c4_keywords)
  /** Per-document keyword extraction — top-3 terms by TF-IDF, the
    * content-tagging primitive behind dataset search, topic routing, and
    * dedup-cluster labeling. Scoring quantizes ONE fixed-association IEEE
    * chain `tf · ln(N/df)` at e6 (the c4_kl_drift discipline: exact
    * integer tf/df/N in, one float multiply-log chain, floor out);
    * ranking ties break on the token, so the top-3 boundary is total.
    *
    * Scale shape: one (doc, token) partial-agg shuffle cached for both
    * the df rollup and the scoring join (posting-list equi-join on the
    * token — the Zipf head is AQE's skew case); the per-doc top-3 is a
    * doc-partitioned row_number with the adjacent filter, so Spark's
    * WindowGroupLimit prunes to 3 per doc below the sort.
    */
  private val c4kw = QuerySpec(
    "c4_keywords",
    "Keyword extraction: per-doc top-3 terms by e6-quantized TF-IDF (tf*ln(N/df), token tiebreak) — content tagging for search/routing; cached (doc,token) rollup, posting-list join, WindowGroupLimit top-3.",
    Some("""WITH t AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
              FROM documents),
            g AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY doc_id, token),
            f AS (SELECT token, COUNT(*) AS df FROM g GROUP BY token),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
            sc AS (SELECT g.doc_id, g.token,
                CAST(floor(CAST(g.tf AS DOUBLE)
                  * ln(CAST(n.n_docs AS DOUBLE) / CAST(f.df AS DOUBLE)) * 1000000.0) AS BIGINT) AS score_e6
              FROM g JOIN f ON f.token = g.token CROSS JOIN n),
            r AS (SELECT doc_id, token, score_e6,
                row_number() OVER (PARTITION BY doc_id ORDER BY score_e6 DESC, token) AS rnk
              FROM sc)
            SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, token, score_e6
            FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk"""),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val g = CacheRegistry.persist(
        docs.select($"doc_id", explode(toksCol).as("token"))
          .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf")))
      val f = g.groupBy($"token").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"score_e6".desc, $"token")
      g.join(f, "token").crossJoin(broadcast(n))
        .withColumn("score_e6",
          floor($"tf".cast(DoubleType)
            * log($"n_docs".cast(DoubleType) / $"df".cast(DoubleType)) * 1000000.0)
            .cast(LongType))
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter($"rnk" <= 3)
        .select($"doc_id", $"rnk", $"token", $"score_e6")
        .orderBy($"doc_id", $"rnk")
    }
  )

  // ------------------------------- vocab coverage curve (c4_vocab_coverage)
  /** Vocabulary-size coverage curve — the corpus-grain read behind the
    * vocab-size decision ([[c4ov]] gives per-doc OOV at ONE size; this
    * gives the whole curve): walking token frequencies from most to least
    * common, how much of the corpus does a vocab of the first k types
    * cover? Computed on the count-of-counts table (tokens grouped by
    * frequency — the [[c4gt]] Good-Turing frame), where the curve is
    * EXACT at every frequency boundary: cum_vocab types cover cum_tokens
    * occurrences regardless of within-frequency orderings. All integers;
    * coverage is one exact ppm division.
    *
    * Scale shape: token rollup → frequency rollup (both partial-agged);
    * the cumulative window runs over the count-of-counts table, bounded
    * by the number of DISTINCT frequencies (O(√corpus) by Heaps/Zipf —
    * the declared-bounded c4_good_turing frame); 1-row total broadcast.
    */
  private val c4vc = QuerySpec(
    "c4_vocab_coverage",
    "Vocabulary coverage curve: per distinct token frequency (desc), cumulative types and exact-ppm corpus coverage — the vocab-size decision curve; token + count-of-counts partial aggs, cumulative window over the bounded frequency table, 1-row total broadcast.",
    Some("""WITH t AS (SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
              FROM documents),
            f AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
            cc AS (SELECT cnt AS f, COUNT(*) AS n_types FROM f GROUP BY cnt),
            n AS (SELECT SUM(f * n_types) AS total FROM cc),
            w AS (SELECT f, n_types,
                CAST(SUM(n_types) OVER (ORDER BY f DESC) AS BIGINT) AS cum_vocab,
                CAST(SUM(f * n_types) OVER (ORDER BY f DESC) AS BIGINT) AS cum_tokens
              FROM cc)
            SELECT CAST(w.f AS BIGINT) AS f, CAST(w.n_types AS BIGINT) AS n_types,
              w.cum_vocab, w.cum_tokens,
              CAST((w.cum_tokens * 1000000) // n.total AS BIGINT) AS coverage_ppm
            FROM w CROSS JOIN n ORDER BY f DESC"""),
    (s, d) => {
      import s.implicits._
      val f = Tables.documents(s, d)
        .select(explode(toksCol).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("cnt"))
      val cc = f.groupBy($"cnt".as("f")).agg(count(lit(1)).as("n_types"))
      val n = cc.agg(sum($"f" * $"n_types").as("total"))
      // cumulative over the count-of-counts table only: bounded by the
      // number of distinct frequencies (the c4_good_turing frame)
      val w = org.apache.spark.sql.expressions.Window.orderBy($"f".desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      cc.crossJoin(broadcast(n))
        .select($"f".cast(LongType).as("f"), $"n_types".cast(LongType).as("n_types"),
          sum($"n_types").over(w).cast(LongType).as("cum_vocab"),
          sum($"f" * $"n_types").over(w).cast(LongType).as("cum_tokens"),
          $"total")
        .select($"f", $"n_types", $"cum_vocab", $"cum_tokens",
          expr("(cum_tokens * 1000000) div total").cast(LongType).as("coverage_ppm"))
        .orderBy($"f".desc)
    }
  )

  // ------------------------------------------------ OOV rate (c4_oov)
  /** Out-of-vocabulary rate per document against the corpus top-1000
    * vocab — the coverage check run before committing to a vocab size
    * (documents with high OOV under the candidate vocab will fragment
    * into long byte-fallback token runs). Vocab membership is a broadcast
    * join against the exact global top-k (count desc, token asc — total
    * order, so the rank-1000 boundary is deterministic); the rate is one
    * exact integer permille division.
    *
    * Scale shape: one token explosion, one partial-agg vocab build,
    * TakeOrdered top-1000 (broadcast), one doc-grain rollup — the
    * Heaps-law bound keeps the vocab table tiny at any corpus size.
    */
  private val c4ov = QuerySpec(
    "c4_oov",
    "Per-document OOV rate vs the exact corpus top-1000 vocab (count desc / token asc tiebreak): token + OOV counts with exact integer permille — the vocab-coverage check; broadcast vocab join, one doc rollup.",
    Some("""WITH t AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
              FROM documents),
            f AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
            v AS (SELECT token FROM f ORDER BY cnt DESC, token LIMIT 1000),
            d AS (SELECT t.doc_id, COUNT(*) AS n_tok, COUNT(v.token) AS n_inv
              FROM t LEFT JOIN v ON v.token = t.token GROUP BY t.doc_id)
            SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
              CAST(n_tok - n_inv AS BIGINT) AS n_oov,
              CAST(((n_tok - n_inv) * 1000) // n_tok AS BIGINT) AS oov_permille
            FROM d ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val tok = CacheRegistry.persist(
        Tables.documents(s, d).select($"doc_id", explode(toksCol).as("token")))
      val v = tok.groupBy($"token").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"token").limit(1000)
        .select($"token".as("vtok"))
      tok.join(broadcast(v), $"token" === $"vtok", "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tok"), count($"vtok").as("n_inv"))
        .select($"doc_id", $"n_tok",
          ($"n_tok" - $"n_inv").as("n_oov"),
          expr("((n_tok - n_inv) * 1000) div n_tok").cast(LongType).as("oov_permille"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------ Kneser–Ney held-out scorer (c4kn)
  /** Interpolated Kneser–Ney bigram scoring on the held-out split — the
    * smoothing that actually ships in n-gram LMs (Kneser & Ney 1995;
    * Chen & Goodman 1999 found it dominant): unlike [[c4sb]]'s Stupid
    * Backoff (raw unigram fallback), KN backs off to the CONTINUATION
    * probability P_cont(w) = N1+(·,w)/N1+(·,·) — how many distinct
    * contexts w follows, not how often w occurs — which is why "francisco"
    * (frequent but only after "san") stops leaking probability. Fixed
    * discount d=0.75 (the Chen–Goodman default):
    * P(w|v) = (c(v,w)-d)/c(v) + d·N1+(v,·)/c(v) · P_cont(w), with the
    * context-unseen path P_cont(w) alone and a 1e-9 floor when w never
    * continues anything. Train = the md5-first-hex {0,1} EIGHTH of the
    * docs, score = the rest — deliberately smaller than [[c4sb]]'s half
    * split because this closed-vocab corpus saturates fast: the half
    * split leaves 6 interpolation-branch instances at sf0.01, the eighth
    * split 981, so the branch the smoothing exists for is actually
    * exercised (the unseen-context / OOV floors cannot fire on a
    * saturated vocab; TextStatsSpec pins them on a synthetic frame).
    *
    * Exactness: all five inputs (c(v,w), c(v), N1+(v,·), N1+(·,w),
    * N1+(·,·)) are exact BIGINT rollups of the bigram-type table; the one
    * IEEE chain (two divisions, one multiply, one add, one ln) is written
    * with identical association in both engines and floor-quantized at
    * 1e-6 PER INSTANCE so per-doc sums are order-free (the c4u
    * discipline).
    *
    * Scale shape: the bigram-TYPE table is Heaps-law bounded (far smaller
    * than the corpus); ctx/cont/total are partial-agged rollups OF that
    * table, so the expensive object is the same one shuffle c4sb already
    * pays. Scoring is posting-list equi-joins (Zipf-head skew AQE-split
    * like c4u/c4bg); the single-row N1+(·,·) frame rides a broadcast.
    */
  private val c4kn = QuerySpec(
    "c4_kneser_ney",
    "Interpolated Kneser–Ney bigram held-out scorer: continuation-count backoff P_cont(w)=N1+(.,w)/N1+(.,.), fixed d=0.75, context-unseen and OOV floor branches, per-instance 1e-6 quantization — per-doc NLL + branch censuses; all counts exact BIGINT rollups of the Heaps-bounded bigram-type table.",
    Some("""WITH tr AS (SELECT text FROM documents
              WHERE substring(md5(text), 1, 1) IN ('0','1')),
            sc AS (SELECT doc_id, text FROM documents
              WHERE substring(md5(text), 1, 1) NOT IN ('0','1')),
            trb AS (SELECT p.v AS v, p.w AS w FROM (
              SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> {'v': toks[i], 'w': toks[i+1]})) AS p FROM (
              SELECT list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks FROM tr)
              WHERE len(toks) >= 2)),
            cb AS (SELECT v, w, CAST(COUNT(*) AS BIGINT) AS cvw FROM trb GROUP BY v, w),
            ctx AS (SELECT v, CAST(SUM(cvw) AS BIGINT) AS cv,
              CAST(COUNT(*) AS BIGINT) AS n1v FROM cb GROUP BY v),
            cont AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n1w FROM cb GROUP BY w),
            nbt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM cb),
            scb AS (SELECT doc_id, p.v AS v, p.w AS w FROM (
              SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> {'v': toks[i], 'w': toks[i+1]})) AS p FROM (
              SELECT doc_id, list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks FROM sc)
              WHERE len(toks) >= 2)),
            j AS (SELECT g.doc_id, cb.cvw, ctx.cv, ctx.n1v, cont.n1w,
                CAST(floor(ln(CASE
                  WHEN cb.cvw IS NOT NULL THEN
                    (CAST(cb.cvw AS DOUBLE) - 0.75) / CAST(ctx.cv AS DOUBLE)
                    + (0.75 * CAST(ctx.n1v AS DOUBLE) / CAST(ctx.cv AS DOUBLE))
                      * (CAST(cont.n1w AS DOUBLE) / CAST(nbt.nb AS DOUBLE))
                  WHEN ctx.cv IS NOT NULL AND cont.n1w IS NOT NULL THEN
                    (0.75 * CAST(ctx.n1v AS DOUBLE) / CAST(ctx.cv AS DOUBLE))
                      * (CAST(cont.n1w AS DOUBLE) / CAST(nbt.nb AS DOUBLE))
                  WHEN cont.n1w IS NOT NULL THEN
                    CAST(cont.n1w AS DOUBLE) / CAST(nbt.nb AS DOUBLE)
                  ELSE 0.000000001 END) * 1000000.0) AS BIGINT) AS mlp
              FROM scb g
              LEFT JOIN cb ON cb.v = g.v AND cb.w = g.w
              LEFT JOIN ctx ON ctx.v = g.v
              LEFT JOIN cont ON cont.w = g.w
              CROSS JOIN nbt)
            SELECT doc_id, COUNT(*) AS n_big,
              CAST(SUM(CASE WHEN cvw IS NULL AND cv IS NOT NULL AND n1w IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_interp,
              CAST(SUM(CASE WHEN cv IS NULL AND n1w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ctx_unseen,
              CAST(SUM(CASE WHEN n1w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
              CAST(-SUM(mlp) AS BIGINT) AS nll_sum_e6,
              CAST(floor(CAST(-SUM(mlp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS avg_nll_e6
            FROM j GROUP BY doc_id ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val isTrain = substring(md5($"text"), 1, 1)
        .isin("0", "1")
      def bigrams(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame = df
        .select(cols :+ toksCol.as("toks"): _*)
        .filter(size($"toks") >= 2) // the c4bg phantom-bigram guard
        .select(cols :+ explode(transform(sequence(lit(1), size($"toks") - 1),
          i => struct(element_at($"toks", i).as("v"),
            element_at($"toks", i + 1).as("w")))).as("p"): _*)
        .select(cols :+ $"p.v".as("v") :+ $"p.w".as("w"): _*)
      val cb = CacheRegistry.persist(bigrams(docs.filter(isTrain))
        .groupBy($"v", $"w").agg(count(lit(1)).as("cvw")))
      val ctx = cb.groupBy($"v").agg(sum($"cvw").as("cv"), count(lit(1)).as("n1v"))
      val cont = cb.groupBy($"w").agg(count(lit(1)).as("n1w"))
      val nbt = cb.agg(count(lit(1)).as("nb"))
      bigrams(docs.filter(!isTrain), $"doc_id")
        .join(cb, Seq("v", "w"), "left")
        .join(ctx, Seq("v"), "left")
        .join(cont, Seq("w"), "left")
        .crossJoin(broadcast(nbt))
        .select($"doc_id", $"cvw", $"cv", $"n1w",
          expr("""CAST(floor(ln(CASE
            WHEN cvw IS NOT NULL THEN
              (CAST(cvw AS DOUBLE) - 0.75) / CAST(cv AS DOUBLE)
              + (0.75 * CAST(n1v AS DOUBLE) / CAST(cv AS DOUBLE))
                * (CAST(n1w AS DOUBLE) / CAST(nb AS DOUBLE))
            WHEN cv IS NOT NULL AND n1w IS NOT NULL THEN
              (0.75 * CAST(n1v AS DOUBLE) / CAST(cv AS DOUBLE))
                * (CAST(n1w AS DOUBLE) / CAST(nb AS DOUBLE))
            WHEN n1w IS NOT NULL THEN
              CAST(n1w AS DOUBLE) / CAST(nb AS DOUBLE)
            ELSE 0.000000001 END) * 1000000.0) AS BIGINT)""").as("mlp"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_big"),
          sum(when($"cvw".isNull && $"cv".isNotNull && $"n1w".isNotNull, 1L)
            .otherwise(0L)).as("n_interp"),
          sum(when($"cv".isNull && $"n1w".isNotNull, 1L).otherwise(0L)).as("n_ctx_unseen"),
          sum(when($"n1w".isNull, 1L).otherwise(0L)).as("n_oov"),
          (-sum($"mlp")).cast(LongType).as("nll_sum_e6"))
        .select($"doc_id", $"n_big", $"n_interp", $"n_ctx_unseen", $"n_oov", $"nll_sum_e6",
          floor($"nll_sum_e6".cast(DoubleType) / $"n_big".cast(DoubleType))
            .cast(LongType).as("avg_nll_e6"))
        .orderBy($"doc_id")
    }
  )

  // --------------------------- two-sample KS drift census (c4ks)
  /** Leave-one-out Kolmogorov–Smirnov drift test on document length —
    * the distribution-shift detector a corpus-intake pipeline runs per
    * source (is THIS feed's length profile different from the rest of
    * the corpus?), complementing [[c4kl]]'s token-level KL: KS is
    * non-parametric over the raw value CDF, so it catches truncation,
    * padding, and bimodality that token frequencies miss. For each
    * source S: D = max_x |F_S(x) − F_rest(x)| over the union support,
    * reported with the x attaining it (ties → smallest x).
    *
    * Exactness: ALL integer — the max is taken over the exact integer
    * numerator |cum_S·n_rest − cum_rest·n_S| (common denominator
    * n_S·n_rest cleared), argmax ties broken by x, and the final ratio
    * is one BIGINT integer division at 1e-6. No IEEE anywhere.
    *
    * Scale shape: the corpus collapses ONCE to the (source, x) count
    * table (partial-agged; |sources|·|distinct x| rows — value domain
    * bounded, so this is tiny at any corpus size); the source×grid
    * densify, cumulative windows (partitioned per source over the
    * bounded grid), and argmax all run on that rollup. At 100 TB with an
    * unbounded value domain you'd bucket x first — the rollup IS the
    * bucketing hook.
    */
  private val c4ks = QuerySpec(
    "c4_ks_drift",
    "Leave-one-out two-sample Kolmogorov–Smirnov drift on doc length per source: D numerator max|cum_s*n_rest - cum_rest*n_s| over the union grid (all-BIGINT, ties to smallest x), argmax x, and ks_e6 by one integer division — corpus collapses once to the bounded (source, x) count table.",
    Some("""WITH pc AS (SELECT source, CAST(n_chars AS BIGINT) AS x,
              CAST(COUNT(*) AS BIGINT) AS dsrc
              FROM documents GROUP BY source, n_chars),
            grid AS (SELECT x, CAST(SUM(dsrc) AS BIGINT) AS dall FROM pc GROUP BY x),
            srcs AS (SELECT source, CAST(SUM(dsrc) AS BIGINT) AS n_src FROM pc GROUP BY source),
            tot AS (SELECT CAST(SUM(dsrc) AS BIGINT) AS n_all FROM pc),
            g AS (SELECT s.source, s.n_src, grid.x, grid.dall,
              CAST(COALESCE(pc.dsrc, 0) AS BIGINT) AS dsrc
              FROM srcs s CROSS JOIN grid
              LEFT JOIN pc ON pc.source = s.source AND pc.x = grid.x),
            c AS (SELECT source, n_src, x,
              CAST(SUM(dsrc) OVER (PARTITION BY source ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs,
              CAST(SUM(dall) OVER (PARTITION BY source ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca
              FROM g),
            k AS (SELECT c.source, c.n_src, (tot.n_all - c.n_src) AS n_rest, c.x,
              CAST(abs(c.cs * (tot.n_all - c.n_src) - (c.ca - c.cs) * c.n_src) AS BIGINT) AS dn
              FROM c CROSS JOIN tot),
            r AS (SELECT source, n_src, n_rest, x, dn,
              row_number() OVER (PARTITION BY source ORDER BY dn DESC, x) AS rn FROM k)
            SELECT source, n_src, n_rest, dn AS d_num, x AS d_at,
              CAST(dn * 1000000 // (n_src * n_rest) AS BIGINT) AS ks_e6
            FROM r WHERE rn = 1 ORDER BY source"""),
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val pc = CacheRegistry.persist(Tables.documents(s, d)
        .groupBy($"source", $"n_chars".cast(LongType).as("x"))
        .agg(count(lit(1)).as("dsrc")))
      val grid = pc.groupBy($"x").agg(sum($"dsrc").as("dall"))
      val srcs = pc.groupBy($"source").agg(sum($"dsrc").as("n_src"))
      val tot = pc.agg(sum($"dsrc").as("n_all"))
      val wCum = Window.partitionBy($"source").orderBy($"x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val g = broadcast(srcs).crossJoin(grid)
        .join(pc.select($"source", $"x", $"dsrc".as("d0")), Seq("source", "x"), "left")
        .select($"source", $"n_src", $"x", $"dall",
          coalesce($"d0", lit(0L)).as("dsrc"))
      g.withColumn("cs", sum($"dsrc").over(wCum))
        .withColumn("ca", sum($"dall").over(wCum))
        .crossJoin(broadcast(tot))
        .select($"source", $"n_src", ($"n_all" - $"n_src").as("n_rest"), $"x",
          abs($"cs" * ($"n_all" - $"n_src") - ($"ca" - $"cs") * $"n_src")
            .cast(LongType).as("dn"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"source").orderBy($"dn".desc, $"x")))
        .filter($"rn" === 1)
        .select($"source", $"n_src", $"n_rest", $"dn".as("d_num"), $"x".as("d_at"),
          expr("dn * 1000000 div (n_src * n_rest)").cast(LongType).as("ks_e6"))
        .orderBy($"source")
    }
  )

  // ---------------------------------- quality threshold sweep (c4qs)
  /** Quality-filter THRESHOLD SWEEP — the read that picks the cutoff: the
    * `c4_quality` blend scores documents, but a pipeline owner needs the
    * survival curve ("at threshold t, how many docs and tokens survive,
    * per source?") before committing to any t — too low keeps garbage,
    * too high starves a small source. Ten e6-quantized thresholds
    * (0.0–0.9) against the exact c4_quality chain, rolled up per
    * (source, threshold) with doc/token survival shares. The threshold
    * twin of `c2_threshold_sweep` (LSH) applied to the quality leg.
    *
    * Exactness: the score is floored at e6 off the identical IEEE blend
    * BOTH engines already hash-match in c4_quality; everything after is
    * integers (conditional counts/sums, 1e-6 integer-division shares).
    *
    * Scale shape: ONE corpus scan computes (source, q_e6, n_tokens)
    * map-side; the 10-row threshold grid rides a broadcast (bounded ×10
    * fan-out), and the rollup partial-aggregates to |sources|·10 rows.
    */
  private val c4qs = QuerySpec(
    "c4_quality_sweep",
    "Quality-filter threshold sweep: ten e6 thresholds against the exact c4_quality blend, per (source, threshold) surviving docs/tokens and 1e-6 survival shares — one corpus scan, broadcast x10 grid, partial-agged rollup; the cutoff-choosing curve.",
    Some(s"""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            q AS (SELECT source, CAST(len(toks) AS BIGINT) AS n_tokens,
              CAST(floor(1000000.0 * (
                0.5 * (CAST(len(list_filter(toks, x -> list_contains($stopSql, x))) AS DOUBLE) / len(toks))
                + 0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0))) AS BIGINT) AS q_e6
              FROM t WHERE len(toks) > 0),
            g AS (SELECT CAST(unnest(range(0, 10)) AS BIGINT) * 100000 AS thr_e6)
            SELECT q.source, g.thr_e6,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(COALESCE(SUM(CASE WHEN q.q_e6 >= g.thr_e6 THEN 1 END), 0) AS BIGINT) AS docs_kept,
              CAST(SUM(q.n_tokens) AS BIGINT) AS n_tokens,
              CAST(COALESCE(SUM(CASE WHEN q.q_e6 >= g.thr_e6 THEN q.n_tokens END), 0) AS BIGINT) AS toks_kept,
              CAST(COALESCE(SUM(CASE WHEN q.q_e6 >= g.thr_e6 THEN 1 END), 0) * 1000000
                // COUNT(*) AS BIGINT) AS doc_share_e6,
              CAST(COALESCE(SUM(CASE WHEN q.q_e6 >= g.thr_e6 THEN q.n_tokens END), 0) * 1000000
                // SUM(q.n_tokens) AS BIGINT) AS tok_share_e6
            FROM q CROSS JOIN g GROUP BY q.source, g.thr_e6
            ORDER BY q.source, g.thr_e6"""),
    (s, d) => {
      import s.implicits._
      val stops = TextStats.Stopwords
      val q = Tables.documents(s, d)
        .select($"source", toksCol.as("toks"))
        .filter(size($"toks") > 0)
        .select($"source", size($"toks").cast(LongType).as("n_tokens"),
          floor(lit(1000000.0) * (lit(0.5)
            * (size(filter($"toks", t => t.isInCollection(stops))).cast(DoubleType) / size($"toks"))
            + lit(0.5) * least(size($"toks").cast(DoubleType) / 100.0, lit(1.0))))
            .cast(LongType).as("q_e6"))
      val grid = s.range(0L, 10L).select(($"id" * 100000L).as("thr_e6"))
      q.crossJoin(broadcast(grid))
        .groupBy($"source", $"thr_e6")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(when($"q_e6" >= $"thr_e6", 1L)), lit(0L)).cast(LongType).as("docs_kept"),
          sum($"n_tokens").cast(LongType).as("n_tokens"),
          coalesce(sum(when($"q_e6" >= $"thr_e6", $"n_tokens")), lit(0L)).cast(LongType).as("toks_kept"),
          expr("coalesce(sum(case when q_e6 >= thr_e6 then 1L end), 0L) * 1000000 div count(*)")
            .cast(LongType).as("doc_share_e6"),
          expr("coalesce(sum(case when q_e6 >= thr_e6 then n_tokens end), 0L) * 1000000 div sum(n_tokens)")
            .cast(LongType).as("tok_share_e6"))
        .orderBy($"source", $"thr_e6")
    }
  )

  // ------------------------------------- feature hashing (c4fh)
  /** Feature hashing (the "hashing trick") — the bridge from text to the
    * vector tier without a vocabulary: every token maps to one of 8
    * dimensions by a hash of its md5, with a second hash bit choosing the
    * sign (the signed construction that makes hash collisions cancel in
    * expectation — Weinberger et al.'s trick, the workhorse featurizer
    * when a 100 TB corpus can't afford a vocab build pass). Emitted per
    * source: doc/token counts and the 8 summed component weights (the
    * source centroid, unnormalized) — exact integers end-to-end.
    *
    * Hash simplification, documented: dimension = ascii(md5[0]) mod 8 and
    * sign = parity of ascii(md5[1]) — not uniform over hex chars, but
    * deterministic, engine-identical (ascii/% replay trivially in SQL),
    * and collision-cancelling, which is what the operator demonstrates;
    * a production build swaps in xxhash64 behind the same shape.
    *
    * Scale shape: explode + map-side hash arithmetic, then ONE
    * partial-agged rollup to |sources| rows of 8 conditional sums — no
    * vocabulary state, no join, the defining property of the trick.
    */
  private val c4fh = QuerySpec(
    "c4_feature_hash",
    "Feature hashing: signed 8-dim hashing-trick featurizer (dim = ascii(md5[0]) mod 8, sign = parity of ascii(md5[1])), per-source doc/token counts and the 8 integer component sums — explode + map-side hash + one partial-agged rollup, no vocabulary state.",
    Some("""WITH t AS (SELECT doc_id, source,
              unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tk
              FROM documents),
            f AS (SELECT doc_id, source,
              ascii(substr(md5(tk), 1, 1)) % 8 AS dim,
              CASE WHEN ascii(substr(md5(tk), 2, 1)) % 2 = 0 THEN 1 ELSE -1 END AS sgn
              FROM t)
            SELECT source,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
              CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST(COALESCE(SUM(CASE WHEN dim = 0 THEN sgn END), 0) AS BIGINT) AS w0,
              CAST(COALESCE(SUM(CASE WHEN dim = 1 THEN sgn END), 0) AS BIGINT) AS w1,
              CAST(COALESCE(SUM(CASE WHEN dim = 2 THEN sgn END), 0) AS BIGINT) AS w2,
              CAST(COALESCE(SUM(CASE WHEN dim = 3 THEN sgn END), 0) AS BIGINT) AS w3,
              CAST(COALESCE(SUM(CASE WHEN dim = 4 THEN sgn END), 0) AS BIGINT) AS w4,
              CAST(COALESCE(SUM(CASE WHEN dim = 5 THEN sgn END), 0) AS BIGINT) AS w5,
              CAST(COALESCE(SUM(CASE WHEN dim = 6 THEN sgn END), 0) AS BIGINT) AS w6,
              CAST(COALESCE(SUM(CASE WHEN dim = 7 THEN sgn END), 0) AS BIGINT) AS w7
            FROM f GROUP BY source ORDER BY source"""),
    (s, d) => {
      import s.implicits._
      val f = Tables.documents(s, d)
        .select($"doc_id", $"source", explode(toksCol).as("tk"))
        .select($"doc_id", $"source",
          (ascii(substring(md5($"tk"), 1, 1)) % 8).as("dim"),
          when(ascii(substring(md5($"tk"), 2, 1)) % 2 === 0, 1L).otherwise(-1L).as("sgn"))
      val aggs = Seq(
        countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_tokens")) ++ (0 to 7).map(j =>
        coalesce(sum(when($"dim" === j, $"sgn")), lit(0L)).cast(LongType).as(s"w$j"))
      f.groupBy($"source")
        .agg(aggs.head, aggs.tail: _*)
        .orderBy($"source")
    }
  )

  // ------------------------------ rendezvous (HRW) sharding (c1y)
  /** Rendezvous / highest-random-weight sharding — the stable data-
    * placement primitive a 100 TB corpus store runs under every
    * rebalance: each doc goes to the shard with the highest
    * hash(doc, shard) weight, so when a shard is ADDED only the docs
    * whose new weight wins move (~1/(N+1) of the corpus), versus mod-N
    * hashing where nearly everything moves. The query assigns every doc
    * under N=8 and N=9 shards (weight = md5(doc_id ‖ '#' ‖ shard),
    * lexicographic max with shard-id tie-break) and reports per 8-shard
    * bucket: doc/token counts and how many of its docs the ninth shard
    * steals — the minimal-movement property made measurable (the c1d
    * hash-split discipline applied to placement instead of splits).
    *
    * Exactness: pure md5 string comparisons and integer counts — no RNG,
    * partition-invariant, replayable byte-for-byte in SQL.
    *
    * Scale shape: the ×8/×9 shard fan-out is a map-side explode over a
    * constant list (never a join); the per-doc argmax is a max_by hash
    * aggregate keyed on doc_id (map-side partials), and the final rollup
    * is |shards| rows. Nothing is corpus-squared; adding shards scales
    * the fan-out constant, not the shuffle count.
    */
  private val c1y = QuerySpec(
    "c1y_rendezvous",
    "Rendezvous (HRW) sharding: per-doc argmax of md5(doc_id||'#'||shard) under 8 and 9 shards (lexicographic max, shard tie-break), per 8-shard bucket doc/token counts and docs stolen by the added ninth shard — the minimal-movement placement census; map-side fan-out + max_by hash aggs, no window.",
    Some("""WITH t AS (SELECT doc_id, source,
              CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS BIGINT) AS n_tokens
              FROM documents),
            w8 AS (SELECT doc_id, n_tokens, s.s AS shard,
              md5(CAST(doc_id AS VARCHAR) || '#' || CAST(s.s AS VARCHAR)) AS w
              FROM t CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS BIGINT) AS s) s),
            a8 AS (SELECT doc_id, n_tokens,
              CAST(max_by(shard, w || '#' || lpad(CAST(shard AS VARCHAR), 2, '0')) AS BIGINT) AS shard8
              FROM w8 GROUP BY doc_id, n_tokens),
            w9 AS (SELECT doc_id, s.s AS shard,
              md5(CAST(doc_id AS VARCHAR) || '#' || CAST(s.s AS VARCHAR)) AS w
              FROM t CROSS JOIN (SELECT CAST(unnest(range(0, 9)) AS BIGINT) AS s) s),
            a9 AS (SELECT doc_id,
              CAST(max_by(shard, w || '#' || lpad(CAST(shard AS VARCHAR), 2, '0')) AS BIGINT) AS shard9
              FROM w9 GROUP BY doc_id)
            SELECT a8.shard8 AS shard,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(a8.n_tokens) AS BIGINT) AS n_tokens,
              CAST(COALESCE(SUM(CASE WHEN a9.shard9 <> a8.shard8 THEN 1 END), 0) AS BIGINT) AS n_moved,
              CAST(COALESCE(SUM(CASE WHEN a9.shard9 <> a8.shard8 THEN 1 END), 0) * 1000000
                // COUNT(*) AS BIGINT) AS moved_e6
            FROM a8 JOIN a9 ON a9.doc_id = a8.doc_id
            GROUP BY a8.shard8 ORDER BY shard"""),
    (s, d) => {
      import s.implicits._
      val t = CacheRegistry.persist(Tables.documents(s, d)
        .select($"doc_id", size(toksCol).cast(LongType).as("n_tokens")))
      def assign(n: Int, out: String): DataFrame = t
        .select($"doc_id", $"n_tokens",
          explode(typedLit((0L until n.toLong).toSeq)).as("shard"))
        .select($"doc_id", $"n_tokens", $"shard",
          concat(md5(concat($"doc_id".cast(StringType), lit("#"), $"shard".cast(StringType))),
            lit("#"), lpad($"shard".cast(StringType), 2, "0")).as("wk"))
        .groupBy($"doc_id")
        .agg(first($"n_tokens").as("n_tokens"),
          max_by($"shard", $"wk").cast(LongType).as(out))
      val a8 = assign(8, "shard8")
      val a9 = assign(9, "shard9").select($"doc_id".as("d9"), $"shard9")
      a8.join(a9, $"doc_id" === $"d9")
        .groupBy($"shard8".as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").cast(LongType).as("n_tokens"),
          coalesce(sum(when($"shard9" =!= $"shard8", 1L)), lit(0L))
            .cast(LongType).as("n_moved"),
          expr("coalesce(sum(CASE WHEN shard9 != shard8 THEN 1L END), 0L) * 1000000 div count(*)")
            .cast(LongType).as("moved_e6"))
        .orderBy($"shard")
    }
  )

  // ------------------------------ quality x dedup overlap (c4fo)
  /** Filter-overlap accounting — the question every pipeline owner asks
    * after running `c4_quality_sweep` and `c1w_dedup_savings` separately:
    * do the quality filter and exact dedup remove the SAME documents
    * (then one of them is nearly free) or DIFFERENT ones (then their
    * costs add)? Per (source, quality threshold): token mass surviving
    * quality alone, dedup-keep-first alone, both, and the agreement as a
    * 1e-6 Jaccard of the two kept sets' token masses. Three thresholds
    * around the c4_quality_sweep knee.
    *
    * Exactness: the quality score is the audited e6-floored c4_quality
    * blend; dedup keep-first is the c1c min-per-fingerprint rule (md5 of
    * the raw text, first = min doc_id); everything downstream is integer
    * sums and one integer division.
    *
    * Scale shape: ONE fingerprint hash-agg (map-side partials — the c1c
    * skew argument) joined back on the fingerprint, quality map-side,
    * the 3-row threshold grid broadcast, one partial-agged rollup.
    */
  private val c4fo = QuerySpec(
    "c4_filter_overlap",
    "Quality x dedup overlap: per (source, threshold in {0.3,0.5,0.7}) token mass kept by the e6 quality blend alone, by exact keep-first dedup alone, by both, and the 1e-6 Jaccard agreement of the two kept sets — fingerprint hash-agg + broadcast grid, no window.",
    Some(s"""WITH t AS (SELECT doc_id, source, md5(text) AS fp,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            q AS (SELECT doc_id, source, fp,
              CAST(len(toks) AS BIGINT) AS n_tokens,
              CAST(floor(1000000.0 * (
                0.5 * (CAST(len(list_filter(toks, x -> list_contains($stopSql, x))) AS DOUBLE) / len(toks))
                + 0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0))) AS BIGINT) AS q_e6
              FROM t WHERE len(toks) > 0),
            f AS (SELECT fp, CAST(MIN(doc_id) AS BIGINT) AS first_id FROM q GROUP BY fp),
            k AS (SELECT q.*, (q.doc_id = f.first_id) AS kept_dedup
              FROM q JOIN f ON f.fp = q.fp),
            g AS (SELECT CAST(unnest([300000, 500000, 700000]) AS BIGINT) AS thr_e6)
            SELECT k.source, g.thr_e6,
              CAST(SUM(k.n_tokens) AS BIGINT) AS tok_total,
              CAST(COALESCE(SUM(CASE WHEN k.q_e6 >= g.thr_e6 THEN k.n_tokens END), 0) AS BIGINT) AS tok_quality,
              CAST(COALESCE(SUM(CASE WHEN k.kept_dedup THEN k.n_tokens END), 0) AS BIGINT) AS tok_dedup,
              CAST(COALESCE(SUM(CASE WHEN k.q_e6 >= g.thr_e6 AND k.kept_dedup THEN k.n_tokens END), 0) AS BIGINT) AS tok_both,
              CAST(CASE WHEN COALESCE(SUM(CASE WHEN k.q_e6 >= g.thr_e6 OR k.kept_dedup THEN k.n_tokens END), 0) = 0
                THEN 0 ELSE COALESCE(SUM(CASE WHEN k.q_e6 >= g.thr_e6 AND k.kept_dedup THEN k.n_tokens END), 0) * 1000000
                  // SUM(CASE WHEN k.q_e6 >= g.thr_e6 OR k.kept_dedup THEN k.n_tokens END) END AS BIGINT) AS agree_e6
            FROM k CROSS JOIN g GROUP BY k.source, g.thr_e6
            ORDER BY k.source, g.thr_e6"""),
    (s, d) => {
      import s.implicits._
      val stops = TextStats.Stopwords
      val q = CacheRegistry.persist(Tables.documents(s, d)
        .select($"doc_id", $"source", md5($"text").as("fp"), toksCol.as("toks"))
        .filter(size($"toks") > 0)
        .select($"doc_id", $"source", $"fp",
          size($"toks").cast(LongType).as("n_tokens"),
          floor(lit(1000000.0) * (lit(0.5)
            * (size(filter($"toks", t => t.isInCollection(stops))).cast(DoubleType) / size($"toks"))
            + lit(0.5) * least(size($"toks").cast(DoubleType) / 100.0, lit(1.0))))
            .cast(LongType).as("q_e6")))
      val firsts = q.groupBy($"fp".as("ffp")).agg(min($"doc_id").as("first_id"))
      val k = q.join(firsts, $"fp" === $"ffp")
        .withColumn("kept_dedup", $"doc_id" === $"first_id")
      val grid = Seq(300000L, 500000L, 700000L).toDF("thr_e6")
      k.crossJoin(broadcast(grid))
        .groupBy($"source", $"thr_e6")
        .agg(sum($"n_tokens").cast(LongType).as("tok_total"),
          coalesce(sum(when($"q_e6" >= $"thr_e6", $"n_tokens")), lit(0L))
            .cast(LongType).as("tok_quality"),
          coalesce(sum(when($"kept_dedup", $"n_tokens")), lit(0L))
            .cast(LongType).as("tok_dedup"),
          coalesce(sum(when($"q_e6" >= $"thr_e6" && $"kept_dedup", $"n_tokens")), lit(0L))
            .cast(LongType).as("tok_both"),
          expr("""CAST(CASE WHEN coalesce(sum(CASE WHEN q_e6 >= thr_e6 OR kept_dedup THEN n_tokens END), 0L) = 0L
            THEN 0L ELSE coalesce(sum(CASE WHEN q_e6 >= thr_e6 AND kept_dedup THEN n_tokens END), 0L) * 1000000
              div sum(CASE WHEN q_e6 >= thr_e6 OR kept_dedup THEN n_tokens END) END AS BIGINT)""")
            .as("agree_e6"))
        .orderBy($"source", $"thr_e6")
    }
  )

  // ------------------------------ Viterbi (optimal) segmentation (c4vs)
  /** Optimal-vs-greedy segmentation under the unigram seed vocab — the
    * measurement that closes the tokenizer workbench: [[c4fe]] scores the
    * GREEDY longest-match walk (the cheap eval default); SentencePiece's
    * actual encoder is the VITERBI walk (minimum-token segmentation over
    * the same piece set, single-char fallback always available). The gap
    * between the two is the price of greedy decoding, and per-source
    * `saved_toks` is the number a tokenizer team reads before deciding
    * whether the optimal encoder is worth its DP cost in the serving
    * path.
    *
    * Exactness: the objective is MINIMUM TOKEN COUNT — pure integers, no
    * log-probs, so there is no float tie anywhere; the DP argmin is
    * unique in value by construction (we report counts, not piece
    * sequences). The oracle replays the DP as a recursive-CTE state
    * relaxation over (word, pos, cost) with UNION dedup — states are
    * bounded by |word|² per word, never path-enumerated — and the greedy
    * arm reuses [[c4fe]]'s jump-table walk verbatim.
    *
    * Scale shape (the BPE-trainer argument): both walks run once per
    * DISTINCT word — corpus rolls up ONCE to the Heaps-law (source, word,
    * cnt) table; the DP UDF is O(|word|·6) over a 60-piece broadcast set
    * and multiplies back through the counts. Nothing downstream of the
    * first rollup is corpus-sized.
    */
  private val c4vs = QuerySpec(
    "c4_viterbi_segment",
    "Viterbi (minimum-token) segmentation vs the greedy longest-match walk under the c4_unigram_vocab top-60 seed: per source, distinct words, word instances, greedy and optimal token totals, tokens saved by optimal decoding, and optimal fertility at 1e-6 — both walks run on the Heaps-law distinct-word table only.",
    Some("""WITH RECURSIVE wsrc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
              SELECT source,
                unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
              FROM documents)
              WHERE regexp_matches(w, '^[a-z]+$') GROUP BY source, w),
            w0 AS (SELECT w, CAST(SUM(cnt) AS BIGINT) AS cnt FROM wsrc GROUP BY w),
            ls AS (SELECT w, cnt, CAST(unnest(range(2, 7)) AS INTEGER) AS l FROM w0),
            subs AS (SELECT substr(w, CAST(unnest(range(1, length(w) - l + 2)) AS INTEGER), l) AS sub, cnt
              FROM ls WHERE length(w) >= l),
            vagg AS (SELECT sub, CAST(SUM(cnt) AS BIGINT) AS cnt FROM subs GROUP BY sub),
            vocab AS (SELECT sub FROM vagg
              ORDER BY cnt * length(sub) DESC, sub LIMIT 60),
            dw AS (SELECT DISTINCT w FROM w0),
            steps AS (SELECT w, CAST(unnest(range(1, length(w) + 1)) AS INTEGER) AS pos FROM dw),
            jmp AS (SELECT s.w, s.pos,
              CAST(COALESCE(MAX(length(v.sub)), 1) AS INTEGER) AS l
              FROM steps s LEFT JOIN vocab v ON substr(s.w, s.pos, length(v.sub)) = v.sub
              GROUP BY s.w, s.pos),
            gwalk(w, pos, toks) AS (
              SELECT w, CAST(1 AS INTEGER), CAST(0 AS BIGINT) FROM dw
              UNION ALL
              SELECT wk.w, wk.pos + j.l, wk.toks + 1
              FROM gwalk wk JOIN jmp j ON j.w = wk.w AND j.pos = wk.pos
              WHERE wk.pos <= length(wk.w)),
            greedy AS (SELECT w, toks AS gtoks FROM gwalk WHERE pos > length(w)),
            mv AS (SELECT s.w, s.pos, CAST(length(v.sub) AS INTEGER) AS l
              FROM steps s JOIN vocab v ON substr(s.w, s.pos, length(v.sub)) = v.sub
              UNION ALL
              SELECT w, pos, CAST(1 AS INTEGER) FROM steps),
            vwalk(w, pos, cost) AS (
              SELECT w, CAST(1 AS INTEGER), CAST(0 AS BIGINT) FROM dw
              UNION
              SELECT wk.w, wk.pos + x.l, wk.cost + 1
              FROM vwalk wk JOIN mv x ON x.w = wk.w AND x.pos = wk.pos
              WHERE wk.pos <= length(wk.w)),
            opt AS (SELECT w, MIN(cost) AS otoks FROM vwalk
              WHERE pos > length(w) GROUP BY w)
            SELECT wsrc.source,
              COUNT(*) AS n_distinct_words,
              CAST(SUM(wsrc.cnt) AS BIGINT) AS word_instances,
              CAST(SUM(wsrc.cnt * greedy.gtoks) AS BIGINT) AS greedy_toks,
              CAST(SUM(wsrc.cnt * opt.otoks) AS BIGINT) AS opt_toks,
              CAST(SUM(wsrc.cnt * (greedy.gtoks - opt.otoks)) AS BIGINT) AS saved_toks,
              CAST(SUM(wsrc.cnt * opt.otoks) * 1000000 // SUM(wsrc.cnt) AS BIGINT) AS opt_fertility_e6
            FROM wsrc
            JOIN greedy ON wsrc.w = greedy.w
            JOIN opt ON wsrc.w = opt.w
            GROUP BY wsrc.source ORDER BY wsrc.source"""),
    (s, d) => {
      import s.implicits._
      val wsrc = CacheRegistry.persist(Tables.documents(s, d)
        .select($"source", explode(filter(split(lower($"text"), " "), t => t =!= "")).as("w"))
        .filter($"w".rlike("^[a-z]+$"))
        .groupBy($"source", $"w").agg(count(lit(1)).as("cnt")))
      val w0 = wsrc.groupBy($"w").agg(sum($"cnt").as("cnt"))
      // identical vocab build + bounded limit(60) collect as c4_fertility
      val vocab = w0
        .select($"cnt", explode(flatten(transform(
          filter(sequence(lit(2), lit(6)), l => l <= length($"w")),
          l => transform(sequence(lit(1), length($"w") - l + 1),
            i => $"w".substr(i, l))))).as("sub"))
        .groupBy($"sub").agg(sum($"cnt").as("cnt"))
        .orderBy(($"cnt" * length($"sub")).desc, $"sub")
        .limit(60).select($"sub").collect().map(_.getString(0)).toSet
      val segUdf = udf { (w: String) =>
        // greedy longest-match (the c4_fertility walk, token count only)
        var pos = 0
        var gtoks = 0L
        while (pos < w.length) {
          var l = math.min(6, w.length - pos)
          while (l >= 2 && !vocab.contains(w.substring(pos, pos + l))) l -= 1
          if (l < 2) l = 1
          gtoks += 1
          pos += l
        }
        // Viterbi: best[i] = min tokens to consume the first i chars;
        // fallback edge of length 1 keeps every state reachable
        val best = Array.fill(w.length + 1)(Long.MaxValue)
        best(0) = 0L
        var i = 0
        while (i < w.length) {
          if (best(i) != Long.MaxValue) {
            if (best(i) + 1 < best(i + 1)) best(i + 1) = best(i) + 1
            var l = 2
            while (l <= 6 && i + l <= w.length) {
              if (vocab.contains(w.substring(i, i + l)) && best(i) + 1 < best(i + l))
                best(i + l) = best(i) + 1
              l += 1
            }
          }
          i += 1
        }
        (gtoks, best(w.length))
      }
      val seg = w0.select($"w".as("sw"), segUdf($"w").as("go"))
        .select($"sw", $"go._1".as("gtoks"), $"go._2".as("otoks"))
      wsrc.join(seg, $"w" === $"sw")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_distinct_words"),
          sum($"cnt").as("word_instances"),
          sum($"cnt" * $"gtoks").as("greedy_toks"),
          sum($"cnt" * $"otoks").as("opt_toks"),
          sum($"cnt" * ($"gtoks" - $"otoks")).as("saved_toks"),
          expr("sum(cnt * otoks) * 1000000 div sum(cnt)").as("opt_fertility_e6"))
        .orderBy($"source")
    }
  )

  val specs: Seq[QuerySpec] =
    Seq(c4q, c4l, c4lc, c4t, c4f, c4w, c4c, c1b, c1i, c4d, c4r, c4tg, c4dg, c4hs, c1c, c4s, c1d, c4v,
      c4o, c4p, c1e, c4h, c4b, c1f, c1g, c1l, c1m, c1n, c1v, c1h, c1k, c1o, c1p, c1q, c4nv, c4y, c4u, c4bg, c4kl, c2fz, c4en, c4ss, c4z, c4x, c4k, c4bp, c4bt, c4be, c4uv,
      c4cd, c4rr, c1s, c4fe, c4di, c4zp, c4pm, c4tt, c1t, c1u, c4gt, c4sb, c4dc2,
      c4rd, c4hp, c4bu, c4ov, c4kw, c4vc, c4kn, c4ks, c4vs, c4qs, c4fh, c4fo, c1y)
}
