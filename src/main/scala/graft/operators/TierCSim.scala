package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{CacheRegistry, Par, QuerySpec}
import graft.functions.{MinHash, TextStats}
import graft.sources.Tables

/** Tier C similarity extensions (north-star `BASELINE.json:6`): SimHash
  * near-dup, n-gram Jaccard near-dup, embedding-cosine near-dup, and an
  * LSH-bucketed approximate nearest-neighbor path.
  *
  * Scale posture — the common rule is BLOCK, NEVER ALL-PAIRS:
  *  - SimHash: signatures map-side; candidate pairs only via equal 16-bit
  *    bands (4 bands ⇒ Hamming ≤ 3 within 64 bits is always caught).
  *  - n-gram Jaccard: pairs only within a `source` block.
  *  - embedding near-dup / ANN: pairs only within a `label` block (exact)
  *    or a random-hyperplane LSH bucket (approximate) — the bucket count
  *    grows with the corpus, so per-bucket work stays bounded.
  */
object TierCSim {

  /** Per-bucket candidate ceiling for every bucketed candidate join (annTopK, mmrSelect, c3_filtered_knn, simhashPairs) — the LSH analog of
    * the gram df-cap, and like it the ONLY knob bounding pair volume
    * when the data defeats the hash: the adaptive plane count targets
    * MEAN occupancy, but random ±1 hyperplanes are data-oblivious and a
    * tight embedding cluster rides one code no matter how many planes
    * you add (r14 soak, 100k clustered vectors: planes 11→24 moved the
    * max bucket only 10,987→8,139 and Σsz² stayed ≈ 3.4-6.4e8 pairs).
    * Capping the CANDIDATE side at the md5-deterministic head of each
    * bucket bounds candidates at N·cap — linear in N — while every
    * vector still probes; inside a mega-cluster the head is saturated
    * with true neighbors, which is exactly where trimming recall is
    * cheapest. Mirrored op-for-op in the oracle SQL, so engine and
    * replay agree even when the cap engages.
    *
    * Config-overridable (r15, the engaged-gate mandate): the
    * `SPARK_GRAFT_*_CAP` env knobs below override the built-in constants
    * in BOTH the engine code and the oracle SQL — the oracle strings
    * interpolate these vals at object init, so one JVM always sees one
    * consistent (engine, oracle) pair. That is what lets the driver's
    * DuckDB hash gate run with the caps ENGAGED: set the knob low enough
    * that fixture buckets overflow it, and the dropping branch of every
    * mirror is hash-checked instead of merely dormant.
    */
  private[graft] def envCap(name: String, dflt: Int): Int = {
    val v = sys.env.get(name).map { s =>
      try s.trim.toInt
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$name must be an integer cap, got '$s'")
      }
    }.getOrElse(dflt)
    require(v >= 1, s"$name must be >= 1, got $v")
    v
  }

  private[graft] val LshBucketCap = envCap("SPARK_GRAFT_LSH_BUCKET_CAP", 512)

  /** No-silent-caps for the md5-head occupancy caps: keep `hrank <= cap`,
    * but first COUNT and record what the cap excludes ([[graft.CapStats]]
    * + a WARN line — the same visibility contract [[dfCapKept]] has had
    * since r14; the head filters were the one silent trim left, ADVICE
    * r14). Callers pass a frame that is either persisted or one cheap
    * window away from a persisted frame, so the extra count is a
    * cache-read, not a recompute.
    */
  private def headCapKept(ranked: DataFrame, cap: Int, tag: String): DataFrame = {
    import ranked.sparkSession.implicits._
    // deferred audit count (r18): runs on the query's ledger after the
    // main action, before its caches are released — see dfCapKept
    graft.CapStats.recordDeferred(tag)(ranked.filter($"hrank" > cap).count()) { dropped =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$tag: occupancy cap $cap dropped $dropped candidate rows beyond the " +
          "md5-deterministic bucket head (recall trimmed deterministically; " +
          "dense buckets keep their head of true neighbors)")
    }
    ranked.filter($"hrank" <= cap)
  }


  // ------------------------------------------------------------- SimHash
  private val simhashUdf = udf { (text: String) =>
    TextStats.simHash(text.toLowerCase.split(" ").filter(_.nonEmpty).toSeq)
  }

  /** DuckDB replay of [[TextStats.simHash]] (converts `c2_simhash` and
    * `c2_simhash_pairs` from declared-no-oracle to hash-checked): the
    * token hash is the first 8 md5 bytes (r11 family swap, see
    * `TextStats.tokenHash64`), so bit p of a token's hash is nibble-shift
    * arithmetic over ONE md5 hex char — `(hexval((63-p)/4) >> (p%4)) & 1`
    * — and the signature assembles as a HUGEINT bit sum folded to signed
    * BIGINT (the `c4_winnow` fold). Per-bit votes sum over the token
    * MULTISET (unnest keeps duplicates, matching the Scala loop).
    * Unreplayed arm: an all-whitespace document would emit simhash 0 from
    * the UDF but no row here — unreachable on this corpus (min doc length
    * 48, no empty-token docs); a regeneration violating it goes red as a
    * row-count mismatch.
    */
  private def shSigCtes: String = {
    val m = BigInt(1) << 64
    val half = BigInt(1) << 63
    s"""d AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
       |       FROM documents),
       |tk AS (SELECT doc_id, unnest(toks) AS t FROM d),
       |hx AS (SELECT doc_id, md5(t) AS h FROM tk),
       |pb AS (SELECT doc_id, h, unnest(range(0, 64)) AS p FROM hx),
       |bits AS (SELECT doc_id, p,
       |    ((CAST(strpos('0123456789abcdef', substr(h, CAST((63 - p) // 4 AS INTEGER) + 1, 1)) AS BIGINT) - 1)
       |      >> CAST(p % 4 AS INTEGER)) & 1 AS bit
       |  FROM pb),
       |votes AS (SELECT doc_id, p, SUM(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS sv
       |          FROM bits GROUP BY doc_id, p),
       |asm AS (SELECT doc_id,
       |          SUM(CASE WHEN sv > 0 THEN (CAST(1 AS HUGEINT) << CAST(p AS INTEGER))
       |              ELSE CAST(0 AS HUGEINT) END) AS hu
       |        FROM votes GROUP BY doc_id),
       |sig AS (SELECT doc_id, hu,
       |          CAST(CASE WHEN hu >= $half THEN hu - $m ELSE hu END AS BIGINT) AS simhash
       |        FROM asm)""".stripMargin
  }

  private val c2s = QuerySpec(
    "c2_simhash",
    "64-bit SimHash per document (sign-sum of md5-derived 64-bit token hashes). Oracle replays the full chain — md5 hex → per-bit nibble votes → sign → HUGEINT bit assembly → signed fold — in DuckDB SQL.",
    Some(s"WITH $shSigCtes\nSELECT doc_id, simhash FROM sig ORDER BY doc_id"),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", simhashUdf($"text").as("simhash"))
        .orderBy($"doc_id")
    }
  )

  /** SimHash near-dup pairs: 4×16-bit band blocking (the pigeonhole
    * guarantee: ≤ 3 flipped bits cannot touch all 4 bands), verified by
    * exact Hamming ≤ maxHamming. The candidate side of the band join is
    * capped at the md5-deterministic [[LshBucketCap]]-head per
    * (band_id, band_val) — the r14 occupancy discipline: head-heavy
    * corpora concentrate SimHash bits, and at the 250k-doc soak the
    * uncapped band buckets went quadratic (51 s). Inside the head the
    * pigeonhole guarantee is intact; a band bucket beyond the cap means
    * thousands of near-identical documents, which is the "COMPOSE WITH
    * EXACT DEDUP FIRST" contract (see [[c2pairs]]) doing its job.
    * Mirrored op-for-op in the oracle.
    */
  def simhashPairs(s: SparkSession, docs: DataFrame, maxHamming: Int): DataFrame = {
    import s.implicits._
    val sigs = CacheRegistry.persist(docs.select($"doc_id", simhashUdf($"text").as("simhash")))
    val wH = Window.partitionBy($"band_id", $"band_val")
      .orderBy(md5($"doc_id".cast(StringType)), $"doc_id")
    val banded = CacheRegistry.persist(sigs.select($"doc_id", $"simhash",
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned($"simhash", b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band_id", "band_val")))
      .withColumn("hrank", row_number().over(wH).cast(LongType)))
    val left = banded.select($"doc_id".as("id_a"), $"simhash".as("sh_a"), $"band_id", $"band_val")
    val right = headCapKept(banded, LshBucketCap, "simhashPairs")
      .select($"doc_id".as("id_b"), $"simhash".as("sh_b"),
      $"band_id".as("band_id_r"), $"band_val".as("band_val_r"))
    left.join(right,
        $"band_id" === $"band_id_r" && $"band_val" === $"band_val_r" && $"id_a" < $"id_b")
      .select($"id_a", $"id_b", $"sh_a", $"sh_b").distinct()
      .withColumn("hamming", bit_count($"sh_a".bitwiseXOR($"sh_b")))
      .filter($"hamming" <= maxHamming)
      .select($"id_a", $"id_b", $"hamming".cast(LongType).as("hamming"))
      .orderBy($"id_a", $"id_b")
  }

  private val c2sp = QuerySpec(
    "c2_simhash_pairs",
    "SimHash near-dup candidate pairs: 4×16-bit LSH bands → bucket self-join against the md5-deterministic 512-head candidate set per bucket (the r14 occupancy cap) → exact Hamming ≤ 3 verify. Oracle replays signatures, band extraction ((hu >> 16b) % 2^16 = the engine's shiftrightunsigned & 0xffff), head rank, bucket join, and xor/bit_count Hamming.",
    Some(s"""WITH $shSigCtes,
            |bands AS (SELECT doc_id, hu, simhash, unnest(range(0, 4)) AS band_id FROM sig),
            |bv AS (SELECT doc_id, simhash, band_id,
            |         (hu >> CAST(band_id * 16 AS INTEGER)) % 65536 AS band_val
            |       FROM bands),
            |hr AS (SELECT doc_id, band_id, band_val,
            |         row_number() OVER (PARTITION BY band_id, band_val
            |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS hrank
            |       FROM bv),
            |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
            |           a.simhash AS sa, b.simhash AS sb
            |         FROM bv a JOIN bv b
            |           ON a.band_id = b.band_id AND a.band_val = b.band_val
            |              AND a.doc_id < b.doc_id
            |         JOIN hr ON hr.doc_id = b.doc_id AND hr.band_id = b.band_id
            |           AND hr.band_val = b.band_val AND hr.hrank <= $LshBucketCap),
            |h AS (SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming FROM cand)
            |SELECT id_a, id_b, hamming FROM h WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin),
    (s, d) => simhashPairs(s, Tables.documents(s, d), 3)
  )

  // ----------------------------------------------------- n-gram Jaccard
  private val NgramThreshold = 0.6

  /** Absolute per-(source, gram) document-frequency cap for the pair join.
    * At 100× corpus scale the head of the gram Zipf curve ("of the", …)
    * produces mega-buckets whose pair fan-out is O(df²) — grams shared by
    * thousands of documents carry ~zero Jaccard signal but dominate the
    * shuffle. Grams above the cap are dropped from candidate generation
    * ONLY (set sizes |A|,|B| stay exact), so capped Jaccard is exact when
    * no shared gram was hot and a strict underestimate otherwise — never
    * inflated, so no false pairs. The drop is logged (no-silent-caps).
    *
    * Cap size is the ONLY knob bounding candidate volume at scale — the
    * r14 soak measured it: on the 250k-doc sf5 soak corpus the gram df
    * distribution tops out at 9,854, so the old 10k cap never engaged
    * and the candidate join emitted the full Σdf² = 7.4e9 rows (a 79 GB
    * shuffle that filled the disk). At 256 the same corpus emits 526M
    * candidates (14×  less) and the mine completes; the 8,144 dropped
    * hot grams carry ~zero Jaccard signal by the argument above. 256 is
    * still ~8× the fixture's max df (8 at sf0.01, 33 at sf0.1), so
    * every oracle-checked result is bit-identical to the uncapped
    * computation where it is checked. The general law: candidate volume
    * ≤ (#kept gram types)·cap², and #types grows ~linearly with corpus
    * (Heaps), so a CONSTANT cap is what makes the mine linear — a cap
    * proportional to data re-creates the quadratic blow-up.
    */
  private[graft] val NgramDfCap = envCap("SPARK_GRAFT_NGRAM_DF_CAP", 256)

  /** Shared DuckDB replay of the df-capped bigram posting index — the
    * EXACT mirror of [[bigramExploded]]+[[dfCapKept]] (r15: the list-
    * intersect oracle form could not express the cap, so its dropping
    * branch was unverifiable; this inverted-index form replays posting
    * explode → per-(source,gram) df → cap → capped pair counts with set
    * sizes `sz` kept EXACT, op-for-op what the engine computes). CTE
    * names are prefixed (`eg/dfk/kg`) so the fragment composes into
    * oracles that already bind `e`/`k`.
    */
  private def ngramPostingCtes: String =
    s"""t AS (SELECT doc_id, source,
       |  list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
       |  FROM documents),
       |b AS (SELECT doc_id, source,
       |  list_distinct(list_transform(generate_series(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1])) AS grams
       |  FROM t WHERE len(toks) >= 2),
       |eg AS (SELECT doc_id, source, len(grams) AS sz, unnest(grams) AS gram
       |  FROM b WHERE len(grams) >= 1),
       |dfk AS (SELECT source, gram FROM eg GROUP BY source, gram
       |  HAVING COUNT(*) <= $NgramDfCap),
       |kg AS (SELECT eg.doc_id, eg.source, eg.sz, eg.gram
       |  FROM eg JOIN dfk USING (source, gram))""".stripMargin

  /** Unordered capped pair counts (id_a < id_b) with exact set sizes —
    * the Jaccard feed. */
  private def ngramPairCountsCte: String =
    s"""pp AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b,
       |    a.sz AS sa, c.sz AS sb, COUNT(*) AS shared
       |  FROM kg a JOIN kg c ON a.source = c.source AND a.gram = c.gram
       |    AND a.doc_id < c.doc_id
       |  GROUP BY 1, 2, 3, 4)""".stripMargin

  /** Word-bigram Jaccard near-dup pairs, blocked by `source`, inverted-
    * index join shape, df-capped candidate generation (see [[NgramDfCap]]).
    *
    * Two equivalent df-cap shapes, chosen by `hotPreFilter`:
    * - `false` (default, the benched local path): ONE (source, gram)
    *   window exchange computes df AND leaves the frame partitioned on
    *   the pair join's keys, so both self-join sides reuse the cached
    *   exchange. TRADE-OFF: a window partition is one task with no
    *   partial aggregation and no AQE skew-split (skew handling applies
    *   to join keys, not window partitions), so the FULL posting list of
    *   a Zipf-head gram — the very rows the cap will discard — is
    *   buffered through a single task first. Fine while max-df is
    *   ~thousands; a straggler/OOM risk when a boilerplate gram reaches
    *   millions.
    * - `true` (the 100 TB path): a partial-agg groupBy (map-side combine
    *   ⇒ no task ever sees a whole posting list) finds hot (source, gram)
    *   keys, a broadcast anti-join drops them BEFORE any wide exchange,
    *   and an explicit repartition on the join keys restores the
    *   one-exchange reuse for both join sides. Every surviving key has
    *   df ≤ cap, so the exchange is skew-bounded by construction.
    *   SimSpec pins output equality of the two shapes on a fixture whose
    *   cap actually drops grams.
    */
  // single-pass bigram UDF: the HOF formulation (transform over
  // sequence with element_at lambdas) is CodegenFallback AND gets its
  // token-array subexpression inlined per lambda element by projection
  // collapse — measured ~100 interpreted token-splits per row (73s at
  // sf0.1); the UDF does one pass (73s -> ~3s)
  private val bigramsUdf = udf { (text: String) =>
    val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
    if (toks.length < 2) Array.empty[String]
    else toks.sliding(2).map(g => g(0) + " " + g(1)).toArray.distinct
  }

  /** (doc_id, source, sz, gram) posting rows — the inverted-index feed
    * shared by [[ngramJaccardPairs]] and [[ngramContainmentPairs]].
    */
  private def bigramExploded(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // (Par.spread measured a wash here — min-of-2 A/B over the 12
    // pair-mine queries: the bigram UDF is a cheap split+slide, so the
    // exchange's fixed cost eats the parallelism gain; see
    // OPTIMIZATION_r17.md "where spread does NOT pay".)
    docs
      .select($"doc_id", $"source", bigramsUdf($"text").as("grams"))
      .filter(size($"grams") >= 1)
      .select($"doc_id", $"source", size($"grams").as("sz"), explode($"grams").as("gram"))
  }

  def ngramJaccardPairs(s: SparkSession, docs: DataFrame,
      threshold: Double, dfCap: Int, hotPreFilter: Boolean = false): DataFrame = {
    import s.implicits._
    ngramJaccardPairsRaw(s, docs, threshold, dfCap, hotPreFilter)
      .orderBy($"id_a", $"id_b")
  }

  /** [[ngramJaccardPairs]] WITHOUT the final presentation ORDER BY — for
    * the graph/census consumers (CC, degree, triangles, LPA, PageRank,
    * Adamic-Adar, histograms) that immediately re-aggregate the pairs.
    * The declared pair queries sort for output; an intermediate consumer
    * that persists the mine (or its derivative) pays that sort's sampling
    * job + rangepartitioning exchange + global sort FOR NOTHING, because
    * EliminateSorts cannot see through the persist boundary (r18,
    * guide §2.4: an `orderBy` used only to make output deterministic is
    * an accidental exchange). Pair SET and values are identical.
    */
  private[graft] def ngramJaccardPairsRaw(s: SparkSession, docs: DataFrame,
      threshold: Double, dfCap: Int, hotPreFilter: Boolean = false): DataFrame = {
    import s.implicits._
    val kept = dfCapKept(bigramExploded(docs), Seq("source", "gram"), dfCap, hotPreFilter,
      nHot => s"c2_ngram_jaccard: dropped $nHot grams with df > $dfCap from " +
        "candidate generation (Jaccard becomes a strict underestimate for " +
        "pairs sharing a dropped gram; set sizes stay exact)")
    val left = kept.select($"doc_id".as("id_a"), $"source", $"sz".as("sa"), $"gram")
    val right = kept.select($"doc_id".as("id_b"), $"source".as("source_r"),
      $"sz".as("sb"), $"gram".as("gram_r"))
    // length filter (PPJoin-style): J ≤ min(|A|,|B|)/max(|A|,|B|), so
    // size-mismatched pairs are pruned at the join — before the per-pair
    // shared-gram aggregation — without changing any surviving pair's
    // Jaccard. Stated in the SAME correctly-rounded division form as the
    // final test (not `sa >= t*sb`): fl-division is monotone in both
    // operands, so shared ≤ min and union ≥ max give
    // fl(shared/union) ≤ fl(min/max) bit-for-bit — a product form rounds
    // differently and can wrongly prune an exact boundary pair the
    // uncapped oracle emits.
    left.join(right,
        $"source" === $"source_r" && $"gram" === $"gram_r" && $"id_a" < $"id_b" &&
        least($"sa", $"sb").cast(DoubleType) / greatest($"sa", $"sb") >= threshold)
      .groupBy($"id_a", $"id_b", $"sa", $"sb")
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        $"shared".cast(DoubleType) / ($"sa" + $"sb" - $"shared"))
      .filter($"jaccard" >= threshold)
      .select($"id_a", $"id_b", $"jaccard")
  }

  /** Asymmetric containment pairs — C(A→B) = |A∩B| / |A| over distinct
    * word bigrams, within the `source` block: the quote/subset detector
    * Jaccard structurally misses (a short doc fully embedded in a long
    * one has J ≈ |A|/|B| → 0 but C(A→B) = 1). Ordered pairs, both
    * directions, so each row names the CONTAINED side first.
    *
    * Scale shape: the same inverted-index join + df-cap machinery as
    * [[ngramJaccardPairs]] (shared [[bigramExploded]]/[[dfCapKept]]),
    * with a ONE-SIDED length filter only: `C(A→B) ≥ t` forces
    * `|B| ≥ t·|A|` (shared ≤ |B|), which prunes cannot-pass pairs at
    * the join without touching the asymmetry — the two-sided PPJoin
    * bound Jaccard enjoys does NOT apply here (a tiny A inside a huge B
    * is the operator's point), so that is the only sound prune.
    */
  def ngramContainmentPairs(s: SparkSession, docs: DataFrame,
      threshold: Double, dfCap: Int, hotPreFilter: Boolean = false): DataFrame = {
    import s.implicits._
    val kept = dfCapKept(bigramExploded(docs), Seq("source", "gram"), dfCap, hotPreFilter,
      nHot => s"c2_containment: dropped $nHot grams with df > $dfCap from " +
        "candidate generation (containment becomes a strict underestimate " +
        "for pairs sharing a dropped gram; set sizes stay exact)")
    val left = kept.select($"doc_id".as("id_a"), $"source", $"sz".as("sa"), $"gram")
    val right = kept.select($"doc_id".as("id_b"), $"source".as("source_r"),
      $"sz".as("sb"), $"gram".as("gram_r"))
    // One-sided prune in the SAME correctly-rounded division form as the
    // final test: shared ≤ |B| and fl-division is monotone in the
    // numerator, so fl(sb/sa) < t ⟹ fl(shared/sa) < t bit-for-bit.
    // (The product form `sb >= t*sa` is sound in real arithmetic but
    // rounds differently from the division the filter and the oracle
    // compute — at an exact threshold boundary it can wrongly prune.)
    left.join(right,
        $"source" === $"source_r" && $"gram" === $"gram_r" && $"id_a" =!= $"id_b" &&
        $"sb".cast(DoubleType) / $"sa" >= threshold)
      .groupBy($"id_a", $"id_b", $"sa")
      .agg(count(lit(1)).as("shared"))
      .withColumn("containment", $"shared".cast(DoubleType) / $"sa")
      .filter($"containment" >= threshold)
      .select($"id_a", $"id_b", $"containment")
      .orderBy($"id_a", $"id_b")
  }

  private val ContainThreshold = 0.8
  private val c2ct = QuerySpec(
    "c2_containment",
    s"Asymmetric bigram containment |A∩B|/|A| ≥ $ContainThreshold within the source block (ordered pairs, contained side first) — the quote/subset detector Jaccard misses; inverted-index join, df-capped at $NgramDfCap with the cap mirrored in the oracle's pair mine (hash-checkable engaged via SPARK_GRAFT_NGRAM_DF_CAP).",
    Some(s"""WITH $ngramPostingCtes,
            |pc AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b,
            |    a.sz AS sa, COUNT(*) AS shared
            |  FROM kg a JOIN kg c ON a.source = c.source AND a.gram = c.gram
            |    AND a.doc_id <> c.doc_id
            |  GROUP BY 1, 2, 3)
            |SELECT id_a, id_b,
            |  CAST(shared AS DOUBLE) / sa AS containment
            |FROM pc
            |WHERE CAST(shared AS DOUBLE) / sa >= $ContainThreshold
            |ORDER BY id_a, id_b""".stripMargin),
    (s, d) => ngramContainmentPairs(s, Tables.documents(s, d), ContainThreshold, NgramDfCap)
  )

  /** df-cap shape selection shared by the pair-join dedup operators
    * ([[ngramJaccardPairs]], [[TierCText.crossSourceContamination]]) —
    * the two shapes are spec-pinned output-equal:
    *
    * - `hotPreFilter = false` (benched local path): ONE window over the
    *   key columns counts df AND leaves the frame hash-partitioned (and
    *   sorted) on exactly the pair join's keys, so the self-join reuses
    *   the exchange on BOTH sides (r6 ran a separate groupBy shuffle
    *   plus a broadcast anti-join, and each join side re-exchanged —
    *   measured 3.5 s → ~2 s at sf0.1). Only the post-window frame is
    *   persisted (InMemoryRelation preserves the child's partitioning/
    *   ordering, which is what the join reuse rides on). Skew caveat:
    *   the window task holding the hottest key buffers its whole
    *   posting list pre-cap — no partial agg, no AQE skew-split.
    * - `hotPreFilter = true` (the 100 TB path): partial-agg df
    *   (map-side combine bounds every task), broadcast the tiny
    *   Zipf-head key set, anti-join it away BEFORE the wide exchange;
    *   the explicit repartition on the join keys restores the
    *   one-exchange join reuse with every surviving key df-bounded.
    *
    * The hot-key count is always computed and logged (no-silent-caps).
    */
  private[operators] def dfCapKept(exploded: DataFrame, keyCols: Seq[String],
      dfCap: Int, hotPreFilter: Boolean, warnMsg: Long => String): DataFrame = {
    import exploded.sparkSession.implicits._
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val keys = keyCols.map(col)
    // the "<operator>:" prefix every warnMsg starts with doubles as the
    // CapStats tag, so engagement is test-assertable without a signature
    // change at ten call sites
    val tag = warnMsg(0L).takeWhile(_ != ':')
    // r18: the hot-key counts are audit side-channels (no result depends on
    // them); recordDeferred puts them on the query's ledger, which runs
    // them post-action as a cheap scan of the by-then-materialized cache
    // and before the release. The no-silent-caps contract (count always
    // computed, recorded, WARNed before stats or results are observable)
    // is unchanged; CacheRegistry says why deferred and not concurrent.
    if (hotPreFilter) {
      val hot = CacheRegistry.persist(exploded
        .groupBy(keys: _*).agg(count(lit(1)).as("df"))
        .filter($"df" > dfCap).select(keys: _*))
      graft.CapStats.recordDeferred(tag)(hot.count())(n => log.warn(warnMsg(n)))
      CacheRegistry.persist(exploded
        .join(broadcast(hot), keyCols, "left_anti")
        .repartition(keys: _*))
    } else {
      val dfWin = Window.partitionBy(keys: _*)
      val sized = CacheRegistry.persist(exploded
        .withColumn("df", count(lit(1)).over(dfWin)))
      // hot-key drop count: a cheap distinct over the cached frame's
      // capped tail (the Zipf head is at most |keys|/cap entries)
      graft.CapStats.recordDeferred(tag)(
        sized.filter($"df" > dfCap).select(keys: _*).distinct().count())(
        n => log.warn(warnMsg(n)))
      sized.filter($"df" <= dfCap).drop("df")
    }
  }

  /** One cheap probe that picks the [[dfCapKept]] shape for a caller who
    * doesn't know the Zipf shape of their corpus: a partial-agg per-key
    * df (map-side combine bounds every task — the probe can never itself
    * be the skew victim) reduced to a single max. If ANY key exceeds the
    * cap, the window shape would buffer that key's whole posting list in
    * one task, so the pre-filter shape wins; if none does, the window
    * shape's one-exchange reuse wins and the pre-filter's extra
    * broadcast round-trip is pure overhead. The probe costs one extra
    * aggregation pass over the exploded frame (its single-row output is
    * the only thing collected).
    */
  private[operators] def hotProbe(exploded: DataFrame, keyCols: Seq[String],
      dfCap: Int): Boolean = {
    import exploded.sparkSession.implicits._
    val keys = keyCols.map(col)
    val r = exploded.groupBy(keys: _*).agg(count(lit(1)).as("df"))
      .agg(max($"df")).head()
    !r.isNullAt(0) && r.getLong(0) > dfCap
  }

  /** [[ngramJaccardPairs]] with the df-cap shape AUTO-SELECTED by
    * [[hotProbe]] — the library entry point for callers who don't know
    * whether their corpus has a Zipf head above the cap. Output is
    * identical to either explicit shape (spec-pinned).
    */
  def ngramJaccardPairsAuto(s: SparkSession, docs: DataFrame,
      threshold: Double, dfCap: Int): DataFrame =
    ngramJaccardPairs(s, docs, threshold, dfCap,
      hotPreFilter = hotProbe(bigramExploded(docs), Seq("source", "gram"), dfCap))

  /** [[ngramContainmentPairs]] with the df-cap shape auto-selected. */
  def ngramContainmentPairsAuto(s: SparkSession, docs: DataFrame,
      threshold: Double, dfCap: Int): DataFrame =
    ngramContainmentPairs(s, docs, threshold, dfCap,
      hotPreFilter = hotProbe(bigramExploded(docs), Seq("source", "gram"), dfCap))

  private val c2n = QuerySpec(
    "c2_ngram_jaccard",
    s"Word-bigram Jaccard near-dup, blocked by `source` (pairs only within a block — never corpus²); exact bigram-set Jaccard ≥ 0.6. Candidate generation df-capped at $NgramDfCap (drops logged + CapStats-recorded, Jaccard never inflated); the oracle replays the SAME capped inverted-index pair mine, so the gate holds even with the cap engaged (SPARK_GRAFT_NGRAM_DF_CAP).",
    Some(s"""WITH $ngramPostingCtes,
            |$ngramPairCountsCte
            |SELECT id_a, id_b,
            |  CAST(shared AS DOUBLE) / (sa + sb - shared) AS jaccard
            |FROM pp
            |WHERE CAST(shared AS DOUBLE) / (sa + sb - shared) >= $NgramThreshold
            |ORDER BY id_a, id_b""".stripMargin),
    // Inverted-index shape, NOT per-pair array set ops: explode bigrams,
    // join on (source, gram), count shared grams per pair, then
    // jaccard = shared / (|A| + |B| - shared). Same integers as the
    // oracle's intersect/union lengths, but the heavy work is a codegen'd
    // equi-join + count instead of interpreted per-pair array
    // intersections (76s -> ~3s at sf0.1), and it's the shape that
    // scales: shuffle by gram, per-gram fan-out bounded by the df cap.
    (s, d) => ngramJaccardPairs(s, Tables.documents(s, d), NgramThreshold, NgramDfCap)
  )

  // ------------------------------------- near-dup cluster assignment (CC)
  /** Hash-min connected components over an undirected edge list — the
    * step AFTER pair mining in a dedup pipeline: pairs → clusters → one
    * kept representative per cluster. Each round every node takes the min
    * label among itself and its neighbors; converges in O(graph diameter)
    * rounds, and near-dup clusters are shallow (diameter ≤ cluster size,
    * typically ≤ 5), so the driver loop runs a handful of shuffle joins.
    * Kept as the simple baseline; [[connectedComponentsStar]] is the
    * diameter-independent O(log n)-round variant the declared query runs
    * (ScaleSpec pins their label-for-label equivalence on a planted
    * chain). min() is commutative/associative, so the
    * result is partition-invariant and replay-deterministic.
    *
    * @param nodes (id)        every node, edges or not (singletons keep
    *                          their own id as cluster)
    * @param edges (src, dst)  undirected pairs, each listed once
    * @return (id, cluster) — cluster = min node id reachable
    */
  def connectedComponents(s: SparkSession, nodes: DataFrame, edges: DataFrame,
      maxIters: Int = 50): DataFrame = {
    import s.implicits._
    // No distinct: callers pass each undirected pair once (id_a < id_b), so
    // the two-direction union is already duplicate-free — and hash-min is
    // duplicate-tolerant anyway, so a stray dup could only cost work, never
    // correctness. Dropping it saves a full shuffle of the edge list.
    val und = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .persist()
    var labels = nodes.select($"id", $"id".as("cluster"))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbrMin = und.join(labels, und("dst") === labels("id"))
        .groupBy(und("src").as("nid")).agg(min($"cluster").as("nbr_min"))
      // carry the old label inside the frame: ONE action both materializes
      // the round and measures convergence (a separate changed-join would
      // double the per-round job count — measured ~2s/round at sf0.1).
      // Lazy lineage barrier, not persist: each round references `labels`
      // 2× (the nbrMin join + the outer join), so an un-truncated lineage
      // TRIPLES per round — and every per-round action stringifies the
      // whole plan for the SQL listener, so plan analysis AND the plan-
      // string render grow 3^rounds (measured: minutes of pure driver
      // generateTreeString on an 8-node chain late in a shared session).
      // The barrier restarts the plan from a leaf each round; the
      // convergence count is the materializing action, and every round's
      // blocks are released with the query.
      val next = Par.barrier(
        labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
          .select(labels("id"),
            least($"cluster", coalesce($"nbr_min", $"cluster")).as("cluster"),
            labels("cluster").as("old")),
        eager = false)
      changed = next.filter($"cluster" =!= $"old").count()
      labels = next.select($"id", $"cluster")
      iter += 1
    }
    und.unpersist()
    labels
  }

  // --------------------------- large-star/small-star star contraction CC
  /** One large-star step: every node u computes m(u) = min(Γ(u) ∪ {u}) and
    * re-attaches each STRICTLY LARGER neighbor to m(u). Connectivity is
    * preserved (each undirected edge (a,b), a<b, is re-emitted from a's
    * group as (b, m(a))) and the sum of node labels strictly decreases
    * until the component is a star.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val m = und.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    und.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
    // No distinct: the output feeds smallStar, whose groupBy/min is
    // duplicate-tolerant and whose own final distinct bounds the round's
    // edge set — fusing the two dedup passes saves a full shuffle/round.
  }

  /** One small-star step: orient every edge (hi, lo), hi > lo; each hi
    * attaches all its smaller neighbors AND itself to m(hi) = min of those
    * neighbors — collapsing chains of small nodes onto the local minimum.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val o = e.select(greatest(col("u"), col("v")).as("hi"),
      least(col("u"), col("v")).as("lo"))
    val m = o.groupBy(col("hi")).agg(min(col("lo")).as("m"))
    val attach = o.join(m, "hi").filter(col("lo") =!= col("m"))
      .select(col("lo").as("u"), col("m").as("v"))
    attach.union(m.select(col("hi").as("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Star-contraction connected components (alternating large-star /
    * small-star, Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): converges in O(log n) rounds on ANY graph, vs the hash-min
    * loop's O(diameter) — the difference between 6 and 60+ shuffle rounds
    * on a chain-shaped cluster. Each round is two groupBy+join+distinct
    * passes over the CURRENT edge set, which only shrinks as components
    * contract toward stars. min/greatest/least are order-invariant, so the
    * result is partition-invariant and replay-deterministic.
    *
    * Convergence is detected by an edge-set fingerprint (count + sum of
    * xxhash64(u,v)) — ONE action per TWO star rounds: each loop pass
    * fuses two large/small alternations into a single lazily-
    * checkpointed plan before fingerprinting, because at local scale the
    * per-action driver round-trip (job scheduling + the SQL listener's
    * plan stringification) dominates the tiny per-round compute — r7
    * measured c2_cluster as driver-latency-bound, and halving actions
    * attacks exactly that floor. The fused plan is ~64 nodes per action
    * (8× per star round) — a bounded constant, since the checkpoint
    * still cuts lineage every action. Correctness is untouched: the
    * alternation is a monotone contraction (the label sum strictly
    * decreases until the fixed point, so there is no period-2 cycle a
    * two-round stride could alias with), a converged set stays
    * converged, and a missed change needs a 2^-64 hash-sum collision
    * between two distinct same-size edge sets. At the fixed point every
    * component is a star rooted at its minimum id, so the final label is
    * least(id, min(neighbor)).
    *
    * Adaptive small-graph fast path (`localCap`): after the initial
    * dedup+fingerprint action, if the DISTINCT edge count is at most
    * `localCap` and the keys are LongType, the component labels are
    * computed by a driver-side union-find over ONE bounded collect
    * (union-by-min, so the root of every component IS its minimum id —
    * bit-identical labels to the distributed fixed point) and broadcast
    * back for the isolated-node left join. This is the AQE philosophy
    * applied to iterative graphs: the distributed rounds cost a fixed
    * ~2-3 s of driver/action latency regardless of graph size (measured,
    * r13 bench: the CC family is the suite's slowest class at any SF),
    * which is the RIGHT price for a 100 TB pair graph and the wrong one
    * for a banding run that produced 4k edges. The cap is a driver-memory
    * constant (65536 edges ≈ 1 MB collected; `localCap = 0` disables it),
    * so the decision is made on a measured count, never on an SF guess — at 100 TB a corpus-scale
    * pair graph blows the cap on the very first fingerprint and takes
    * the distributed rounds as before.
    *
    * @return (labels (id, cluster), star rounds run, driver actions) —
    *         rounds for the ScaleSpec log-convergence assertion (0 on
    *         the fast path), actions for the SimSpec halved-round-trips
    *         assertion
    */
  private[graft] def starComponents(s: SparkSession, nodes: DataFrame,
      edges: DataFrame, maxIters: Int = 50,
      localCap: Long = CcLocalCap): (DataFrame, Int, Int) = {
    import s.implicits._
    // Lineage barrier, not persist: one star round references its input ~8×
    // (the union doubling + the groupBy/join reuse on each star), so the
    // LOGICAL plan grows 8× per round — exponential analysis cost by
    // round ~6 if lineage is kept. The barrier materializes the edge
    // list and restarts the plan from a leaf each round, the standard
    // discipline for iterative graph algorithms (same reason GraphFrames
    // CC checkpoints every few iterations). With a checkpoint dir set,
    // every pass is recoverable from durable storage (see Par.barrier).
    var cur = Par.barrier(edges.select($"src".as("u"), $"dst".as("v"))
      .filter($"u" =!= $"v").distinct(), eager = true)
    // decimal(38,0) sum: exact and order-invariant, and can't hit the
    // ANSI long-overflow 2^63 wrap a raw sum of 64-bit hashes would
    def fp(e: DataFrame): (Long, String) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64($"u", $"v").cast(DecimalType(38, 0)))).head()
      (r.getLong(0), if (r.isNullAt(1)) "" else r.getDecimal(1).toString)
    }
    var prevFp = fp(cur)
    val longKeys = nodes.schema("id").dataType == LongType &&
      cur.schema("u").dataType == LongType && cur.schema("v").dataType == LongType
    if (localCap > 0 && longKeys && prevFp._1 <= localCap) {
      // small-graph fast path: one bounded collect, union-by-min union-find
      // (the root of a component is always its min id, so labels are
      // bit-identical to the distributed fixed point's least(id, min(nbr)))
      val es = cur.select($"u", $"v").collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val ids = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      val lbl = ids.toSeq.map(id => (id, find(id))).toDF("nid0", "mn0")
      val labels = nodes.select($"id")
        .join(broadcast(lbl), $"id" === $"nid0", "left")
        .select($"id", coalesce($"mn0", $"id").as("cluster"))
      return (labels, 0, 1)
    }
    var rounds = 0
    var actions = 1 // the initial fingerprint
    var converged = false
    while (!converged && rounds < maxIters) {
      // Lazy barrier: the fingerprint aggregation is the pass's ONE
      // action — it runs `CcStride` star rounds and materializes their
      // barriers as side effects (an eager barrier would cost extra full
      // jobs per pass just to materialize first). Every MID round must
      // also be a barrier: a star round references its input ~8×, and
      // only the barrier makes those references share one computed RDD —
      // fusing rounds into one un-checkpointed plan re-executes the inner
      // round per reference (measured ~2× whole-query cost at sf0.1). The
      // per-action plan stays bounded at ~8·stride nodes because each mid
      // barrier cuts lineage. Stride semantics are safe at any value: the
      // alternation is a monotone contraction (no period-k cycle to alias
      // with), a converged set stays converged, and the only cost of a
      // larger stride is up to stride-1 no-op rounds after the fixed
      // point — which is also why stride stays small (r11 measured 2 vs 3
      // vs 4 at sf0.1: see BENCH_NOTES.md; the winner is CcStride).
      var x = cur
      (1 to CcStride).foreach(_ => x = Par.barrier(smallStar(largeStar(x)), eager = false))
      val nextFp = fp(x)
      cur = x
      converged = nextFp == prevFp
      prevFp = nextFp
      rounds += CcStride
      actions += 1
    }
    val und = cur.union(cur.select($"v".as("u"), $"u".as("v")))
    val nbrMin = und.groupBy($"u".as("nid")).agg(min($"v").as("mn"))
    val labels = nodes.select($"id")
      .join(nbrMin, $"id" === $"nid", "left")
      .select($"id", least($"id", coalesce($"mn", $"id")).as("cluster"))
    (labels, rounds, actions)
  }

  /** Star rounds fused per driver action: the measured winner — r11
    * compared {2, 3, 4} at sf0.1 on c2_cluster/c2_dedup_corpus/
    * c1j_cluster_split, see BENCH_NOTES.md.
    */
  private val CcStride = 2

  /** Distinct-edge ceiling for [[starComponents]]'s driver union-find fast
    * path (~1 MB collected).
    */
  private val CcLocalCap = 65536L

  /** Star-contraction CC with the same (nodes, edges) → (id, cluster)
    * contract as [[connectedComponents]]; the variant `c2_cluster` runs.
    */
  def connectedComponentsStar(s: SparkSession, nodes: DataFrame,
      edges: DataFrame, maxIters: Int = 50): DataFrame =
    starComponents(s, nodes, edges, maxIters)._1

  private val ClusterThreshold = 0.3
  /** Recursive-reachability CTE prefix shared by the `c2_cluster` and
    * `c2_cluster_sizes` oracles (single definition site, the mhBandCtes
    * discipline): bigram-Jaccard ≥ threshold pair graph → symmetric edge
    * list → full reachability; `reach` closes over (id, root) pairs.
    */
  private def clusterReachCtes: String =
    s"""t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            b AS (SELECT doc_id, source,
              list_distinct(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS grams
              FROM t WHERE len(toks) >= 2),
            prs AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b
              FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
              WHERE CAST(len(list_intersect(a.grams, c.grams)) AS DOUBLE)
                    / len(list_distinct(a.grams || c.grams)) >= $ClusterThreshold),
            e AS (SELECT id_a AS s, id_b AS d FROM prs
                  UNION ALL SELECT id_b, id_a FROM prs),
            n AS (SELECT DISTINCT doc_id AS id FROM documents),
            reach AS (SELECT id, id AS root FROM n
              UNION
              SELECT e.d, reach.root FROM reach JOIN e ON e.s = reach.id)"""
  private val c2c = QuerySpec(
    "c2_cluster",
    "Near-dup cluster assignment: large-star/small-star star-contraction components (O(log n) rounds on any graph shape) over the word-bigram Jaccard >= 0.3 pair graph; every document labeled with the min doc_id of its cluster (singletons label themselves). Oracle replays reachability with a recursive CTE.",
    Some(s"""WITH RECURSIVE $clusterReachCtes
            SELECT id AS doc_id, MIN(root) AS cluster_id
            FROM reach GROUP BY id ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pairs = ngramJaccardPairsRaw(s, docs, ClusterThreshold, NgramDfCap)
        .select($"id_a".as("src"), $"id_b".as("dst"))
      val nodes = docs.select($"doc_id".as("id"))
      connectedComponentsStar(s, nodes, pairs)
        .select($"id".as("doc_id"), $"cluster".as("cluster_id"))
        .orderBy($"doc_id")
    }
  )

  // ------------------------------------------ end-to-end dedup composition
  /** The whole near-dup stage a crawl pipeline actually runs, composed from
    * the pieces above: similarity pairs → connected components → ONE
    * canonical survivor per cluster (longest doc by `n_chars`, ties to the
    * lowest doc_id — the c1c keep-best rule applied to near-dup clusters
    * instead of exact-fingerprint groups). Output is the deduped corpus
    * manifest: per cluster its survivor and how many near-dups it sheds.
    *
    * Scale: the label frame is corpus-sized, so the docs⋈labels join is a
    * shuffle join on doc_id (both sides pre-partitioned by the CC output);
    * the keep-best is a single hash aggregate — `max_by` partial-aggregates
    * map-side, no window, no per-cluster sort (same argument as c1c).
    *
    * `docs` needs `doc_id`, `source`, `text`, `n_chars`. Returns one row
    * per cluster: (cluster_id, kept_doc_id, n_chars, n_members).
    */
  def dedupCorpus(s: SparkSession, docs: DataFrame,
      threshold: Double, dfCap: Int): DataFrame = {
    import s.implicits._
    val pairs = ngramJaccardPairsRaw(s, docs, threshold, dfCap)
      .select($"id_a".as("src"), $"id_b".as("dst"))
    val nodes = docs.select($"doc_id".as("id"))
    connectedComponentsStar(s, nodes, pairs)
      .join(docs.select($"doc_id", $"n_chars"), $"id" === $"doc_id")
      .groupBy($"cluster".as("cluster_id"))
      .agg(
        max_by(struct($"doc_id", $"n_chars"),
          struct($"n_chars", (-$"doc_id").as("neg_id"))).as("best"),
        count(lit(1)).as("n_members"))
      .select($"cluster_id", $"best.doc_id".as("kept_doc_id"),
        $"best.n_chars".as("n_chars"), $"n_members")
      .orderBy($"cluster_id")
  }

  // ------------------------------------------ near-dup-safe corpus split
  /** Leakage-safe train/val/test split at NEAR-DUP granularity — the
    * stronger version of the c1d exact-fingerprint split: c1d keeps
    * byte-identical documents together, but a near-duplicate of a
    * training doc landing in the test split is still leakage. Here the
    * split is drawn from the md5 of the near-dup CLUSTER id (star CC over
    * the Jaccard pair graph), so every member of a cluster lands in the
    * same split BY CONSTRUCTION — no near-dup pair can straddle a split
    * boundary. Deterministic md5 draw (~75/12.5/12.5), no RNG,
    * partition-invariant.
    *
    * Scale shape: pair graph + CC reuse their audited shapes; the split
    * column is one map-side expression over the |V|-row label frame and
    * the docs⋈labels equi-join shuffles on doc_id once.
    *
    * `docs` needs `doc_id`, `source`, `text`. Returns one row per doc:
    * (doc_id, cluster, split).
    */
  def clusterSafeSplit(s: SparkSession, docs: DataFrame,
      threshold: Double, dfCap: Int): DataFrame = {
    import s.implicits._
    val pairs = ngramJaccardPairsRaw(s, docs, threshold, dfCap)
      .select($"id_a".as("src"), $"id_b".as("dst"))
    val nodes = docs.select($"doc_id".as("id"))
    val draw = substring(md5($"cluster".cast(StringType)), 1, 1)
    connectedComponentsStar(s, nodes, pairs)
      .select($"id".as("doc_id"), $"cluster",
        when(draw < "c", "train").when(draw < "e", "val")
          .otherwise("test").as("split"))
  }

  private val c1j = QuerySpec(
    "c1j_cluster_split",
    "Leakage-safe split at near-dup granularity: split drawn from md5(cluster id) of the Jaccard>=0.3 star-CC clusters, so near-dup pairs can never straddle train/val/test; per-split doc and cluster counts.",
    Some(s"""WITH RECURSIVE t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            b AS (SELECT doc_id, source,
              list_distinct(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS grams
              FROM t WHERE len(toks) >= 2),
            prs AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b
              FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
              WHERE CAST(len(list_intersect(a.grams, c.grams)) AS DOUBLE)
                    / len(list_distinct(a.grams || c.grams)) >= $ClusterThreshold),
            e AS (SELECT id_a AS s, id_b AS d FROM prs
                  UNION ALL SELECT id_b, id_a FROM prs),
            n AS (SELECT DISTINCT doc_id AS id FROM documents),
            reach AS (SELECT id, id AS root FROM n
              UNION
              SELECT e.d, reach.root FROM reach JOIN e ON e.s = reach.id),
            lab AS (SELECT id AS doc_id, MIN(root) AS cluster
              FROM reach GROUP BY id),
            sp AS (SELECT doc_id, cluster,
              CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1) < 'c' THEN 'train'
                   WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1) < 'e' THEN 'val'
                   ELSE 'test' END AS split
              FROM lab)
            SELECT split, COUNT(*) AS n_docs,
              COUNT(DISTINCT cluster) AS n_clusters, MIN(doc_id) AS first_id
            FROM sp GROUP BY split ORDER BY split"""),
    (s, d) => {
      import s.implicits._
      clusterSafeSplit(s, Tables.documents(s, d), ClusterThreshold, NgramDfCap)
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"cluster").as("n_clusters"),
          min($"doc_id").as("first_id"))
        .orderBy($"split")
    }
  )

  // --------------------------------------------- incremental near-dup admit
  /** Incremental near-dup admission — the daily-increment shape: an
    * arriving batch (`is_new = true`) is checked against the EXISTING
    * corpus and against itself, and old×old candidate pairs are never
    * generated. That asymmetry is the whole scale story: at 100 TB the
    * standing corpus dwarfs a day's crawl, and a full-corpus re-dedup
    * (`c2_cluster` / [[dedupCorpus]]) re-pays the old×old join every run,
    * while here the pair join's build side is only the increment's
    * postings — old docs appear solely as streamed probe rows on grams an
    * increment doc actually shares.
    *
    * Admission rule (deterministic, one-pass): a new doc is admitted iff
    * it has NO near-dup (Jaccard ≥ threshold over distinct word bigrams,
    * `source`-blocked like the other c2 operators) among old docs, and no
    * SMALLER-id near-dup among new docs — the first-occurrence-wins
    * convention of batch dedup. Note this is slightly conservative vs.
    * greedy sequential admission: in a chain a←b←c where b is rejected
    * for duplicating a, c is still rejected for duplicating b even though
    * b never entered the corpus — standard LSH-dedup practice, and the
    * price of staying one-pass instead of iterating admissions.
    *
    * `docs` needs `doc_id`, `source`, `text`, `is_new`. Returns every new
    * doc with its old/prior-new near-dup counts and the admitted flag.
    */
  def incrementalNearDup(s: SparkSession, docs: DataFrame,
      threshold: Double, dfCap: Int, hotPreFilter: Boolean = false): DataFrame = {
    import s.implicits._
    val exploded = docs
      .select($"doc_id", $"source", $"is_new", bigramsUdf($"text").as("grams"))
      .filter(size($"grams") >= 1)
      .select($"doc_id", $"source", $"is_new",
        size($"grams").as("sz"), explode($"grams").as("gram"))
    val kept = dfCapKept(exploded, Seq("source", "gram"), dfCap, hotPreFilter,
      nHot => s"c2_incremental: dropped $nHot grams with df > $dfCap from " +
        "candidate generation (Jaccard becomes a strict underestimate for " +
        "pairs sharing a dropped gram; set sizes stay exact)")
    val others = kept.select($"doc_id".as("id_o"), $"source",
      $"is_new".as("new_o"), $"sz".as("so"), $"gram")
    val arriving = kept.filter($"is_new")
      .select($"doc_id".as("id_n"), $"source".as("source_r"),
        $"sz".as("sn"), $"gram".as("gram_r"))
    // same correctly-rounded division-form length prune as ngramJaccardPairs
    val pairs = others.join(arriving,
        $"source" === $"source_r" && $"gram" === $"gram_r" &&
        $"id_o" =!= $"id_n" && (!$"new_o" || $"id_o" < $"id_n") &&
        least($"so", $"sn").cast(DoubleType) / greatest($"so", $"sn") >= threshold)
      .groupBy($"id_n", $"id_o", $"new_o", $"so", $"sn")
      .agg(count(lit(1)).as("shared"))
      .filter($"shared".cast(DoubleType) / ($"so" + $"sn" - $"shared") >= threshold)
    val perNew = pairs.groupBy($"id_n").agg(
      sum(when(!$"new_o", 1L).otherwise(0L)).as("old_dups"),
      sum(when($"new_o", 1L).otherwise(0L)).as("prior_dups"))
    docs.filter($"is_new").select($"doc_id")
      .join(perNew, $"doc_id" === $"id_n", "left")
      .select($"doc_id",
        coalesce($"old_dups", lit(0L)).as("n_old_dups"),
        coalesce($"prior_dups", lit(0L)).as("n_prior_dups"))
      .withColumn("admitted", $"n_old_dups" === 0L && $"n_prior_dups" === 0L)
      .orderBy($"doc_id")
  }

  private val c2inc = QuerySpec(
    "c2_incremental",
    "Incremental near-dup admission: md5-split ~25% of documents arrive as the new batch, checked Jaccard>=0.3 against the standing 75% and smaller-id new docs (old-vs-old pairs never generated); per new doc its old/prior-new dup counts and admitted flag.",
    Some(s"""WITH t AS (SELECT doc_id, source,
              substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'c' AS is_new,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            b AS (SELECT doc_id, source, is_new,
              list_distinct(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS grams
              FROM t WHERE len(toks) >= 2),
            prs AS (SELECT n.doc_id AS id_n, o.is_new AS new_o
              FROM b n JOIN b o ON n.is_new AND o.source = n.source
                AND o.doc_id <> n.doc_id AND (NOT o.is_new OR o.doc_id < n.doc_id)
              WHERE CAST(len(list_intersect(n.grams, o.grams)) AS DOUBLE)
                    / len(list_distinct(n.grams || o.grams)) >= $ClusterThreshold),
            agg AS (SELECT id_n,
              SUM(CASE WHEN NOT new_o THEN 1 ELSE 0 END) AS old_dups,
              SUM(CASE WHEN new_o THEN 1 ELSE 0 END) AS prior_dups
              FROM prs GROUP BY id_n)
            SELECT t.doc_id,
              CAST(COALESCE(agg.old_dups, 0) AS BIGINT) AS n_old_dups,
              CAST(COALESCE(agg.prior_dups, 0) AS BIGINT) AS n_prior_dups,
              (COALESCE(agg.old_dups, 0) = 0 AND COALESCE(agg.prior_dups, 0) = 0)
                AS admitted
            FROM t LEFT JOIN agg ON agg.id_n = t.doc_id
            WHERE t.is_new ORDER BY t.doc_id"""),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).withColumn("is_new",
        substring(md5($"doc_id".cast(StringType)), 1, 1) >= "c")
      incrementalNearDup(s, docs, ClusterThreshold, NgramDfCap)
    }
  )

  // ------------------------------------------- similarity-graph PageRank
  /** Document-importance PageRank over the near-dup similarity graph —
    * the graph-centrality quality signal (a doc many near-dups point at is
    * template/boilerplate; an isolated doc is unique content). Uniform-
    * teleport variant: `r' = 0.15 + 0.85 · Σ_in r(u)/deg(u)` on the
    * undirected Jaccard pair graph, fixed `iters` power iterations.
    *
    * Determinism at scale: ranks are SCALED BIGINTs (1.0 ≡ 10⁶) and every
    * step is integer arithmetic — per-edge contribution `rank div deg`,
    * damping `(85 · Σ) div 100` — so the shuffle-order-dependent float
    * summation problem never arises: integer sums commute bit-for-bit,
    * and the unrolled-CTE oracle replays the exact values (the
    * c4_unigram_ce quantization discipline applied to an iterative graph
    * algorithm).
    *
    * Scale shape: edges (+degrees) are computed ONCE and cached; each
    * iteration is one equi-join ranks⋈edges on the cached frame's
    * partitioning plus one partial-aggregated groupBy(dst) — map-side
    * combine bounds every task even on a power-law degree distribution,
    * because integer contributions fold before the shuffle. The rank
    * frame is |V| rows; the corpus text never re-enters after the pair
    * graph is built. `iters` is fixed (power iteration converges
    * geometrically; 3 rounds separate tiers, it is not a convergence
    * loop), so lineage stays bounded without checkpoints.
    */
  def similarityPageRank(s: SparkSession, docs: DataFrame, threshold: Double,
      dfCap: Int, iters: Int = 3, hotPreFilter: Boolean = false): DataFrame = {
    import s.implicits._
    val prs = CacheRegistry.persist(
      ngramJaccardPairsRaw(s, docs, threshold, dfCap, hotPreFilter)
        .select($"id_a", $"id_b"))
    val edges = prs.select($"id_a".as("src"), $"id_b".as("dst"))
      .union(prs.select($"id_b".as("src"), $"id_a".as("dst")))
    val withDeg = CacheRegistry.persist(
      edges.join(edges.groupBy($"src").agg(count(lit(1)).as("deg")), "src"))
    val nodes = CacheRegistry.persist(docs.select($"doc_id").distinct())
    var ranks = nodes.select($"doc_id".as("rid"), lit(1000000L).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = withDeg.join(ranks, $"src" === $"rid")
        .select($"dst", expr("rank div deg").as("c"))
        .groupBy($"dst").agg(sum($"c").as("m"))
      ranks = nodes.join(contrib, $"doc_id" === $"dst", "left")
        .select($"doc_id".as("rid"),
          (lit(150000L) + expr("(85 * coalesce(m, CAST(0 AS BIGINT))) div 100"))
            .as("rank"))
    }
    ranks.select($"rid".as("doc_id"), $"rank".as("rank_scaled"))
      .orderBy($"doc_id")
  }

  private val PageRankIters = 3
  private def prContribSql(rPrev: String, i: Int): String =
    s"""cx$i AS (SELECT e.d AS id, SUM($rPrev.rank // dg.deg) AS m
              FROM e JOIN dg ON dg.s = e.s JOIN $rPrev ON $rPrev.id = e.s
              GROUP BY e.d),
            r$i AS (SELECT n.id,
              CAST(150000 + (85 * COALESCE(cx$i.m, 0)) // 100 AS BIGINT) AS rank
              FROM n LEFT JOIN cx$i ON cx$i.id = n.id)"""

  private val c2pr = QuerySpec(
    "c2_pagerank",
    s"Similarity-graph PageRank: $PageRankIters integer-quantized power iterations (rank 1.0 = 1e6, per-edge contribution rank div deg, damping (85*sum) div 100) over the undirected Jaccard>=0.3 pair graph; exact BIGINT arithmetic makes the shuffle-order float-sum problem structurally absent.",
    Some(s"""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            b AS (SELECT doc_id, source,
              list_distinct(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS grams
              FROM t WHERE len(toks) >= 2),
            prs AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b
              FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
              WHERE CAST(len(list_intersect(a.grams, c.grams)) AS DOUBLE)
                    / len(list_distinct(a.grams || c.grams)) >= $ClusterThreshold),
            e AS (SELECT id_a AS s, id_b AS d FROM prs
                  UNION ALL SELECT id_b, id_a FROM prs),
            dg AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s),
            n AS (SELECT doc_id AS id FROM documents GROUP BY doc_id),
            r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM n),
            ${(1 to PageRankIters).map(i => prContribSql(s"r${i - 1}", i)).mkString(",\n            ")}
            SELECT id AS doc_id, rank AS rank_scaled
            FROM r$PageRankIters ORDER BY doc_id"""),
    (s, d) => similarityPageRank(s, Tables.documents(s, d), ClusterThreshold,
      NgramDfCap, PageRankIters)
  )

  // --------------------------------------------- triangle count / transitivity
  /** Per-source triangle count and global transitivity over the
    * Jaccard ≥ [[ClusterThreshold]] similarity graph — the standard
    * graph-shape diagnostic for a near-dup corpus (high transitivity =
    * duplicates form tight cliques the keep-best pass can safely collapse;
    * low = chains of borderline pairs where transitive dedup over-merges).
    *
    * Scale shape: DEGREE-ORDERED wedge enumeration, the compact-forward
    * algorithm. Each edge is oriented from its lower-(degree, id) endpoint
    * to the higher one, so every triangle is generated exactly once at its
    * unique minimum-(degree, id) apex and — the part that matters at
    * 100 TB — per-node wedge fan-out is bounded by the node's OUT-degree,
    * which the orientation caps at O(√m) for any graph (arboricity bound):
    * a Zipf hub with degree 10⁶ contributes ~0 wedges because all its
    * edges point INTO it. Three shuffles total (degree agg, wedge
    * self-join on apex, closure equi-join on the wedge endpoints pair);
    * no cartesian anywhere; the underlying pair graph is the same
    * df-capped inverted-index join as `c2_cluster`/`c2_pagerank`.
    * Transitivity is emitted as an exact integer ((3·tri·10⁶) div wedges)
    * so the result is shuffle-order-free.
    *
    * All arithmetic is integer-exact, so the DuckDB oracle replays it with
    * plain self-joins (a<b<c closure — fine at oracle SF, wrong shape at
    * scale; the Spark side is the scale shape).
    */
  def triangleStats(s: SparkSession, docs: DataFrame,
      threshold: Double, dfCap: Int): DataFrame = {
    import s.implicits._
    // pairs (id_a < id_b, within-source by construction); re-attach source
    // via a plain equi-join on the functional doc_id→source mapping —
    // pairs ≪ docs, one shuffle, keeps ngramJaccardPairs' declared
    // output untouched.
    val prs = ngramJaccardPairsRaw(s, docs, threshold, dfCap)
      .select($"id_a", $"id_b")
    // cache the sourced edge list: degrees, orientation, closure, and the
    // edge-stats agg all re-read it — uncached, each consumer would
    // recompute the whole inverted-index pair join (4× the dominant cost)
    val e = CacheRegistry.persist(prs
      .join(docs.select($"doc_id", $"source"), $"id_a" === $"doc_id")
      .select($"source", $"id_a", $"id_b"))
    val deg = CacheRegistry.persist(
      e.select($"source", $"id_a".as("node"))
        .unionAll(e.select($"source", $"id_b".as("node")))
        .groupBy($"source", $"node").agg(count(lit(1)).as("deg")))
    // orient each edge low-(deg, id) → high-(deg, id)
    val da = deg.select($"source", $"node".as("id_a"), $"deg".as("da"))
    val db = deg.select($"source".as("src_b"), $"node".as("node_b"), $"deg".as("db"))
    val oriented = CacheRegistry.persist(e
      .join(da, Seq("source", "id_a"))
      .join(db, $"source" === $"src_b" && $"id_b" === $"node_b")
      .select($"source",
        when($"da" < $"db" || ($"da" === $"db" && $"id_a" < $"id_b"),
          $"id_a").otherwise($"id_b").as("apex"),
        when($"da" < $"db" || ($"da" === $"db" && $"id_a" < $"id_b"),
          $"id_b").otherwise($"id_a").as("dst")))
    // wedges at each apex (unordered endpoint pair, id-normalised u < v —
    // both endpoints are (deg,id)-above the apex but their id order is free)
    val w1 = oriented.select($"source", $"apex", $"dst".as("u"))
    val w2 = oriented.select($"source".as("src_2"), $"apex".as("apex_2"), $"dst".as("v"))
    val wedges = w1.join(w2,
        $"source" === $"src_2" && $"apex" === $"apex_2" && $"u" < $"v")
      .select($"source", $"u", $"v")
    // closure: the wedge endpoints pair is an edge of the undirected graph
    val closing = e.select($"source".as("src_c"), $"id_a".as("u_c"), $"id_b".as("v_c"))
    val tri = wedges.join(closing,
        $"source" === $"src_c" && $"u" === $"u_c" && $"v" === $"v_c")
      .groupBy($"source").agg(count(lit(1)).as("n_triangles"))
    val degStats = deg.groupBy($"source").agg(
      count(lit(1)).as("n_nodes"),
      sum($"deg" * ($"deg" - lit(1))).as("two_wedges"))
    val edgeStats = e.groupBy($"source").agg(count(lit(1)).as("n_edges"))
    degStats
      .join(edgeStats, Seq("source"))
      .join(tri, Seq("source"), "left")
      .select($"source", $"n_nodes", $"n_edges",
        expr("two_wedges div 2").as("n_wedges"),
        coalesce($"n_triangles", lit(0L)).as("n_triangles"))
      .withColumn("transitivity_e6",
        when($"n_wedges" > 0,
          expr("(3 * n_triangles * 1000000) div n_wedges")).otherwise(lit(0L)))
      .orderBy($"source")
  }

  private val c2tr = QuerySpec(
    "c2_triangles",
    s"Per-source triangle count + wedge count + exact integer transitivity ((3*tri*1e6) div wedges) over the Jaccard>=$ClusterThreshold similarity graph; degree-ordered wedge enumeration (each triangle once at its min-(deg,id) apex, fan-out O(sqrt(m)) per node), never node^3.",
    Some(s"""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            b AS (SELECT doc_id, source,
              list_distinct(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS grams
              FROM t WHERE len(toks) >= 2),
            prs AS (SELECT a.source AS source, a.doc_id AS id_a, c.doc_id AS id_b
              FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
              WHERE CAST(len(list_intersect(a.grams, c.grams)) AS DOUBLE)
                    / len(list_distinct(a.grams || c.grams)) >= $ClusterThreshold),
            e AS (SELECT source, id_a AS node FROM prs
                  UNION ALL SELECT source, id_b FROM prs),
            dg AS (SELECT source, node, COUNT(*) AS deg FROM e GROUP BY 1, 2),
            ds AS (SELECT source, COUNT(*) AS n_nodes,
                     CAST(SUM(deg * (deg - 1)) AS BIGINT) // 2 AS n_wedges
                   FROM dg GROUP BY 1),
            es AS (SELECT source, COUNT(*) AS n_edges FROM prs GROUP BY 1),
            tri AS (SELECT e1.source AS source, COUNT(*) AS n_triangles
                    FROM prs e1
                    JOIN prs e2 ON e2.source = e1.source AND e2.id_a = e1.id_b
                    JOIN prs e3 ON e3.source = e1.source
                               AND e3.id_a = e1.id_a AND e3.id_b = e2.id_b
                    GROUP BY 1)
            SELECT ds.source AS source, n_nodes, n_edges, n_wedges,
              COALESCE(n_triangles, 0) AS n_triangles,
              CASE WHEN n_wedges > 0
                   THEN (3 * COALESCE(n_triangles, 0) * 1000000) // n_wedges
                   ELSE 0 END AS transitivity_e6
            FROM ds
            JOIN es USING (source)
            LEFT JOIN tri USING (source)
            ORDER BY source"""),
    (s, d) => triangleStats(s, Tables.documents(s, d), ClusterThreshold, NgramDfCap)
  )

  // --------------------------------------------------- label propagation
  /** Synchronous label propagation (LPA) community detection over the
    * similarity graph — the modularity-style alternative to connected
    * components: CC merges everything reachable (one borderline pair
    * fuses two clusters), LPA needs a MAJORITY vote to pull a node over,
    * so chains of weak links stop propagating. The vote is SELF-INCLUSIVE
    * (the node's own current label competes alongside its neighbors') —
    * without the self vote, the all-tie opening rounds of a
    * singleton-initialized sync LPA resolve every tie to the global min
    * label and the operator degenerates into hash-min CC (observed on the
    * planted two-clique fixture in SimSpec). Fixed [[LpaIters]]
    * synchronous rounds (not to-convergence: sync LPA can 2-cycle on
    * bipartite structures, so a fixed round count IS the deterministic
    * semantics), tie votes to the smallest label; isolated nodes vote
    * only for themselves and keep their own id.
    *
    * Scale shape: the directed edge list is cached once and each round is
    * ONE equi-join (labels on the neighbor side) + TWO partial-aggregated
    * hash aggs (vote count, then arg-max with the exact (count, -label)
    * struct order) — all shuffles key on node id, integer-only
    * arithmetic, O(iters) rounds with linear plan growth. The DuckDB
    * oracle replays the rounds as unrolled CTEs with a row_number vote
    * pick — bit-identical tie-breaks.
    */
  private val LpaIters = 4

  def labelPropagation(s: SparkSession, docs: DataFrame,
      threshold: Double, dfCap: Int, iters: Int): DataFrame = {
    import s.implicits._
    val prs = ngramJaccardPairsRaw(s, docs, threshold, dfCap)
      .select($"id_a", $"id_b")
    val nodes = docs.select($"doc_id".as("id"))
    // directed edges both ways PLUS a self-loop per node — the self vote
    val e = CacheRegistry.persist(
      prs.select($"id_a".as("src"), $"id_b".as("dst"))
        .unionAll(prs.select($"id_b".as("src"), $"id_a".as("dst")))
        .unionAll(nodes.select($"id".as("src"), $"id".as("dst"))))
    var labels = nodes.select($"id", $"id".as("lab"))
    (1 to iters).foreach { _ =>
      val votes = e
        .join(labels.select($"id".as("nbr"), $"lab"), $"dst" === $"nbr")
        .groupBy($"src", $"lab").agg(count(lit(1)).as("c"))
        .groupBy($"src")
        .agg(max_by($"lab", struct($"c", (-$"lab").as("nl"))).as("winner"))
      labels = nodes
        .join(votes, $"id" === $"src", "left")
        .select($"id", coalesce($"winner", $"id").as("lab"))
    }
    labels.select($"id".as("doc_id"), $"lab".as("community"))
      .orderBy($"doc_id")
  }

  private def lpaRoundCtes(iters: Int): String =
    (1 to iters).map { k =>
      s"""v$k AS (SELECT e.src AS id, l.lab, COUNT(*) AS c
         |              FROM e JOIN l${k - 1} l ON l.id = e.dst GROUP BY 1, 2),
         |            m$k AS (SELECT id, lab FROM (
         |              SELECT id, lab,
         |                row_number() OVER (PARTITION BY id ORDER BY c DESC, lab ASC) AS rn
         |              FROM v$k) WHERE rn = 1),
         |            l$k AS (SELECT n.id, COALESCE(m.lab, n.id) AS lab
         |              FROM l0 n LEFT JOIN m$k m ON m.id = n.id)""".stripMargin
    }.mkString(",\n            ")

  private val c2lp = QuerySpec(
    "c2_lpa",
    s"Label-propagation communities over the Jaccard>=$ClusterThreshold similarity graph: $LpaIters synchronous rounds, self-inclusive majority vote, ties to the smallest label, isolated docs keep their own id — the weak-link-resistant alternative to CC clustering; one cached edge join + two partial aggs per round.",
    Some(s"""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            b AS (SELECT doc_id, source,
              list_distinct(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS grams
              FROM t WHERE len(toks) >= 2),
            prs AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b
              FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
              WHERE CAST(len(list_intersect(a.grams, c.grams)) AS DOUBLE)
                    / len(list_distinct(a.grams || c.grams)) >= $ClusterThreshold),
            e AS (SELECT id_a AS src, id_b AS dst FROM prs
                  UNION ALL SELECT id_b, id_a FROM prs
                  UNION ALL SELECT doc_id, doc_id FROM documents),
            l0 AS (SELECT doc_id AS id, doc_id AS lab FROM documents),
            ${lpaRoundCtes(LpaIters)}
            SELECT id AS doc_id, lab AS community
            FROM l$LpaIters ORDER BY doc_id"""),
    (s, d) => labelPropagation(s, Tables.documents(s, d), ClusterThreshold,
      NgramDfCap, LpaIters)
  )

  private val c2dc = QuerySpec(
    "c2_dedup_corpus",
    "End-to-end near-dup dedup: Jaccard>=0.3 pair graph -> star-contraction clusters -> keep-best survivor per cluster (longest n_chars, ties to lowest doc_id) with shed-duplicate counts; the composed corpus-in/survivors-out stage.",
    Some(s"""WITH RECURSIVE t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            b AS (SELECT doc_id, source,
              list_distinct(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS grams
              FROM t WHERE len(toks) >= 2),
            prs AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b
              FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
              WHERE CAST(len(list_intersect(a.grams, c.grams)) AS DOUBLE)
                    / len(list_distinct(a.grams || c.grams)) >= $ClusterThreshold),
            e AS (SELECT id_a AS s, id_b AS d FROM prs
                  UNION ALL SELECT id_b, id_a FROM prs),
            n AS (SELECT DISTINCT doc_id AS id FROM documents),
            reach AS (SELECT id, id AS root FROM n
              UNION
              SELECT e.d, reach.root FROM reach JOIN e ON e.s = reach.id),
            lab AS (SELECT id AS doc_id, MIN(root) AS cluster_id
              FROM reach GROUP BY id),
            j AS (SELECT lab.cluster_id, d.doc_id, d.n_chars
              FROM lab JOIN documents d USING (doc_id)),
            r AS (SELECT cluster_id, doc_id, n_chars,
              row_number() OVER (PARTITION BY cluster_id
                ORDER BY n_chars DESC, doc_id) AS rn,
              COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
              FROM j)
            SELECT cluster_id, doc_id AS kept_doc_id, n_chars, n_members
            FROM r WHERE rn = 1 ORDER BY cluster_id"""),
    (s, d) => dedupCorpus(s, Tables.documents(s, d), ClusterThreshold, NgramDfCap)
  )

  // ------------------------------------------- embedding-cosine near-dup
  private def dotChain(l: String, r: String): String =
    (1 to 64).map(i => s"CAST($l.embedding[$i] AS DOUBLE)*CAST($r.embedding[$i] AS DOUBLE)")
      .mkString(" + ")

  // ---------------------------------------------- SemDeDup (c2_semdedup)
  /** SemDeDup-shaped semantic dedup (Abbas et al. 2023, public arXiv
    * 2303.09540): cluster the embedding space with the k-center coarse
    * quantizer, then ONLY within each cell build the cosine ≥ τ duplicate
    * graph, connect components, and keep one representative per
    * component. The cell blocking is the scale move — candidate pairs are
    * bounded by cell population (~128), never corpus² — and accepting
    * cross-cell misses is the algorithm's documented trade. Deviation
    * from the paper's keep-rule: we keep the LOWEST vec_id per component
    * (deterministic, partition-invariant) instead of
    * lowest-centroid-similarity; the paper itself treats the choice as a
    * free policy. τ = 0.4 fits the synthetic corpus's cosine range (max
    * pair ≈ 0.51); real near-dup corpora run ~0.95+.
    *
    * Oracle: [[AnnSql.prefix]]'s quantizer + assignment (proven by
    * c3_ivf) + the same left-fold cosine chain per within-cell pair +
    * the c2_cluster recursive-CTE reachability for components — the
    * first oracle that composes the ANN machinery with graph CC.
    */
  private val SemDedupTau = 0.4

  /** The SemDeDup stage as a reusable operator (see [[c2sd]] for the full
    * design note): cells from the k-center quantizer, within-cell cosine
    * ≥ tau duplicate graph, star-contraction components, lowest-id
    * representative. `embeddings` needs (vec_id, embedding).
    */
  def semDedup(s: SparkSession, embeddings: DataFrame, tau: Double): DataFrame = {
    import s.implicits._
    val e = CacheRegistry.persist(embeddings
      .select($"vec_id", $"embedding",
        TierC.dot($"embedding", $"embedding").as("n2")))
    val nCells = ivfCells(e.count())
    val seeds = graft.functions.VectorExprs.broadcastSeeds(s,
      kCenterSeeds(md5Sample(e, 1024), nCells))
    val assigned = CacheRegistry.persist(e.withColumn("cell", cellAssignCol(seeds)))
    val a = assigned.select($"vec_id".as("id_a"), $"embedding".as("ea"),
      $"cell", $"n2".as("na2"))
    val b = assigned.select($"vec_id".as("id_b"), $"embedding".as("eb"),
      $"cell".as("cell_r"), $"n2".as("nb2"))
    val pairs = a.join(b, $"cell" === $"cell_r" && $"id_a" < $"id_b")
      .filter(TierC.dot($"ea", $"eb") / (sqrt($"na2") * sqrt($"nb2")) >= tau)
      .select($"id_a".as("src"), $"id_b".as("dst"))
    val nodes = assigned.select($"vec_id".as("id"))
    connectedComponentsStar(s, nodes, pairs)
      .join(assigned.select($"vec_id".as("id"), $"cell"), Seq("id"))
      .select($"id".as("vec_id"), $"cell", $"cluster".as("rep_id"),
        ($"id" === $"cluster").as("kept"))
  }

  private def c2sdOracle: String = {
    import AnnSql.dotp
    s"""WITH RECURSIVE
       |${AnnSql.prefix},
       |${AnnSql.asgCte("asg", "seeds0")},
       |prs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN corpus ea ON ea.vec_id = a.vec_id
       |  JOIN corpus eb ON eb.vec_id = b.vec_id
       |  WHERE (${dotp("ea", "eb")}) / (sqrt(ea.n2) * sqrt(eb.n2)) >= $SemDedupTau),
       |ed AS (SELECT id_a AS s, id_b AS d FROM prs UNION ALL SELECT id_b, id_a FROM prs),
       |reach AS (SELECT vec_id AS id, vec_id AS root FROM corpus
       |  UNION
       |  SELECT ed.d, reach.root FROM reach JOIN ed ON ed.s = reach.id),
       |lab AS (SELECT id, MIN(root) AS rep FROM reach GROUP BY id)
       |SELECT l.id AS vec_id, CAST(g.cell AS INTEGER) AS cell, l.rep AS rep_id,
       |  (l.id = l.rep) AS kept
       |FROM lab l JOIN asg g ON g.vec_id = l.id
       |ORDER BY vec_id""".stripMargin
  }
  private val c2sd = QuerySpec(
    "c2_semdedup",
    "SemDeDup semantic dedup: k-center cells block the candidate space, within-cell cosine >= 0.4 pairs form the duplicate graph, star-contraction components pick one representative (lowest vec_id) per group; per-vector cell, representative, and kept flag. Oracle composes the AnnSql quantizer replay with recursive-CTE reachability.",
    Some(c2sdOracle),
    (s, d) => {
      import s.implicits._
      semDedup(s, Tables.embeddings(s, d), SemDedupTau).orderBy($"vec_id")
    }
  )

  private val EmbedThreshold = 0.4
  private val c2e = QuerySpec(
    "c2_embed_neardup",
    "Embedding-cosine near-dup pairs within a `label` block: exact cosine ≥ 0.4 (threshold fits the synthetic corpus's score range; real near-dup corpora use ~0.95+). Same blocked-pair shape as c3.",
    Some(s"""WITH p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     (${dotChain("a", "b")}) AS dot,
                     (${dotChain("a", "a")}) AS na2,
                     (${dotChain("b", "b")}) AS nb2
              FROM embeddings a
              JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
            SELECT id_a, id_b, dot / (sqrt(na2) * sqrt(nb2)) AS score
            FROM p WHERE dot / (sqrt(na2) * sqrt(nb2)) >= $EmbedThreshold
            ORDER BY id_a, id_b"""),
    (s, d) => {
      import s.implicits._
      // persisted for the same CollapseProject reason as c3: otherwise the
      // norm computation re-runs per joined pair
      val e = CacheRegistry.persist(Tables.embeddings(s, d)
        .select($"vec_id", $"label", $"embedding",
          TierC.dot($"embedding", $"embedding").as("n2")))
      val a = e.select($"vec_id".as("id_a"), $"label", $"embedding".as("ea"), $"n2".as("na2"))
      val b = e.select($"vec_id".as("id_b"), $"label".as("label_b"), $"embedding".as("eb"), $"n2".as("nb2"))
      a.join(b, $"label" === $"label_b" && $"id_a" < $"id_b")
        .withColumn("score", TierC.dot($"ea", $"eb") / (sqrt($"na2") * sqrt($"nb2")))
        .filter($"score" >= EmbedThreshold)
        .select($"id_a", $"id_b", $"score")
        .orderBy($"id_a", $"id_b")
    }
  )

  // ------------------------------------------------- LSH-bucketed ANN
  /** Deterministic ±1 hyperplane component for (plane, dim) — fixed-seed
    * murmur parity, no RNG state.
    */
  private def planeSign(p: Int, dim: Int): Double =
    if ((scala.util.hashing.MurmurHash3.productHash((p, dim), 0x2545f491) & 1) == 0) 1.0 else -1.0

  /** Mean bucket population the adaptive LSH fanout targets. Per-bucket
    * re-rank work is O(pop²), so holding pop ~constant holds per-bucket
    * work constant as the corpus grows — the plane count, not the bucket
    * population, absorbs scale.
    */
  private val LshTargetBucket = 64

  /** Mean IVF cell population the adaptive cell count targets. */
  private val IvfTargetCell = 128

  /** planes = ceil(log2(N / target)), clamped to [1, 24] — a pure
    * function of the exact corpus count, so the index is deterministic
    * across partitionings and replays (no RNG, no sampling).
    */
  private[graft] def lshPlanes(n: Long, target: Int = LshTargetBucket): Int = {
    val buckets = math.max(1.0, n.toDouble / target)
    math.min(24, math.max(1, math.ceil(math.log(buckets) / math.log(2.0)).toInt))
  }

  /** cells = ceil(N / target), clamped to [1, 256]; 256 keeps the
    * driver-side k-center greedy (O(cells²·sample)) and the per-row
    * cell-assignment expression tree bounded. Deterministic in N.
    */
  private[graft] def ivfCells(n: Long, target: Int = IvfTargetCell): Int =
    math.min(256, math.max(1, math.ceil(n.toDouble / target).toInt))

  private[graft] def bucketUdf(planes: Int): UserDefinedFunction = udf { (emb: Seq[Float]) =>
    var bucket = 0
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var i = 0
      while (i < emb.length) { acc += emb(i).toDouble * planeSign(p, i); i += 1 }
      if (acc >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  /** ANN top-k per vector: random-hyperplane LSH bucket → exact cosine
    * re-rank within the bucket. The scale path of C3: the plane count
    * adapts to the corpus ([[lshPlanes]]) so bucket population stays
    * ~[[LshTargetBucket]] on hash-friendly data, and the
    * [[LshBucketCap]] occupancy ceiling bounds the candidate join at
    * N·cap when clustering defeats the planes; the whole thing is one
    * shuffle on the bucket key.
    */
  def annTopK(s: SparkSession, embeddings: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    // exact count: one metadata-cheap pass, and the only input the
    // adaptive fanout depends on — deterministic for a given corpus
    val planes = lshPlanes(embeddings.count())
    // plan-reuse persist (both self-join sides re-run the bucket UDF
    // otherwise) — caller-owned release via the CacheRegistry contract
    val wH = Window.partitionBy($"bucket")
      .orderBy(md5($"vec_id".cast(StringType)), $"vec_id")
    val e = CacheRegistry.persist(embeddings.select($"vec_id", $"embedding",
      bucketUdf(planes)($"embedding").as("bucket"),
      TierC.dot($"embedding", $"embedding").as("n2"))
      .withColumn("hrank", row_number().over(wH).cast(LongType)))
    val a = e.select($"vec_id".as("id_a"), $"embedding".as("ea"), $"bucket", $"n2".as("na2"))
    val b = headCapKept(e, LshBucketCap, "annTopK")
      .select($"vec_id".as("id_b"), $"embedding".as("eb"), $"bucket".as("bucket_r"), $"n2".as("nb2"))
    val w = Window.partitionBy($"id_a").orderBy($"score".desc, $"id_b")
    a.join(b, $"bucket" === $"bucket_r" && $"id_a" =!= $"id_b")
      .withColumn("score", TierC.dot($"ea", $"eb") / (sqrt($"na2") * sqrt($"nb2")))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter($"rn" <= k)
      .select($"id_a", $"id_b", $"score", $"rn")
      .orderBy($"id_a", $"rn")
  }

  // --------------------------------------------------------- IVF ANN
  /** IVF-style ANN: a coarse quantizer of `cells` seed centroids chosen by
    * the deterministic k-center greedy (farthest-point, ties to lowest
    * vec_id — no RNG, so the index is identical across partitionings and
    * replays), then exact cosine re-rank within the assigned cell
    * (nprobe=1).
    *
    * Index build is ONE distributed pass, not O(cells): a deterministic
    * hash sample (lowest md5(vec_id), a TakeOrdered — partition-invariant)
    * is collected once and the k-center greedy runs driver-side over it.
    * Earlier rounds ran `cells` sequential distributed argmin scans —
    * correct but O(cells) full passes AND acutely scheduler-latency
    * sensitive (measured 6 s → 50 s under host load). Sampling changes
    * seed choice only when the corpus exceeds the sample (quality, not
    * correctness — the query is declared no-oracle; determinism and
    * recall stay ScalaTest-pinned). Production would refine with Lloyd
    * iterations; float-sum averaging is partition-order-dependent, so the
    * deterministic variant keeps the k-center seeds as-is.
    */
  def ivfTopK(s: SparkSession, embeddings: DataFrame, k: Int, cells: Int,
      sampleSize: Int = 1024, nprobe: Int = 1): DataFrame = {
    import s.implicits._
    val e = embeddings.select($"vec_id", $"embedding",
      TierC.dot($"embedding", $"embedding").as("n2")).persist()
    ivfTopKOn(s, e, k, cells, sampleSize, nprobe)
  }

  /** Adaptive variant: the cell count derives from the exact corpus count
    * ([[ivfCells]]) so mean cell population stays ~[[IvfTargetCell]] as
    * the corpus grows — deterministic, no extra scan beyond the count.
    */
  def ivfTopK(s: SparkSession, embeddings: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val e = embeddings.select($"vec_id", $"embedding",
      TierC.dot($"embedding", $"embedding").as("n2")).persist()
    ivfTopKOn(s, e, k, ivfCells(embeddings.count()))
  }

  /** IVF coarse-quantizer seeds: ONE deterministic md5-ordered sample
    * collect, then the incremental driver-side k-center greedy (min
    * max-cosine, ties to lowest vec_id). Shared by [[ivfTopKOn]] and
    * [[ivfPqSearch]] so both build the identical quantizer for a given
    * corpus. Input `e` must carry (vec_id, embedding, n2).
    *
    * @return (seed vector, seed squared-norm) in selection order
    */
  private def ivfSeeds(s: SparkSession, e: DataFrame, cells: Int,
      sampleSize: Int): Seq[(Seq[Float], Double)] =
    kCenterSeeds(md5Sample(e, sampleSize), cells)

  /** Lloyd refinement of the k-center IVF seeds — the standard k-means
    * iteration a production coarse quantizer runs after greedy init:
    * assign every vector to its nearest seed (one map-side
    * [[graft.functions.VectorExprs.nearestSeedF]] pass over a broadcast
    * centroid table), re-estimate each centroid as its cell's mean, and
    * repeat a FIXED number of iterations.
    *
    * Scale shape: each iteration is ONE partial-aggregated groupBy over
    * the corpus (map-side combine on ≤256 cells × dim integer sums) plus
    * a ≤256-row collect — the centroid table is driver-sized by
    * construction, and the corpus is never shuffled (the agg exchange
    * moves ≤ cells × partitions pre-combined rows). Iteration count is
    * fixed, not convergence-tested: deterministic cost AND deterministic
    * output.
    *
    * Determinism: per-dim sums are integer-quantized at 1e-6 (the
    * c3_centroid discipline — order-independent across partitions), the
    * mean and its norm are computed driver-side in fixed order, and the
    * assignment expression's first-max tie rule is partition-invariant.
    *
    * Empty cells are RESEEDED, not kept: a dead seed stays dead forever
    * (every vector avoids it next round for the same reason it avoided
    * it this round), so its slot is re-spent where coverage is worst —
    * the sample row with the minimal max-cosine to every live seed (the
    * k-center selection rule, ties to lowest vec_id), processed in cell
    * order over the fixed md5 sample: fully deterministic.
    *
    * @return (refined seeds with ‖seed‖², final (vec_id, cell) frame —
    *         reads the CacheRegistry-persisted projection, caller releases)
    */
  def kmeansRefine(s: SparkSession, embeddings: DataFrame, cells: Int = 0,
      iters: Int = 2, sampleSize: Int = 1024): (Seq[(Seq[Float], Double)], DataFrame) = {
    import s.implicits._
    val e = CacheRegistry.persist(embeddings.select($"vec_id", $"embedding",
      TierC.dot($"embedding", $"embedding").as("n2")))
    val nCells = if (cells > 0) cells else ivfCells(e.count())
    val sample = md5Sample(e, sampleSize)
    val sVecs = sample.map(_._2.iterator.map(_.toDouble).toArray)
    val sN2 = sample.map(_._3)
    val sIds = sample.map(_._1)
    var seeds = kCenterSeeds(sample, nCells)
    val dim = seeds.head._1.length
    (1 to iters).foreach { _ =>
      val ss = graft.functions.VectorExprs.broadcastSeeds(s, seeds)
      val assigned = e.withColumn("cell",
        graft.functions.VectorExprs.nearestSeedF($"embedding", $"n2", ss))
      val sumCols = (0 until dim).map(i =>
        sum(floor(element_at($"embedding", i + 1).cast(DoubleType) * 1e6)
          .cast(LongType)).as(s"s$i"))
      val agg = assigned.groupBy($"cell")
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .collect()
      val byCell = agg.map(r => r.getInt(0) -> r).toMap
      val means: Seq[Option[(Seq[Float], Double)]] = seeds.indices.map { ci =>
        byCell.get(ci).map { r =>
          val n = r.getLong(1).toDouble
          val v = (0 until dim).map(i => (r.getLong(2 + i) / 1e6 / n).toFloat)
          val n2 = v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
          (v, n2)
        }
      }
      seeds = if (means.forall(_.isDefined)) means.map(_.get)
      else {
        // farthest-point reseed: live = the populated cells' means plus
        // seeds already re-spent this round, so two empty cells never
        // land on the same sample row
        val live = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Double)]
        means.flatten.foreach { case (v, n2) =>
          live += ((v.iterator.map(_.toDouble).toArray, n2))
        }
        val used = new Array[Boolean](sample.length)
        means.zipWithIndex.map {
          case (Some(sd), _) => sd
          case (None, ci) =>
            var best = -1
            var bestSim = Double.PositiveInfinity
            var i = 0
            while (i < sample.length) {
              if (!used(i)) {
                var ms = Double.NegativeInfinity
                live.foreach { case (v, n2) =>
                  val c = cosDouble(sVecs(i), sN2(i), v, n2)
                  if (c > ms) ms = c
                }
                if (best < 0 || ms < bestSim ||
                    (ms == bestSim && sIds(i) < sIds(best))) { best = i; bestSim = ms }
              }
              i += 1
            }
            if (best < 0) seeds(ci) // sample exhausted: keep the old seed
            else {
              used(best) = true
              live += ((sVecs(best), sN2(best)))
              (sample(best)._2, sN2(best))
            }
        }
      }
    }
    val ssF = graft.functions.VectorExprs.broadcastSeeds(s, seeds)
    (seeds, e.select($"vec_id",
      graft.functions.VectorExprs.nearestSeedF($"embedding", $"n2", ssF).as("cell")))
  }

  /** DuckDB replay of the ENTIRE c3_kmeans chain (VERDICT r9 #5 — converts
    * the query from declared-no-oracle to hash-checked). Every stage is
    * deterministic integer or left-fold IEEE-double arithmetic, so the SQL
    * replays it stage-for-stage (the a11u_geodesic technique):
    *
    *  - n2 / dot products: explicit 64-term `+` chains — SQL `+` is
    *    left-associative, matching [[graft.functions.VectorExprs]]'
    *    strict left-to-right double accumulation bit-for-bit;
    *  - md5 sample: same (md5(vec_id), vec_id) total order + LIMIT;
    *  - k-center greedy: recursive CTE carrying the seed vec_id list —
    *    per candidate, max cosine over the seed set (max is
    *    order-independent), argmin by (maxSim, vec_id) = the Scala
    *    selection rule;
    *  - Lloyd iterations (fixed 2, statically unrolled): first-max
    *    argmax assignment = `ORDER BY sim DESC, j ASC LIMIT 1` per vec
    *    (NearestSeedF's compareDoubles>0 rule), per-cell e6 floor sums
    *    (exact BIGINTs, order-free), means re-quantized to FLOAT via
    *    `CAST(.. AS FLOAT)` — IEEE round-to-nearest, identical to the
    *    JVM's `.toFloat`;
    *  - NOT replayed: the empty-cell reseed arm. With ~128 vecs/cell it
    *    is unreachable on this corpus (asserted by the builder's own
    *    replica run); if a future testdata regeneration empties a cell,
    *    this row goes red loudly rather than silently wrong — SimSpec
    *    keeps the reseed arm pinned with planted fixtures.
    *
    * Valid while |corpus| ≤ sampleSize (1024): above that the sample is a
    * proper subset and the SQL stays faithful (same order + LIMIT).
    */
  /** Shared SQL-builder pieces for the k-center-family oracles
    * ([[c3kmOracle]], [[c3ivfOracle]]): the `+`-chain generators and the
    * WITH-prefix that rebuilds the identical coarse quantizer — corpus
    * n2, md5 sample, recursive-CTE greedy, seed table — in DuckDB.
    */
  private object AnnSql {
    val dim = 64
    def chain(ts: Seq[String]): String = ts.mkString(" + ")
    /** corpus-row × corpus-row left-fold dot, aliases `a`.`b` */
    def dotp(a: String, b: String): String = chain((1 to dim).map(i =>
      s"CAST($a.embedding[$i] AS DOUBLE) * CAST($b.embedding[$i] AS DOUBLE)"))
    val n2Emb: String = chain((1 to dim).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) * CAST(embedding[$i] AS DOUBLE)"))
    /** corpus row `e` vs seed m-columns `s` — NearestSeedF's chain */
    val simM: String = "(" + chain((0 until dim).map(i =>
      s"CAST(e.embedding[${i + 1}] AS DOUBLE) * CAST(s.m$i AS DOUBLE)")) +
      ") / (sqrt(e.n2) * sqrt(s.n2))"
    /** first-max argmax assignment of every corpus row to `seedSrc` */
    def asgCte(name: String, seedSrc: String): String =
      s"""$name AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, s.j AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ($simM) DESC, s.j ASC) AS rn
         |    FROM corpus e CROSS JOIN $seedSrc s) WHERE rn = 1)""".stripMargin
    /** corpus/sample/cell-count/greedy/seeds0 — everything up to the
      * k-center seed table, shared verbatim by every consumer so the SQL
      * quantizer can never drift between oracles
      */
    val prefix: String = {
      val seedMs = (0 until dim).map(i =>
        s"CAST(s.embedding[${i + 1}] AS FLOAT) AS m$i").mkString(", ")
      s"""corpus AS (SELECT vec_id, embedding, $n2Emb AS n2 FROM embeddings),
         |sample AS (SELECT vec_id, embedding, n2 FROM corpus
         |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1024),
         |nc AS (SELECT least(256, greatest(1, CAST(ceil(count(*) / 128.0) AS BIGINT))) AS cells
         |       FROM corpus),
         |greedy(ord, vids) AS (
         |  SELECT CAST(1 AS BIGINT), [(SELECT min(vec_id) FROM sample)]
         |  UNION ALL
         |  SELECT g.ord + 1, list_append(g.vids, (
         |    SELECT c.vec_id
         |    FROM sample c JOIN sample s ON list_contains(g.vids, s.vec_id)
         |    WHERE NOT list_contains(g.vids, c.vec_id)
         |    GROUP BY c.vec_id
         |    ORDER BY max((${dotp("c", "s")}) / (sqrt(c.n2) * sqrt(s.n2))) ASC, c.vec_id ASC
         |    LIMIT 1))
         |  FROM greedy g WHERE g.ord < (SELECT cells FROM nc)),
         |seedvids AS (SELECT vids FROM greedy WHERE ord = (SELECT cells FROM nc)),
         |seeds0 AS (
         |  SELECT list_position(v.vids, s.vec_id) - 1 AS j, $seedMs, s.n2
         |  FROM seedvids v, sample s WHERE list_contains(v.vids, s.vec_id))""".stripMargin
    }
  }

  private def c3kmOracle: String = {
    import AnnSql._
    val mCols = (0 until dim).map(i => s"m$i").mkString(", ")
    def iterCtes(k: Int, seedSrc: String): String = {
      val sums = (0 until dim).map(i =>
        s"sum(CAST(floor(CAST(e.embedding[${i + 1}] AS DOUBLE) * 1e6) AS BIGINT)) AS s$i")
        .mkString(", ")
      val means = (0 until dim).map(i =>
        s"CAST(CAST(s$i AS DOUBLE) / 1e6 / CAST(cnt AS DOUBLE) AS FLOAT) AS m$i")
        .mkString(", ")
      val n2m = chain((0 until dim).map(i => s"CAST(m$i AS DOUBLE) * CAST(m$i AS DOUBLE)"))
      s"""${asgCte(s"asg$k", seedSrc)},
         |sums$k AS (
         |  SELECT a.cell, count(*) AS cnt, $sums
         |  FROM asg$k a JOIN corpus e USING (vec_id) GROUP BY a.cell),
         |seeds$k AS (
         |  SELECT j, $mCols, $n2m AS n2
         |  FROM (SELECT cell AS j, $means FROM sums$k))""".stripMargin
    }
    val csum = chain((0 until dim).map(i =>
      s"CAST(floor(CAST(m$i AS DOUBLE) * 1e6) AS BIGINT)"))
    s"""WITH RECURSIVE
       |${AnnSql.prefix},
       |${iterCtes(1, "seeds0")},
       |${iterCtes(2, "seeds1")},
       |${asgCte("asgF", "seeds2")},
       |cent AS (SELECT j, $csum AS centroid_sum_e6 FROM seeds2)
       |SELECT CAST(g.cell AS INTEGER) AS cell, g.n, g.first_id, c.centroid_sum_e6
       |FROM (SELECT cell, count(*) AS n, min(vec_id) AS first_id FROM asgF GROUP BY cell) g
       |JOIN cent c ON c.j = g.cell
       |ORDER BY cell""".stripMargin
  }

  /** DuckDB replay of c3_ivf (same conversion as [[c3kmOracle]], one
    * stage shorter): the k-center quantizer from [[AnnSql.prefix]], the
    * NearestSeedF home-cell assignment, then the in-cell pair join with
    * the RAW double cosine as an output column — the left-fold chains
    * replay Spark's `DotProductFloat` bit-for-bit, so even the float
    * scores hash-match (the c3_knn_cosine precedent). Top-3 per query is
    * `row_number() ... score DESC, id_b` = the Spark window's tie rule.
    */
  private def c3ivfOracle: String = {
    import AnnSql._
    s"""WITH RECURSIVE
       |${AnnSql.prefix},
       |${asgCte("asg", "seeds0")},
       |cand AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    (${dotp("ea", "eb")}) / (sqrt(ea.n2) * sqrt(eb.n2)) AS score
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |  JOIN corpus ea ON ea.vec_id = a.vec_id
       |  JOIN corpus eb ON eb.vec_id = b.vec_id),
       |r AS (SELECT id_a, id_b, score,
       |    row_number() OVER (PARTITION BY id_a ORDER BY score DESC, id_b) AS rn
       |  FROM cand)
       |SELECT id_a, id_b, score, rn FROM r WHERE rn <= 3 ORDER BY id_a, rn""".stripMargin
  }

  private val c3km = QuerySpec(
    "c3_kmeans",
    "Lloyd-refined IVF coarse quantizer (2 fixed iterations over k-center init): per-cell population, first member, and the refined centroid's integer-quantized checksum. Oracle replays the WHOLE chain in DuckDB — md5 sample, recursive-CTE k-center greedy, unrolled Lloyd rounds with FLOAT-requantized means — via left-fold IEEE chains; SimSpec pins SSE descent, partition invariance, and the (not-SQL-replayed) empty-cell reseed arm.",
    Some(c3kmOracle),
    (s, d) => {
      import s.implicits._
      val (seeds, assigned) = kmeansRefine(s, Tables.embeddings(s, d))
      val sdf = seeds.zipWithIndex.map { case ((v, _), ci) =>
        (ci, v.map(x => math.floor(x.toDouble * 1e6).toLong).sum)
      }.toDF("cell", "centroid_sum_e6")
      assigned.groupBy($"cell")
        .agg(count(lit(1)).as("n"), min($"vec_id").as("first_id"))
        .join(broadcast(sdf), Seq("cell"))
        .orderBy($"cell")
    }
  )

  /** ONE deterministic md5-ordered sample collect over (vec_id, embedding,
    * n2). The ordering key (md5(vec_id), vec_id) is a total order, so a
    * smaller sample is always a PREFIX of a larger one — [[ivfPqJoined]]
    * exploits this to share a single collect between the IVF seed build
    * and the PQ codebook build while producing indexes identical to the
    * standalone builds.
    */
  private def md5Sample(e: DataFrame, sampleSize: Int): Array[(Long, Seq[Float], Double)] = {
    val s = e.sparkSession
    import s.implicits._
    e.withColumn("h", md5($"vec_id".cast(StringType)))
      .orderBy($"h", $"vec_id").limit(sampleSize)
      .select($"vec_id", $"embedding", $"n2")
      .as[(Long, Seq[Float], Double)].collect()
  }

  /** Driver-side cosine over pre-extracted double arrays — the ONE chain
    * [[kCenterSeeds]] and the empty-cell reseed both run, so seed
    * selection and reseed selection share bit-identical arithmetic.
    */
  private def cosDouble(a: Array[Double], n2a: Double,
      b: Array[Double], n2b: Double): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc / (math.sqrt(n2a) * math.sqrt(n2b))
  }

  private def kCenterSeeds(sample: Array[(Long, Seq[Float], Double)],
      cells: Int): Seq[(Seq[Float], Double)] = {
    // k-center greedy, incremental: maxSim(i) tracks each sample row's
    // max cosine to the CURRENT seed set and only the newest seed updates
    // it — O(cells·sample·dim), not O(cells²·sample·dim), so the clamped
    // 256-cell ceiling stays sub-second on the driver. Selection rule
    // (minimal max-cosine, ties to lowest vec_id) and every cosine chain
    // are unchanged, so the chosen seeds are identical to the quadratic
    // build's.
    val ids = sample.map(_._1)
    val vecs = sample.map(_._2.iterator.map(_.toDouble).toArray)
    val n2s = sample.map(_._3)
    def cosD(a: Array[Double], n2a: Double, b: Array[Double], n2b: Double): Double =
      cosDouble(a, n2a, b, n2b)
    val n = sample.length
    val isSeed = new Array[Boolean](n)
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    var seedIdxs = Vector.empty[Int]
    def addSeed(j: Int): Unit = {
      isSeed(j) = true
      seedIdxs = seedIdxs :+ j
      var i = 0
      while (i < n) {
        if (!isSeed(i)) {
          val c = cosD(vecs(i), n2s(i), vecs(j), n2s(j))
          if (c > maxSim(i)) maxSim(i) = c
        }
        i += 1
      }
    }
    addSeed(ids.zipWithIndex.minBy(_._1)._2)
    while (seedIdxs.length < cells && seedIdxs.length < n) {
      var best = -1
      var i = 0
      while (i < n) {
        if (!isSeed(i) &&
            (best < 0 || maxSim(i) < maxSim(best) ||
              (maxSim(i) == maxSim(best) && ids(i) < ids(best)))) best = i
        i += 1
      }
      addSeed(best)
    }
    seedIdxs.map(j => (sample(j)._2, n2s(j)))
  }

  /** Cell assignment for a seed set: argmax cosine to seed, ties to the
    * lowest seed index — a single native codegen node
    * ([[graft.functions.VectorExprs.nearestSeedF]]). History of this
    * expression's shape: a when/greatest fold was 2^cells nodes (124 s
    * planning storm, measured r5); the r6 linear array-of-sims form fixed
    * the asymptotics but still planned/codegen'd a ~4·cells·dim-node tree
    * on BOTH sides of the cell join — measured as the dominant cost of
    * c3_ivfpq at sf0.1. The native node replays the identical arithmetic
    * (left-fold double dot, sim = dot/(sqrt(n2)·sqrtSeedN2), first-max
    * argmax under Spark double ordering). Needs (embedding, n2) in scope.
    * The seed matrix rides a BROADCAST (one per query, shared by both
    * join sides) — the r7 plan-literal payload printed hundreds of
    * numbers per node and re-serialized into every task binary.
    */
  private def cellAssignCol(seeds: org.apache.spark.sql.graftbridge.SeedSetF): Column =
    graft.functions.VectorExprs.nearestSeedF(col("embedding"), col("n2"), seeds)

  private def ivfTopKOn(s: SparkSession, e: DataFrame, k: Int, cells: Int,
      sampleSize: Int = 1024, nprobe: Int = 1): DataFrame = {
    import s.implicits._
    val seeds = graft.functions.VectorExprs.broadcastSeeds(s,
      ivfSeeds(s, e, cells, sampleSize))
    // e's cache only served the index-build actions (count + sample
    // collect) — release it here; the final job recomputes the projection
    // map-side. `assigned` feeds both join sides (the per-pair
    // CollapseProject re-run hazard, measured on c3_knn), so it stays
    // persisted under the CacheRegistry caller-owned-release contract.
    e.unpersist()
    val assigned = CacheRegistry.persist(e.withColumn("cell", cellAssignCol(seeds)))

    // multi-probe: each QUERY row fans out to its nprobe nearest cells
    // (candidates stay in their single home cell, so a pair can meet at
    // most once — the probed cells are distinct). nprobe=1 keeps the
    // exact single-cell plan.
    val a =
      if (nprobe <= 1)
        assigned.select($"vec_id".as("id_a"), $"embedding".as("ea"), $"cell", $"n2".as("na2"))
      else
        assigned.select($"vec_id".as("id_a"), $"embedding".as("ea"),
          explode(graft.functions.VectorExprs.nearestSeedsF(
            $"embedding", $"n2", seeds, nprobe)).as("cell"),
          $"n2".as("na2"))
    val b = assigned.select($"vec_id".as("id_b"), $"embedding".as("eb"), $"cell".as("cell_r"), $"n2".as("nb2"))
    val w = Window.partitionBy($"id_a").orderBy($"score".desc, $"id_b")
    a.join(b, $"cell" === $"cell_r" && $"id_a" =!= $"id_b")
      .withColumn("score", TierC.dot($"ea", $"eb") / (sqrt($"na2") * sqrt($"nb2")))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter($"rn" <= k)
      .select($"id_a", $"id_b", $"score", $"rn")
      .orderBy($"id_a", $"rn")
  }

  private val c3i = QuerySpec(
    "c3_ivf",
    "IVF-style ANN: deterministic k-center coarse quantizer (cell count adapts to corpus size, ~128 vectors/cell) + exact cosine re-rank within the cell, top-3. Oracle replays quantizer build, home-cell assignment, and raw double cosine scores via recursive-CTE greedy + left-fold IEEE chains; nprobe recall knob stays ScalaTest-pinned.",
    Some(c3ivfOracle),
    (s, d) => ivfTopK(s, Tables.embeddings(s, d), 3)
  )

  // ------------------------------------------- product quantization (PQ)
  /** Per-subspace PQ codebooks (see [[pqEncode]] for the full design
    * note): ONE deterministic md5-ordered sample, then a driver-side
    * farthest-point k-center greedy PER SUBSPACE under L2 (ties to lowest
    * vec_id) refined by one deterministic Lloyd mean step — sample-bounded
    * and deterministic in the corpus. Exposed so ADC search rebuilds the
    * exact same books.
    */
  def pqCodebooks(s: SparkSession, embeddings: DataFrame, m: Int,
      codes: Int, sampleSize: Int): Seq[Seq[Seq[Float]]] = {
    import s.implicits._
    val e = embeddings.select($"vec_id", $"embedding")
    val sample = e.withColumn("h", md5($"vec_id".cast(StringType)))
      .orderBy($"h", $"vec_id").limit(sampleSize)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    pqCodebooksFromSample(sample, m, codes)
  }

  /** Codebook build over a pre-collected md5-ordered sample — shared by
    * [[pqCodebooks]] and [[ivfPqJoined]] (which reuses a prefix of the IVF
    * seed sample, saving a second distributed collect; the md5 total order
    * makes the prefix identical to a standalone smaller sample).
    */
  private def pqCodebooksFromSample(sample: Array[(Long, Seq[Float])],
      m: Int, codes: Int): Seq[Seq[Seq[Float]]] = {
    require(sample.nonEmpty, "pqCodebooks: empty corpus")
    val dim = sample.head._2.length
    require(dim % m == 0, s"pqCodebooks: dim $dim not divisible into $m subspaces")
    val sub = dim / m
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    (0 until m).map { si =>
      val ids = sample.map(_._1)
      val vecs = sample.map(_._2.slice(si * sub, (si + 1) * sub).map(_.toDouble).toArray)
      val n = vecs.length
      val isSeed = new Array[Boolean](n)
      val minD = Array.fill(n)(Double.PositiveInfinity)
      var seeds = Vector.empty[Int]
      def add(j: Int): Unit = {
        isSeed(j) = true
        seeds = seeds :+ j
        var i = 0
        while (i < n) {
          if (!isSeed(i)) { val d = l2(vecs(i), vecs(j)); if (d < minD(i)) minD(i) = d }
          i += 1
        }
      }
      add(ids.zipWithIndex.minBy(_._1)._2)
      while (seeds.length < codes && seeds.length < n) {
        // farthest point from the current codebook, ties to lowest id
        var best = -1
        var i = 0
        while (i < n) {
          if (!isSeed(i) && (best < 0 || minD(i) > minD(best) ||
              (minD(i) == minD(best) && ids(i) < ids(best)))) best = i
          i += 1
        }
        add(best)
      }
      // one deterministic Lloyd step: k-center seeds are coverage anchors,
      // not code centers — refining each cluster to its MEAN (fixed sample
      // order, ties to the lowest seed index; empty clusters keep their
      // seed) guarantees sample reconstruction error <= sample energy and
      // drops it far below on clustered data.
      val seedVecs = seeds.map(vecs(_)).toArray
      val sums = Array.fill(seedVecs.length)(new Array[Double](sub))
      val cnts = new Array[Long](seedVecs.length)
      var i = 0
      while (i < n) {
        var bestC = 0
        var bestD = Double.PositiveInfinity
        var cIdx = 0
        while (cIdx < seedVecs.length) {
          val dd = l2(vecs(i), seedVecs(cIdx))
          if (dd < bestD) { bestD = dd; bestC = cIdx }
          cIdx += 1
        }
        var k2 = 0
        while (k2 < sub) { sums(bestC)(k2) += vecs(i)(k2); k2 += 1 }
        cnts(bestC) += 1
        i += 1
      }
      seeds.indices.map { cIdx =>
        if (cnts(cIdx) == 0L) seedVecs(cIdx).map(_.toFloat).toSeq
        else sums(cIdx).map(v => (v / cnts(cIdx)).toFloat).toSeq
      }
    }
  }

  /** Squared-L2 distances from an embedding segment to every code of one
    * subspace book — a single native codegen node
    * ([[graft.functions.VectorExprs.pqDistsF]]; replaces a per-code
    * `dot(seg,seg) - 2·dot(seg,code) + ‖code‖²` chain array whose
    * planning/codegen cost dominated c3_ivfpq, same story as
    * [[cellAssignCol]]; arithmetic replayed term-for-term). The codebook
    * rides a broadcast shared with the matching [[pqCodeF]] calls.
    */
  private def pqDistArray(si: Int, book: org.apache.spark.sql.graftbridge.CodebookF,
      emb: Column): Column =
    graft.functions.VectorExprs.pqDistsF(emb, si * book.sub, book)

  /** Product quantization — the embedding-store compression step at
    * 100 TB: each dim-D vector becomes m sub-codes (4×16 codes here = 4
    * bytes instead of 256 float bytes), and ANN scans codes against
    * per-subspace lookup tables ([[pqSearch]]). Encoding is one native
    * codegen node per subspace ([[graft.functions.VectorExprs.pqCodeF]],
    * same anti-blowup story as IVF cell assignment), fully map-side.
    * No oracle: iterative codebook build; SimSpec pins partition
    * invariance, code spread, and reconstruction error.
    */
  def pqEncode(s: SparkSession, embeddings: DataFrame, m: Int = 4,
      codes: Int = 16, sampleSize: Int = 256): DataFrame =
    pqEncodeWith(s, embeddings,
      pqCodebooks(s, embeddings, m, codes, sampleSize)
        .map(graft.functions.VectorExprs.broadcastBook(s, _)), m)

  /** [[pqEncode]] against pre-broadcast codebooks — lets [[pqSearch]]
    * share ONE codebook build AND one broadcast per subspace (it
    * previously built the books twice: once for its LUTs and once inside
    * pqEncode — two sample collects + greedy builds for identical
    * deterministic output).
    */
  private def pqEncodeWith(s: SparkSession, embeddings: DataFrame,
      books: Seq[org.apache.spark.sql.graftbridge.CodebookF], m: Int): DataFrame = {
    import s.implicits._
    val e = embeddings.select($"vec_id", $"embedding")
    val pieces = (0 until m).map { si =>
      val arr = pqDistArray(si, books(si), $"embedding")
      val code = graft.functions.VectorExprs.pqCodeF(
        $"embedding", si * books(si).sub, books(si))
      (code.as(s"c$si"), element_at(arr, code + 1).as(s"e$si"))
    }
    val coded = e.select(($"vec_id" +: (pieces.map(_._1) ++ pieces.map(_._2))): _*)
    val err = (0 until m).map(si => col(s"e$si")).reduceLeft(_ + _)
    coded.select(($"vec_id" +: (0 until m).map(si => col(s"c$si"))) :+
      floor(err * 1000000).cast(LongType).as("err_ppm"): _*)
  }

  /** PQ asymmetric-distance (ADC) top-k within a label block. Each QUERY
    * row materializes its per-subspace distance tables ONCE, in a
    * projection BEFORE the join (m arrays of `codes` doubles); candidates
    * carry only their m sub-codes, so per-pair work is m table lookups
    * summed in fixed order — the memory-bound scan PQ buys at 100 TB
    * (4 bytes per candidate instead of 256 floats, and no exact geometry
    * on the candidate side of the shuffle).
    */
  def pqSearch(s: SparkSession, embeddings: DataFrame, k: Int, m: Int = 4,
      codes: Int = 16, sampleSize: Int = 256): DataFrame = {
    import s.implicits._
    val books = pqCodebooks(s, embeddings, m, codes, sampleSize)
      .map(graft.functions.VectorExprs.broadcastBook(s, _))
    // the r14 occupancy cap: label cardinality does not grow with the
    // data, so the uncapped block join is N^2/|labels| — candidate side
    // held to the md5-deterministic head per label, oracle-mirrored
    // (c3_ivfpq is the uncapped-feel scale path: its cells DO grow)
    val wH = Window.partitionBy($"label")
      .orderBy(md5($"vec_id".cast(StringType)), $"vec_id")
    val ranked = CacheRegistry.persist(pqEncodeWith(s, embeddings, books, m)
      .join(embeddings.select($"vec_id", $"label"), Seq("vec_id"))
      .withColumn("hrank", row_number().over(wH).cast(LongType)))
    val cand = headCapKept(ranked, LshBucketCap, "pqSearch")
      .select(($"vec_id".as("id_b") +: $"label".as("label_b") +:
        (0 until m).map(si => col(s"c$si"))): _*)
    // Par.spread (r18, guide §2.5): the query side is a single-file scan —
    // the ADC stage (label-block join + m LUT lookups per pair + partial
    // top-k) runs ON the scan task, serializing the per-pair compute on
    // one core (Profile: one 1.54 s job dominating the query). The spread
    // is identity at production layouts.
    val q = (0 until m).foldLeft(
        graft.Par.spread(embeddings.select($"vec_id".as("id_a"), $"label", $"embedding"))) {
      (df, si) => df.withColumn(s"lut$si", pqDistArray(si, books(si), $"embedding"))
    }.drop("embedding")
    val approx = (0 until m).map { si =>
      element_at(col(s"lut$si"), col(s"c$si") + 1)
    }.reduceLeft(_ + _)
    val w = Window.partitionBy($"id_a").orderBy($"approx".asc, $"id_b")
    q.join(cand, $"label" === $"label_b" && $"id_a" =!= $"id_b")
      .withColumn("approx", approx)
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter($"rn" <= k)
      .select($"id_a", $"id_b",
        floor($"approx" * 1000000).cast(LongType).as("adist_ppm"), $"rn")
      .orderBy($"id_a", $"rn")
  }

  /** True IVF-PQ: the pre-top-k joined frame — every (query, candidate)
    * pair the ADC scan touches, so tests can assert the per-query scan is
    * bounded by the query's IVF cell population (the whole point of the
    * composition). Columns: id_a, cell, id_b, approx.
    */
  private[graft] def ivfPqJoined(s: SparkSession, embeddings: DataFrame,
      m: Int = 4, codes: Int = 16, sampleSize: Int = 256,
      cells: Int = 0, nprobe: Int = 1): DataFrame = {
    import s.implicits._
    val e = embeddings.select($"vec_id", $"embedding",
      TierC.dot($"embedding", $"embedding").as("n2")).persist()
    val nCells = if (cells > 0) cells else ivfCells(e.count())
    // ONE sample collect feeds BOTH index builds: the md5 total order
    // makes any prefix identical to a standalone smaller sample, so the
    // seeds match ivfSeeds(_, 1024) and the books match
    // pqCodebooks(_, sampleSize) exactly (r6 ran two separate collects —
    // one of c3_ivfpq's measured constant-factor costs).
    val sample = md5Sample(e, math.max(1024, sampleSize))
    val seeds = graft.functions.VectorExprs.broadcastSeeds(s,
      kCenterSeeds(sample.take(1024), nCells))
    val books = pqCodebooksFromSample(
      sample.take(sampleSize).map(t => (t._1, t._2)), m, codes)
      .map(graft.functions.VectorExprs.broadcastBook(s, _))
    // e's cache only served the count + sample collect; the final job
    // recomputes the projection map-side (both join inputs project codes/
    // cells BEFORE the shuffle, so nothing re-runs per pair)
    e.unpersist()
    // candidate side: IVF cell + m sub-codes ONLY — 4 bytes of geometry
    // per row crosses the shuffle, never the float vector
    val codeCols = (0 until m).map { si =>
      graft.functions.VectorExprs.pqCodeF(
        $"embedding", si * books(si).sub, books(si)).as(s"c$si")
    }
    val cand = e.select(($"vec_id".as("id_b") +:
      cellAssignCol(seeds).as("cell_r") +: codeCols): _*)
    // query side: cell assignment (nprobe=1 keeps the single-cell plan;
    // nprobe>1 explodes each query to its nprobe nearest cells — the
    // candidate side keeps one home cell, so a pair still meets at most
    // once) + the per-subspace LUTs materialized BEFORE the join
    val qCell =
      if (nprobe <= 1) cellAssignCol(seeds)
      else explode(graft.functions.VectorExprs.nearestSeedsF(
        $"embedding", $"n2", seeds, nprobe))
    val q = (0 until m).foldLeft(
        e.select($"vec_id".as("id_a"), $"embedding", $"n2",
          qCell.as("cell"))) { (df, si) =>
      df.withColumn(s"lut$si", pqDistArray(si, books(si), $"embedding"))
    }.drop("embedding", "n2")
    val approx = (0 until m).map { si =>
      element_at(col(s"lut$si"), col(s"c$si") + 1)
    }.reduceLeft(_ + _)
    q.join(cand, $"cell" === $"cell_r" && $"id_a" =!= $"id_b")
      .withColumn("approx", approx)
      .select($"id_a", $"cell", $"id_b", $"approx")
  }

  /** IVF × PQ — the composed ANN shape a 100 TB embedding store actually
    * runs: the IVF coarse quantizer ([[ivfSeeds]], cell count adaptive in
    * the corpus) bounds WHICH candidates each query scans (its own cell,
    * nprobe=1), and PQ asymmetric distance ([[pqCodebooks]] LUTs) bounds
    * WHAT each candidate costs (m table lookups over m sub-codes instead
    * of a full float-vector dot). One shuffle on the cell key; per-query
    * work = O(cell population), per-candidate payload = m bytes-ish codes.
    */
  def ivfPqSearch(s: SparkSession, embeddings: DataFrame, k: Int, m: Int = 4,
      codes: Int = 16, sampleSize: Int = 256, cells: Int = 0,
      nprobe: Int = 1): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"id_a").orderBy($"approx".asc, $"id_b")
    ivfPqJoined(s, embeddings, m, codes, sampleSize, cells, nprobe)
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter($"rn" <= k)
      .select($"id_a", $"id_b",
        floor($"approx" * 1000000).cast(LongType).as("adist_ppm"), $"rn")
      .orderBy($"id_a", $"rn")
  }

  // ------------------------------------- ANN index lifecycle (r16 #3)
  /** Persist the IVF-PQ index as parquet tables — the build-once/
    * probe-many lifecycle a 100 TB embedding store actually runs:
    * rebuilding seeds/codebooks/encodings per query amortizes nothing
    * when the corpus is static and probes arrive forever. Layout under
    * `dir`:
    *
    *   meta/   one row (m, codes, n_cells, sample_size, dim)
    *   seeds/  (cell, seed float[], n2) — the IVF coarse quantizer
    *   books/  (subspace, code, vec float[]) — the PQ codebooks
    *   codes/  (vec_id, cell, c0..c{m-1}) — per-vector encodings, the
    *           ONLY table that scales with the corpus (distributed
    *           write; ~(8 + 4 + m·4) bytes/row vs dim·4 raw floats)
    *
    * Floats and doubles round-trip parquet bit-exactly and the build is
    * the SAME deterministic chain as [[ivfPqJoined]] (one md5 sample,
    * prefix-shared between seeds and books), so a probe against the
    * saved index is BIT-IDENTICAL to the inline build — spec-pinned and
    * gate-checked (`c3_ivfpq_prebuilt` hash-matches c3_ivfpq's oracle).
    */
  def saveIvfPqIndex(s: SparkSession, embeddings: DataFrame, dir: String,
      m: Int = 4, codes: Int = 16, sampleSize: Int = 256, cells: Int = 0,
      quantizersFrom: Option[String] = None): Unit = {
    import s.implicits._
    val e = embeddings.select($"vec_id", $"embedding",
      TierC.dot($"embedding", $"embedding").as("n2")).persist()
    val (mm, seeds, books) = quantizersFrom match {
      case Some(src) =>
        // re-encode against an EXISTING index's frozen quantizers (the
        // rebuild-after-compaction / train-on-sample-corpus shape); the
        // spec pins save(all, quantizersFrom=idx) ≡ save(half)+append(half)
        val (m0, sd, bk) = loadQuantizers(s, src)
        (m0, sd, bk)
      case None =>
        val nCells = if (cells > 0) cells else ivfCells(e.count())
        val sample = md5Sample(e, math.max(1024, sampleSize))
        val seeds = kCenterSeeds(sample.take(1024), nCells)
        val books = pqCodebooksFromSample(
          sample.take(sampleSize).map(t => (t._1, t._2)), m, codes)
        (m, seeds, books)
    }
    val dim = seeds.head._1.length
    // driver-sized index tables (≤ cells / m·codes rows) — one file each
    seeds.zipWithIndex
      .map { case ((v, n2), ci) => (ci, v, n2) }
      .toDF("cell", "seed", "n2")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/seeds")
    books.zipWithIndex
      .flatMap { case (b, si) => b.zipWithIndex.map { case (v, ci) => (si, ci, v) } }
      .toDF("subspace", "code", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/books")
    Seq((mm, books.head.length, seeds.length, sampleSize, dim))
      .toDF("m", "codes", "n_cells", "sample_size", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    // the corpus-sized encodings: cell + m sub-codes per vector, computed
    // map-side against the broadcast quantizers (one pass, no shuffle)
    writeCodes(s, e, dir, mm, seeds, books, append = false)
    e.unpersist()
    ()
  }

  /** Self-heal an index dir after a crash inside [[deleteFromIvfPqIndex]]'s
    * two-rename swap: a crash between rename(codes→codes_old) and
    * rename(stage→codes) leaves NO codes directory (bytes intact in
    * codes_old). Restore codes_old and drop the stale stage, so the next
    * load works without manual surgery; the interrupted delete simply
    * never happened (callers re-issue it — delete is idempotent over
    * absent ids). No-op when codes/ exists.
    */
  private def healCodes(s: SparkSession, dir: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val codesPath = new org.apache.hadoop.fs.Path(s"$dir/codes")
    val old = new org.apache.hadoop.fs.Path(s"$dir/codes_old")
    val stage = new org.apache.hadoop.fs.Path(s"$dir/codes_stage")
    val fs = codesPath.getFileSystem(conf)
    if (!fs.exists(codesPath) && fs.exists(old)) {
      require(fs.rename(old, codesPath),
        s"ivfpq heal: could not restore $old to $codesPath")
      if (fs.exists(stage)) fs.delete(stage, true)
    }
  }

  /** Load an index's quantizers: (m, seeds, books). Driver-sized. */
  private def loadQuantizers(s: SparkSession, dir: String)
      : (Int, Seq[(Seq[Float], Double)], Seq[Seq[Seq[Float]]]) = {
    healCodes(s, dir)
    import s.implicits._
    val meta = s.read.parquet(s"$dir/meta").head()
    val m = meta.getAs[Int]("m")
    val seeds = s.read.parquet(s"$dir/seeds")
      .orderBy($"cell").as[(Int, Seq[Float], Double)].collect()
      .map { case (_, v, n2) => (v, n2) }.toSeq
    val books: Seq[Seq[Seq[Float]]] = s.read.parquet(s"$dir/books")
      .orderBy($"subspace", $"code").as[(Int, Int, Seq[Float])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toSeq).toSeq)
    (m, seeds, books)
  }

  private def writeCodes(s: SparkSession, e: DataFrame, dir: String, m: Int,
      seeds: Seq[(Seq[Float], Double)], books: Seq[Seq[Seq[Float]]],
      append: Boolean): Unit = {
    import s.implicits._
    val ss = graft.functions.VectorExprs.broadcastSeeds(s, seeds)
    val bb = books.map(graft.functions.VectorExprs.broadcastBook(s, _))
    val codeCols = (0 until m).map { si =>
      graft.functions.VectorExprs.pqCodeF(
        $"embedding", si * bb(si).sub, bb(si)).as(s"c$si")
    }
    e.select(($"vec_id" +: cellAssignCol(ss).as("cell") +: codeCols): _*)
      .write.mode(if (append) "append" else "overwrite").parquet(s"$dir/codes")
  }

  /** Incremental ingest into a SAVED index — the other half of
    * build-once/probe-many: new vectors are encoded against the index's
    * OWN frozen quantizers (no retrain; periodic retrain is a new index
    * build) and appended as a new parquet partition of `codes`. Bit-
    * equivalent to re-encoding the union corpus against the same
    * quantizers (spec-pinned via `quantizersFrom`). Refuses vec_ids
    * already present — an index is keyed, and upsert semantics would
    * silently shadow rows at probe time.
    */
  def appendToIvfPqIndex(s: SparkSession, newEmbeddings: DataFrame,
      dir: String): Unit = {
    import s.implicits._
    val (m, seeds, books) = loadQuantizers(s, dir)
    val e = newEmbeddings.select($"vec_id", $"embedding",
      TierC.dot($"embedding", $"embedding").as("n2"))
    val dups = e.select($"vec_id")
      .join(s.read.parquet(s"$dir/codes").select($"vec_id"), Seq("vec_id"))
      .limit(5).as[Long].collect()
    require(dups.isEmpty,
      s"ivfpq append: vec_ids ${dups.mkString(",")} already exist in $dir/codes — " +
        "an index is keyed; delete + rebuild or use fresh ids")
    writeCodes(s, e, dir, m, seeds, books, append = true)
  }

  /** Probe a PREBUILT IVF-PQ index: the candidate side is the saved
    * `codes` parquet (no re-encode, no rebuild — the probe never touches
    * candidate float vectors at all); queries compute their cell
    * assignment and per-subspace ADC lookup tables against the loaded
    * (collected-and-broadcast, ≤cells/m·codes rows) seed and book
    * tables. One shuffle on the cell key, exactly [[ivfPqSearch]]'s
    * plan — and bit-identical output, because every stored number
    * round-trips parquet exactly.
    */
  def ivfPqSearchPrebuilt(s: SparkSession, queries: DataFrame, dir: String,
      k: Int, nprobe: Int = 1): DataFrame = {
    import s.implicits._
    val (m, seeds, books) = loadQuantizers(s, dir)
    val ss = graft.functions.VectorExprs.broadcastSeeds(s, seeds)
    val bb = books.map(graft.functions.VectorExprs.broadcastBook(s, _))
    val cand = s.read.parquet(s"$dir/codes")
      .select(($"vec_id".as("id_b") +: $"cell".as("cell_r") +:
        (0 until m).map(si => col(s"c$si"))): _*)
    val e = queries.select($"vec_id", $"embedding",
      TierC.dot($"embedding", $"embedding").as("n2"))
    val qCell =
      if (nprobe <= 1) graft.functions.VectorExprs.nearestSeedF($"embedding", $"n2", ss)
      else explode(graft.functions.VectorExprs.nearestSeedsF(
        $"embedding", $"n2", ss, nprobe))
    val q = (0 until m).foldLeft(
        e.select($"vec_id".as("id_a"), $"embedding", $"n2", qCell.as("cell"))) {
      (df, si) => df.withColumn(s"lut$si",
        graft.functions.VectorExprs.pqDistsF($"embedding", si * bb(si).sub, bb(si)))
    }.drop("embedding", "n2")
    val approx = (0 until m).map { si =>
      element_at(col(s"lut$si"), col(s"c$si") + 1)
    }.reduceLeft(_ + _)
    val w = Window.partitionBy($"id_a").orderBy($"approx".asc, $"id_b")
    // SHUFFLE join, never broadcast: the codes table is corpus-sized by
    // construction (broadcast is only even legal at toy scale, where it
    // measurably SERIALIZES the ADC compute into the query side's few
    // scan tasks — sf5 soak: 7.0 s broadcast vs 3.8 s inline); the
    // exchange on the cell key is what spreads per-cell ADC work across
    // the cluster, same as the inline plan.
    q.join(cand.hint("shuffle_hash"), $"cell" === $"cell_r" && $"id_a" =!= $"id_b")
      .withColumn("approx", approx)
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter($"rn" <= k)
      .select($"id_a", $"id_b",
        floor($"approx" * 1000000).cast(LongType).as("adist_ppm"), $"rn")
      .orderBy($"id_a", $"rn")
  }

  /** Delete vectors from a saved index — the retention half of the
    * lifecycle (takedowns, TTL'd corpora): rewrites the codes table
    * WITHOUT the given ids via an anti-join (cost ∝ codes size — the
    * compact ~(8+4+4m)-byte rows, never the float corpus; quantizers
    * untouched, so remaining encodings stay bit-identical). The rewrite
    * stages to a sibling directory and swaps by rename; a crash never
    * leaves a PARTIALLY-deleted codes table — the one vulnerable window
    * (between the two renames) leaves codes/ absent with the original
    * bytes intact in codes_old/, and every load path self-heals that
    * state via [[healCodes]] (restore codes_old, drop the stale stage),
    * so the interrupted delete is simply re-issued. Returns the number of rows
    * removed; asking to delete absent ids is a no-op for those ids (the
    * caller's id list is routinely broader than the index — retention
    * sweeps don't know what was already dropped).
    */
  def deleteFromIvfPqIndex(s: SparkSession, vecIds: DataFrame,
      dir: String): Long = {
    import s.implicits._
    healCodes(s, dir)
    val ids = vecIds.select($"vec_id")
    val codes = s.read.parquet(s"$dir/codes")
    val before = codes.count()
    val kept = codes.join(ids, Seq("vec_id"), "left_anti")
    val conf = s.sparkContext.hadoopConfiguration
    val codesPath = new org.apache.hadoop.fs.Path(s"$dir/codes")
    val stage = new org.apache.hadoop.fs.Path(s"$dir/codes_stage")
    val old = new org.apache.hadoop.fs.Path(s"$dir/codes_old")
    val fs = codesPath.getFileSystem(conf)
    if (fs.exists(stage)) fs.delete(stage, true)
    kept.write.mode("overwrite").parquet(stage.toString)
    val after = s.read.parquet(stage.toString).count()
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(codesPath, old), s"ivfpq delete: stage swap failed for $dir")
    if (!fs.rename(stage, codesPath)) {
      fs.rename(old, codesPath) // restore — the original bytes are intact
      throw new IllegalStateException(s"ivfpq delete: stage rename failed for $dir")
    }
    fs.delete(old, true)
    before - after
  }

  /** STREAMING probe against a saved index — the online-retrieval
    * lifecycle half (queries arrive forever, the corpus index is
    * prebuilt): because every query row lives in exactly one micro-batch
    * and probes are per-row independent, per-batch top-k IS that query's
    * global top-k — so the probe runs as `foreachBatch` over
    * [[ivfPqSearchPrebuilt]] (per-batch quantizer load is constant,
    * index-sized driver work). Results land through `sink(batchResult,
    * batchId)`; output is row-for-row the batch probe over the same
    * queries (equivalence pin #11).
    */
  def ivfPqProbeStream(queries: DataFrame, indexDir: String, k: Int,
      checkpoint: String, sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(ivfPqSearchPrebuilt(batch.sparkSession, batch.toDF(), indexDir, k), id)
      }
      .start()

  /** The saved IVF-PQ index `c3_ivfpq_prebuilt` probes (a
    * [[graft.Fixture]] over embeddings); returns its directory.
    */
  private[graft] def ivfPqIndexFixture(s: SparkSession, d: String): String =
    graft.Fixture(d, "ivfpq_index", "embeddings") { dir =>
      saveIvfPqIndex(s, Tables.embeddings(s, d), dir.getPath)
    }

  private val c3ipqp = QuerySpec(
    "c3_ivfpq_prebuilt",
    "Build-once/probe-many IVF-PQ: the index (IVF seeds, PQ codebooks, per-vector cell+code encodings) persists as parquet tables and the probe reads the PREBUILT codes table — no rebuild, no candidate floats — computing only the query-side cell assignment and ADC lookup tables against the loaded quantizers. Bit-identical to the inline c3_ivfpq build (same deterministic sample chain, parquet round-trips floats exactly), so it hash-matches the SAME oracle.",
    Some(c3ivfpqOracle),
    (s, d) => {
      val dir = ivfPqIndexFixture(s, d)
      ivfPqSearchPrebuilt(s, Tables.embeddings(s, d), dir, 3)
    }
  )

  /** DuckDB replay of c3_pq_search: the [[PqSql]] codebooks + encodings,
    * then the label-block pair join where each pair's approximate L2 is
    * the SAME `(dss − 2·dsc) + ‖code‖²` chain `element_at(lut, code+1)`
    * evaluates — per-subspace terms summed left-associatively like the
    * Scala reduceLeft. Top-3 = row_number (approx ASC, id_b).
    */
  private def c3pqSearchOracle: String = {
    import PqSql._
    val encJoins = (0 until mSub).map(si =>
      s"  JOIN enc$si ec$si ON ec$si.vec_id = bb.vec_id JOIN bookc$si b$si ON b$si.j = ec$si.c$si")
      .mkString("\n")
    s"""WITH RECURSIVE
       |$corpusCte,
       |$sampleCte,
       |$allSubCtes,
       |hrk AS (SELECT vec_id, row_number() OVER (PARTITION BY label
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS hrank
       |  FROM embeddings),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, bb.vec_id AS id_b, $approx AS approx
       |  FROM embeddings a JOIN embeddings bb ON a.label = bb.label AND a.vec_id <> bb.vec_id
       |  JOIN hrk ON hrk.vec_id = bb.vec_id AND hrk.hrank <= $LshBucketCap
       |$encJoins),
       |r AS (SELECT id_a, id_b, approx,
       |    row_number() OVER (PARTITION BY id_a ORDER BY approx ASC, id_b) AS rn
       |  FROM pairs)
       |SELECT id_a, id_b, CAST(floor(approx * 1000000) AS BIGINT) AS adist_ppm, rn
       |FROM r WHERE rn <= 3 ORDER BY id_a, rn""".stripMargin
  }

  /** DuckDB replay of c3_ivfpq — the composed conversion: [[AnnSql]]'s
    * cosine k-center quantizer bounds WHICH pairs exist (home-cell
    * equi-join, nprobe=1), [[PqSql]]'s books bound what each costs. The
    * one-sample-two-indexes Scala build is mirrored exactly because
    * PqSql's 256-row `psample` is the md5-order PREFIX of AnnSql's 1024
    * `sample` — the same prefix-identity `ivfPqJoined` relies on.
    */
  private def c3ivfpqOracle: String = {
    import PqSql._
    val encJoins = (0 until mSub).map(si =>
      s"  JOIN enc$si ec$si ON ec$si.vec_id = cb.vec_id JOIN bookc$si b$si ON b$si.j = ec$si.c$si")
      .mkString("\n")
    s"""WITH RECURSIVE
       |${AnnSql.prefix},
       |$sampleCte,
       |$allSubCtes,
       |${AnnSql.asgCte("ivfasg", "seeds0")},
       |pairs AS (
       |  SELECT a.vec_id AS id_a, cb.vec_id AS id_b, $approx AS approx
       |  FROM corpus a JOIN ivfasg qa ON qa.vec_id = a.vec_id
       |  JOIN ivfasg cb ON cb.cell = qa.cell AND cb.vec_id <> a.vec_id
       |$encJoins),
       |r AS (SELECT id_a, id_b, approx,
       |    row_number() OVER (PARTITION BY id_a ORDER BY approx ASC, id_b) AS rn
       |  FROM pairs)
       |SELECT id_a, id_b, CAST(floor(approx * 1000000) AS BIGINT) AS adist_ppm, rn
       |FROM r WHERE rn <= 3 ORDER BY id_a, rn""".stripMargin
  }

  private val c3ipq = QuerySpec(
    "c3_ivfpq",
    "True IVF-PQ ADC top-3: adaptive k-center IVF cells bound the candidate scan (nprobe=1), PQ distance tables bound per-candidate cost to 4 lookups over 4 sub-codes. Oracle composes the AnnSql cosine quantizer with the PqSql codebook replay (the 256-prefix-of-1024 sample identity mirrors the one-collect Scala build); SimSpec keeps recall + the scan <= cell population bound pinned.",
    Some(c3ivfpqOracle),
    (s, d) => ivfPqSearch(s, Tables.embeddings(s, d), 3)
  )

  private val c3ps = QuerySpec(
    "c3_pq_search",
    "PQ asymmetric-distance top-3 within label blocks against the md5-deterministic 512-head candidate set (the r14 occupancy cap): per-query distance tables built before the join, candidates reduced to 4 sub-codes, approximate L2 = 4 lookups. Oracle replays codebooks, encodings, head rank, and the per-pair ADC chain hash-exact via the shared PqSql builder; SimSpec pins planted-cluster recall + determinism.",
    Some(c3pqSearchOracle),
    (s, d) => pqSearch(s, Tables.embeddings(s, d), 3)
  )

  /** DuckDB replay of the ENTIRE c3_pq chain (same conversion family as
    * [[c3kmOracle]]/[[c3ivfOracle]], now under L2): per subspace —
    * farthest-point k-center greedy as a recursive CTE (max-min-L2
    * selection, ties lowest vec_id), first-min sample assignment, and the
    * ONE Lloyd mean step whose double sums Scala accumulates in md5-sample
    * order — replayed exactly with `list(x ORDER BY ord)` +
    * `list_reduce(+)` (a left fold starting at the first element equals
    * the JVM's 0.0-seeded fold bit-for-bit). The empty-cluster
    * keep-the-seed arm IS replayed (LEFT JOIN + COALESCE — cheap here,
    * unlike kmeans' reseed). Encoding replays PqKernel.dists'
    * `(dss − 2·dsc) + ‖code‖²` per code with left-fold chains; the
    * reconstruction error is the argmin's own table value, so err_ppm
    * hash-matches on raw doubles.
    */
  /** Shared SQL-builder for the PQ-family oracles ([[c3pqOracle]],
    * [[c3pqSearchOracle]], [[c3ivfpqOracle]]): per subspace, the
    * farthest-point greedy (recursive CTE under L2), the ordered-fold
    * Lloyd mean, the `(dss − 2·dsc) + ‖code‖²` ADC chains, and the
    * argmin encodings. Expects a `corpus` CTE with (vec_id, embedding)
    * in scope (standalone consumers prepend [[corpusCte]]; the IVF-PQ
    * composition reuses [[AnnSql.prefix]]'s corpus, whose extra n2
    * column is a superset). The 256-row `psample` is the md5-order
    * PREFIX of AnnSql's 1024 sample — the same prefix-sharing the Scala
    * `ivfPqJoined` build exploits, so one WITH can host both builders
    * without the indexes drifting.
    */
  private object PqSql {
    val (mSub, codes, sampleN, sub) = (4, 16, 256, 16)
    /** delegate — ONE definition of the left-associative chain builder
      * per file, because every c3 oracle's bit-exactness hangs on it
      * (TierC keeps its own local dotChain/dotChainN under the same
      * discipline)
      */
    def chain(ts: Seq[String]): String = AnnSql.chain(ts)
    val corpusCte = "corpus AS (SELECT vec_id, embedding FROM embeddings)"
    val sampleCte: String =
      s"""psample AS (SELECT vec_id, embedding, row_number() OVER (ORDER BY h, vec_id) AS ord FROM
         |           (SELECT vec_id, embedding, md5(CAST(vec_id AS VARCHAR)) AS h FROM corpus
         |            ORDER BY h, vec_id LIMIT $sampleN))""".stripMargin
    def dims(si: Int): Seq[Int] = (1 to sub).map(d => si * sub + d)
    /** query-side dss chain for alias `a` */
    def dss(a: String, si: Int): String = chain(dims(si).map(d =>
      s"CAST($a.embedding[$d] AS DOUBLE) * CAST($a.embedding[$d] AS DOUBLE)"))
    /** query-side dsc chain for alias `a` against bookc alias `b` */
    def dsc(a: String, b: String, si: Int): String =
      chain(dims(si).zipWithIndex.map { case (d, k) =>
        s"CAST($a.embedding[$d] AS DOUBLE) * CAST($b.m$k AS DOUBLE)" })
    def subCtes(si: Int): String = {
      val ds = dims(si)
      def l2(a: String, b: String) = chain(ds.map(d =>
        s"(CAST($a.embedding[$d] AS DOUBLE) - CAST($b.embedding[$d] AS DOUBLE))" +
          s" * (CAST($a.embedding[$d] AS DOUBLE) - CAST($b.embedding[$d] AS DOUBLE))"))
      val seedCols = ds.zipWithIndex.map { case (d, k) =>
        s"CAST(s.embedding[$d] AS FLOAT) AS f$k" }.mkString(", ")
      val l2Seed = chain(ds.zipWithIndex.map { case (d, k) =>
        s"(CAST(e.embedding[$d] AS DOUBLE) - CAST(s.f$k AS DOUBLE))" +
          s" * (CAST(e.embedding[$d] AS DOUBLE) - CAST(s.f$k AS DOUBLE))" })
      val meanLists = ds.zipWithIndex.map { case (d, k) =>
        s"list(CAST(e.embedding[$d] AS DOUBLE) ORDER BY e.ord) AS l$k" }.mkString(", ")
      val meanCols = (0 until sub).map(k =>
        s"CAST(list_reduce(l$k, (a, b) -> a + b) / cnt AS FLOAT) AS g$k").mkString(", ")
      val bookCols = (0 until sub).map(k =>
        s"COALESCE(mn.g$k, sd.f$k) AS m$k").mkString(", ")
      val c2 = chain((0 until sub).map(k => s"CAST(m$k AS DOUBLE) * CAST(m$k AS DOUBLE)"))
      val encDss = dss("e", si)
      val encDsc = dsc("e", "b", si)
      s"""greedy$si(it, vids) AS (
         |  SELECT CAST(1 AS BIGINT), [(SELECT min(vec_id) FROM psample)]
         |  UNION ALL
         |  SELECT g.it + 1, list_append(g.vids, (
         |    SELECT c.vec_id
         |    FROM psample c JOIN psample s ON list_contains(g.vids, s.vec_id)
         |    WHERE NOT list_contains(g.vids, c.vec_id)
         |    GROUP BY c.vec_id
         |    ORDER BY min(${l2("c", "s")}) DESC, c.vec_id ASC
         |    LIMIT 1))
         |  FROM greedy$si g WHERE g.it < $codes),
         |seedv$si AS (SELECT vids FROM greedy$si WHERE it = $codes),
         |pseeds$si AS (
         |  SELECT CAST(list_position(v.vids, s.vec_id) - 1 AS INTEGER) AS j, $seedCols
         |  FROM seedv$si v, psample s WHERE list_contains(v.vids, s.vec_id)),
         |sasg$si AS (
         |  SELECT ord, vec_id, j FROM (
         |    SELECT e.ord, e.vec_id, s.j,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ($l2Seed) ASC, s.j ASC) AS rn
         |    FROM psample e CROSS JOIN pseeds$si s) WHERE rn = 1),
         |mean$si AS (
         |  SELECT a.j, count(*) AS cnt, $meanLists
         |  FROM sasg$si a JOIN psample e ON e.vec_id = a.vec_id GROUP BY a.j),
         |meanv$si AS (SELECT j, $meanCols FROM mean$si),
         |book$si AS (
         |  SELECT sd.j, $bookCols
         |  FROM pseeds$si sd LEFT JOIN meanv$si mn ON mn.j = sd.j),
         |bookc$si AS (SELECT j, ${(0 until sub).map(k => s"m$k").mkString(", ")}, $c2 AS c2 FROM book$si),
         |enc$si AS (
         |  SELECT vec_id, j AS c$si, val AS e$si FROM (
         |    SELECT e.vec_id, b.j, ($encDss) - (2.0 * ($encDsc)) + b.c2 AS val,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ($encDss) - (2.0 * ($encDsc)) + b.c2 ASC, b.j ASC) AS rn
         |    FROM corpus e CROSS JOIN bookc$si b) WHERE rn = 1)""".stripMargin
    }
    /** all four subspaces' CTE chains */
    val allSubCtes: String = (0 until mSub).map(subCtes).mkString(",\n")
    /** per-pair ADC approx: query alias `a` joined to enc codes via
      * bookc aliases b0..b3 — the `element_at(lut, code+1)` sum; SQL `+`
      * is left-associative, matching the Scala reduceLeft chain
      */
    val approx: String = (0 until mSub).map(si =>
      s"((${dss("a", si)}) - (2.0 * (${dsc("a", s"b$si", si)})) + b$si.c2)")
      .mkString(" + ")
  }

  private def c3pqOracle: String = {
    import PqSql._
    s"""WITH RECURSIVE
       |$corpusCte,
       |$sampleCte,
       |$allSubCtes
       |SELECT e0.vec_id, e0.c0, e1.c1, e2.c2, e3.c3,
       |  CAST(floor((((e0.e0 + e1.e1) + e2.e2) + e3.e3) * 1000000) AS BIGINT) AS err_ppm
       |FROM enc0 e0 JOIN enc1 e1 USING (vec_id) JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)
       |ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------- PQ distortion census (c3pd)
  /** PQ reconstruction-distortion census — the third leg of the ANN
    * index diagnostics (recall = `c3_recall`, coarse balance =
    * `c3_ivf_balance`, and now QUANTIZATION ERROR): the per-vector
    * ADC reconstruction error `c3_pq` already computes, histogrammed at
    * 0.1 resolution (err_ppm div 100000) with per-bucket count and exact
    * error sums. A fat high-error tail says the codebooks under-fit the
    * corpus (raise codes-per-subspace or retrain); the mean distortion
    * tracked round-over-round is the drift signal for re-training.
    * Oracle reuses c3_pq's full recursive codebook-replay CTEs and only
    * changes the final census.
    *
    * Scale shape: encode is map-side native codegen; the census
    * partial-aggregates into a bounded bucket domain. No joins beyond
    * c3_pq's own.
    */
  private val c3pd = QuerySpec(
    "c3_pq_distortion",
    "PQ quantization-distortion census: per-vector ADC reconstruction error (the replayed c3_pq chain) histogrammed at 0.1 resolution with exact per-bucket error sums — the under-fit/retrain diagnostic completing the ANN index trio.",
    Some({
      import PqSql._
      s"""WITH RECURSIVE
         |$corpusCte,
         |$sampleCte,
         |$allSubCtes,
         |errs AS (SELECT e0.vec_id,
         |    CAST(floor((((e0.e0 + e1.e1) + e2.e2) + e3.e3) * 1000000) AS BIGINT) AS err_ppm
         |  FROM enc0 e0 JOIN enc1 e1 USING (vec_id) JOIN enc2 e2 USING (vec_id)
         |       JOIN enc3 e3 USING (vec_id))
         |SELECT err_ppm // 100000 AS bucket, COUNT(*) AS n_vectors,
         |  CAST(SUM(err_ppm) AS BIGINT) AS sum_err_ppm,
         |  CAST(MIN(err_ppm) AS BIGINT) AS min_err_ppm,
         |  CAST(MAX(err_ppm) AS BIGINT) AS max_err_ppm
         |FROM errs GROUP BY 1 ORDER BY bucket""".stripMargin
    }),
    (s, d) => {
      import s.implicits._
      pqEncode(s, Tables.embeddings(s, d))
        .select(expr("err_ppm div 100000").as("bucket"), $"err_ppm")
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_vectors"),
          sum($"err_ppm").cast(LongType).as("sum_err_ppm"),
          min($"err_ppm").as("min_err_ppm"), max($"err_ppm").as("max_err_ppm"))
        .orderBy($"bucket")
    }
  )

  // ------------------------------------- PQ code-usage census (c3cu)
  /** PQ codebook usage census — the dead-code diagnostic next to
    * [[c3pd]]'s distortion: per subspace, how many of the 16 codes the
    * corpus actually uses, and the fattest code's exact ppm share. Dead
    * codes mean wasted codebook capacity (retrain with better seeds);
    * one dominant code means the subspace carries no information and ADC
    * distances there are noise. Oracle reuses the c3_pq codebook-replay
    * CTEs verbatim and only changes the final census.
    *
    * Scale shape: encode is map-side native codegen (cached once for the
    * four subspace projections), the usage census partial-aggregates
    * into ≤4×16 rows.
    */
  private val c3cu = QuerySpec(
    "c3_code_usage",
    "PQ code-usage census per subspace: codes used (of 16), vector counts, and the top code's exact ppm share — the dead-code/collapsed-subspace diagnostic completing the PQ health view.",
    Some({
      import PqSql._
      s"""WITH RECURSIVE
         |$corpusCte,
         |$sampleCte,
         |$allSubCtes,
         |u AS (SELECT 0 AS subspace, c0 AS code FROM enc0
         |      UNION ALL SELECT 1, c1 FROM enc1
         |      UNION ALL SELECT 2, c2 FROM enc2
         |      UNION ALL SELECT 3, c3 FROM enc3),
         |g AS (SELECT subspace, code, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM u GROUP BY subspace, code)
         |SELECT CAST(subspace AS BIGINT) AS subspace,
         |  COUNT(*) AS n_codes_used,
         |  CAST(SUM(cnt) AS BIGINT) AS n_vectors,
         |  CAST(MAX(cnt) AS BIGINT) AS max_code,
         |  CAST((MAX(cnt) * 1000000) // SUM(cnt) AS BIGINT) AS top_share_ppm
         |FROM g GROUP BY subspace ORDER BY subspace""".stripMargin
    }),
    (s, d) => {
      import s.implicits._
      val enc = CacheRegistry.persist(pqEncode(s, Tables.embeddings(s, d)))
      (0 until 4).map(si =>
          enc.select(lit(si.toLong).as("subspace"), col(s"c$si").cast(LongType).as("code")))
        .reduce(_ union _)
        .groupBy($"subspace", $"code").agg(count(lit(1)).as("cnt"))
        .groupBy($"subspace")
        .agg(count(lit(1)).as("n_codes_used"),
          sum($"cnt").cast(LongType).as("n_vectors"),
          max($"cnt").as("max_code"))
        .select($"subspace", $"n_codes_used", $"n_vectors", $"max_code",
          expr("(max_code * 1000000L) div n_vectors").as("top_share_ppm"))
        .orderBy($"subspace")
    }
  )

  private val c3p = QuerySpec(
    "c3_pq",
    "Product quantization: 4 subspaces x 16-code L2 codebooks from a deterministic hash-sample k-center build; per-vector sub-codes + reconstruction error (1e-6 floor). Oracle replays the whole build — recursive-CTE farthest-point greedy, ordered-list_reduce Lloyd mean (the JVM's sample-order double fold), empty-cluster keep-seed arm, ADC chains — hash-exact; SimSpec keeps determinism/spread/error pinned.",
    Some(c3pqOracle),
    (s, d) => {
      import s.implicits._
      pqEncode(s, Tables.embeddings(s, d)).orderBy($"vec_id")
    }
  )

  // ------------------------------------------------------------ centroid
  // Per-label centroid (the IVF/cluster-analysis building block). Float
  // sums are partition-order-dependent in their low bits, so each value
  // quantizes to an integer at fixed 1e-6 resolution (floor and * are
  // exact cross-engine IEEE ops — the c5_tfidf trick; a DECIMAL cast is
  // NOT usable here: DuckDB's float→DECIMAL path multiplies in doubles
  // and is off by one decimal ulp from Spark's exact BigDecimal cast,
  // measured at sf0.01 row 480). Integer sums are exact and
  // order-independent; the mean divides out replaying the same IEEE ops.
  private val c3c = QuerySpec(
    "c3_centroid",
    "Per-label embedding centroid at 1e-6 resolution: per-dimension integer sums (order-independent), mean divided out in doubles; posexplode → partial-agg, one shuffle on (label, pos).",
    Some("""WITH e AS (SELECT label,
              unnest(list_transform(embedding,
                v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))) AS v6,
              unnest(generate_series(0, len(embedding) - 1)) AS pos
            FROM embeddings)
            SELECT label, pos, COUNT(*) AS n,
              CAST(SUM(v6) AS BIGINT) AS sum_e6,
              CAST(SUM(v6) AS DOUBLE) / 1000000.0 / COUNT(*) AS mean_v
            FROM e GROUP BY label, pos ORDER BY label, pos"""),
    (s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
        .select($"label", $"pos".cast(LongType).as("pos"),
          floor($"v".cast(DoubleType) * 1000000).cast(LongType).as("v6"))
        .groupBy($"label", $"pos")
        .agg(count(lit(1)).as("n"), sum($"v6").as("sum_e6"),
          (sum($"v6").cast(DoubleType) / lit(1000000.0) / count(lit(1))).as("mean_v"))
        .orderBy($"label", $"pos")
    }
  )

  // ------------------------------- centroid separation matrix (c3cp)
  /** Inter-centroid separation — the BETWEEN-class companion to
    * [[c3kp]]'s within-class purity: for every label pair, the squared
    * distance between class centroids, computed WITHOUT ever forming the
    * float means: with per-(label, pos) exact integer sums s and counts
    * n (the c3_centroid quantities), the mean difference cross-multiplies
    * to (s_a·n_b − s_b·n_a) per dimension — exact integers — and the
    * squared distance sums their squares in DECIMAL(38,0)/HUGEINT
    * (per-term ~7·10^18 overflows BIGINT; the decimal path is the
    * c3_power_iter transpose-matvec discipline). Reported scaled by
    * (n_a·n_b)² — i.e. the e12-quantized squared mean distance — so the
    * output fits BIGINT and ranks identically. Confusable label pairs
    * (low separation) predict exactly where c3_knn_purity loses.
    *
    * Scale shape: one (label, pos) partial-agg shuffle (the c3_centroid
    * plan), then a labels×labels self-join on pos — ≤|labels|²·dim rows,
    * bounded by construction, never corpus-scaled.
    */
  private val c3cp = QuerySpec(
    "c3_centroid_sep",
    "Centroid separation matrix: per label pair, exact cross-multiplied squared mean distance ((s_a*n_b - s_b*n_a)^2 summed in DECIMAL, scaled by (n_a*n_b)^2 to e12) — the between-class view that predicts kNN purity loss; bounded labels^2 x dim join.",
    Some("""WITH e AS (SELECT label,
              unnest(list_transform(embedding,
                v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))) AS v6,
              unnest(generate_series(0, len(embedding) - 1)) AS pos
            FROM embeddings),
            c AS (SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(v6) AS BIGINT) AS s6 FROM e GROUP BY label, pos),
            p AS (SELECT a.label AS la, b.label AS lb, a.n AS na, b.n AS nb,
              (CAST(a.s6 AS HUGEINT) * b.n - CAST(b.s6 AS HUGEINT) * a.n) AS dd
              FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label)
            SELECT CAST(la AS BIGINT) AS label_a, CAST(lb AS BIGINT) AS label_b,
              CAST(MIN(na) AS BIGINT) AS n_a, CAST(MIN(nb) AS BIGINT) AS n_b,
              CAST(SUM(dd * dd) // (MIN(na) * MIN(na) * MIN(nb) * MIN(nb)) AS BIGINT) AS dist2_e12
            FROM p GROUP BY la, lb ORDER BY label_a, label_b"""),
    (s, d) => {
      import s.implicits._
      val dec = DecimalType(38, 0)
      val c = CacheRegistry.persist(Tables.embeddings(s, d)
        .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
        .select($"label", $"pos",
          floor($"v".cast(DoubleType) * 1000000).cast(LongType).as("v6"))
        .groupBy($"label", $"pos")
        .agg(count(lit(1)).as("n"), sum($"v6").cast(LongType).as("s6")))
      val a = c.select($"label".as("la"), $"pos", $"n".as("na"), $"s6".as("sa"))
      val b = c.select($"label".as("lb"), $"pos".as("pos_r"), $"n".as("nb"), $"s6".as("sb"))
      a.join(b, $"pos" === $"pos_r" && $"la" < $"lb")
        .select($"la", $"lb", $"na", $"nb",
          ($"sa".cast(dec) * $"nb".cast(dec) - $"sb".cast(dec) * $"na".cast(dec)).as("dd"))
        .groupBy($"la".cast(LongType).as("label_a"), $"lb".cast(LongType).as("label_b"))
        .agg(min($"na").cast(LongType).as("n_a"), min($"nb").cast(LongType).as("n_b"),
          sum($"dd" * $"dd").as("ss"))
        .select($"label_a", $"label_b", $"n_a", $"n_b",
          // exact integer quotient: Spark decimal `/` ROUNDS (half-up at
          // the result scale) and could bump across an integer right where
          // DuckDB's `//` floors — subtracting the exact decimal remainder
          // first makes the division exact, so the cast can't disagree
          (($"ss" - $"ss" % ($"n_a" * $"n_a" * $"n_b" * $"n_b").cast(dec))
            / ($"n_a" * $"n_a" * $"n_b" * $"n_b").cast(dec)).cast(LongType)
            .as("dist2_e12"))
        .orderBy($"label_a", $"label_b")
    }
  )

  // ------------------------------------ embedding norm census (c3nh)
  /** Embedding norm distribution — the encoder-health check [[c3ds]]'s
    * per-dimension stats don't give: the HISTOGRAM of vector L2 norms at
    * 0.1 resolution. Norm collapse (all mass in one bucket near 0) and
    * norm bimodality (two encoder versions mixed in one corpus) are the
    * two classic failures this catches before any similarity search is
    * attempted; cosine hides them, dot-product retrieval does not.
    * Bucket = floor(sqrt(n2)·10) on the exact replayed left-fold n2
    * chain (sqrt and floor are exact IEEE ops on both engines — the
    * c3_knn_cosine precedent); the per-bucket n2 sums quantize at e6
    * BEFORE summing (order-free).
    *
    * Scale shape: pure map-side expression + one bounded-bucket
    * partial-agg census. No joins, no window.
    */
  private val c3nh = QuerySpec(
    "c3_norm_hist",
    "Embedding norm histogram at 0.1 resolution (exact IEEE sqrt/floor on the replayed n2 chain) with per-bucket counts and e6-quantized n2 sums — catches norm collapse and mixed-encoder bimodality before retrieval.",
    Some(s"""WITH e AS (SELECT vec_id, ${AnnSql.n2Emb} AS n2 FROM embeddings)
            |SELECT CAST(floor(sqrt(n2) * 10.0) AS BIGINT) AS norm_bucket,
            |  COUNT(*) AS n_vectors,
            |  CAST(SUM(CAST(floor(n2 * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_n2_e6
            |FROM e GROUP BY 1 ORDER BY norm_bucket""".stripMargin),
    (s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .select(TierC.dot($"embedding", $"embedding").as("n2"))
        .select(floor(sqrt($"n2") * 10.0).cast(LongType).as("norm_bucket"),
          floor($"n2" * 1000000.0).cast(LongType).as("n2_e6"))
        .groupBy($"norm_bucket")
        .agg(count(lit(1)).as("n_vectors"),
          sum($"n2_e6").cast(LongType).as("sum_n2_e6"))
        .orderBy($"norm_bucket")
    }
  )

  // --------------------------------------------------- int8 quantization
  /** Elementwise ops only, so no accumulation-order dependence anywhere:
    * mx is an exact max over exact float→double casts, each
    * q_i = floor(v_i·127/mx) replays the same 3-op IEEE chain in the
    * oracle, and the compared aggregates (sum/min/max of the integer
    * q_i) are order-independent. The map-side shape of an embedding
    * compression stage: scan, quantize per row, write.
    */
  private val quantUdf = udf { (emb: Seq[Float]) =>
    var mx = 0.0
    emb.foreach { v => val a = math.abs(v.toDouble); if (a > mx) mx = a }
    if (mx == 0.0) (0L, 0L, 0L, 0.0)
    else {
      var sum = 0L
      var mn = Long.MaxValue
      var mq = Long.MinValue
      emb.foreach { v =>
        val q = math.floor(v.toDouble * 127.0 / mx).toLong
        sum += q
        if (q < mn) mn = q
        if (q > mq) mq = q
      }
      (sum, mn, mq, mx)
    }
  }
  private val c3z = QuerySpec(
    "c3_quantize",
    "Int8 embedding quantization summary: per-vector max-abs scale and sum/min/max of floor(v*127/mx) — elementwise IEEE chains and order-independent integer aggregates, bit-replayable by the oracle.",
    Some("""WITH m AS (SELECT vec_id,  embedding,
              list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS mx
              FROM embeddings),
            q AS (SELECT vec_id, mx,
              list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)*127.0/mx) AS BIGINT)) AS qs
              FROM m WHERE mx > 0)
            SELECT vec_id, CAST(list_sum(qs) AS BIGINT) AS sum_q,
              CAST(list_min(qs) AS BIGINT) AS min_q,
              CAST(list_max(qs) AS BIGINT) AS max_q, mx
            FROM q ORDER BY vec_id"""),
    (s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .select($"vec_id", quantUdf($"embedding").as("q"))
        .filter($"q._4" > 0.0)
        .select($"vec_id", $"q._1".as("sum_q"), $"q._2".as("min_q"),
          $"q._3".as("max_q"), $"q._4".as("mx"))
        .orderBy($"vec_id")
    }
  )

  /** DuckDB replay of c3_ann_lsh. The "custom hash" was only ever the
    * ±1 hyperplane matrix — a FIXED (plane, dim) constant table, so the
    * builder embeds the 24×64 signs as literals (the c5b_bm25
    * generated-from-one-list precedent; murmur is evaluated at BUILD
    * time, never replayed in SQL). Everything else is arithmetic:
    * adaptive plane count = `ceil(ln(n/64)/ln 2)` on doubles (the sf
    * grid keeps n off the exact power-of-2 boundaries where libm ulp
    * could flip the ceil), bucket bits = Σ 2^p·[acc_p ≥ 0] with acc_p a
    * left-fold chain over the sign row, and the in-bucket pair join +
    * raw-double cosine re-rank mirrors [[c3ivfOracle]].
    */
  private def c3aOracle: String = {
    import AnnSql.{chain, dotp, n2Emb}
    val dim = AnnSql.dim
    val signRows = (0 until 24).map { p =>
      val sg = (0 until dim).map(i => if (planeSign(p, i) > 0) 1 else -1)
        .mkString("[", ",", "]")
      s"($p, ${1 << p}, $sg)"
    }.mkString(", ")
    val acc = chain((1 to dim).map(d =>
      s"CAST(e.embedding[$d] AS DOUBLE) * CAST(s.sg[$d] AS DOUBLE)"))
    s"""WITH corpus AS (SELECT vec_id, embedding, $n2Emb AS n2 FROM embeddings),
       |np AS (SELECT least(24, greatest(1,
       |    CAST(ceil(ln(greatest(1.0, count(*) / 64.0)) / ln(2.0)) AS BIGINT))) AS planes
       |  FROM corpus),
       |signs AS (SELECT * FROM (VALUES $signRows) t(p, pw, sg)),
       |buck AS (
       |  SELECT e.vec_id, CAST(SUM(CASE WHEN ($acc) >= 0.0 THEN s.pw ELSE 0 END) AS INTEGER) AS bucket
       |  FROM corpus e JOIN signs s ON s.p < (SELECT planes FROM np)
       |  GROUP BY e.vec_id),
       |hr AS (SELECT vec_id, bucket,
       |    row_number() OVER (PARTITION BY bucket
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS hrank
       |  FROM buck),
       |cand AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    (${dotp("ea", "eb")}) / (sqrt(ea.n2) * sqrt(eb.n2)) AS score
       |  FROM buck a JOIN hr b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |    AND b.hrank <= $LshBucketCap
       |  JOIN corpus ea ON ea.vec_id = a.vec_id
       |  JOIN corpus eb ON eb.vec_id = b.vec_id),
       |r AS (SELECT id_a, id_b, score,
       |    row_number() OVER (PARTITION BY id_a ORDER BY score DESC, id_b) AS rn
       |  FROM cand)
       |SELECT id_a, id_b, score, rn FROM r WHERE rn <= 3 ORDER BY id_a, rn""".stripMargin
  }

  private val c3a = QuerySpec(
    "c3_ann_lsh",
    "Approximate nearest neighbors: random-hyperplane LSH bucket (plane count adapts to corpus size, ~64 vectors/bucket) + exact cosine re-rank within bucket against the md5-deterministic 512-head candidate set (the occupancy cap that keeps clustered data linear), top-3. Oracle embeds the fixed sign matrix as literals and replays plane count, bucket bits, head rank, and raw-double cosine re-rank; recall-vs-exact stays ScalaTest-pinned.",
    Some(c3aOracle),
    (s, d) => annTopK(s, Tables.embeddings(s, d), 3)
  )

  // ------------------------------------- per-dimension stats (c3ds)
  /** Per-dimension embedding statistics — the calibration pass a
    * quantizer build (PQ sub-space scaling, IVF whitening, scalar-quant
    * ranges) runs before committing to codebooks: per dimension n,
    * integer-e6 sum (mean = sum/n downstream), e6 min/max (range), and
    * the e3 squared-moment sum (variance = m2/n − mean² downstream).
    * Everything is an order-independent integer, so the result is
    * partition-invariant and bit-replayable. Overflow headroom: a unit-ish
    * float quantizes to |v3| ≲ 2e3, so v3² ≲ 4e6 — int64 holds ~2e12 rows
    * per dimension before SUM(v3²) overflows; at beyond that scale the
    * same plan runs with a DECIMAL accumulator.
    *
    * Scale shape: posexplode → partial agg → ONE shuffle on `pos` (dim
    * groups); map-side combine does virtually all the work.
    */
  private val c3ds = QuerySpec(
    "c3_dimstats",
    "Per-dimension embedding stats for quantizer calibration: n, e6 sum, e6 min/max, e3 squared-moment sum — order-independent integers; posexplode, partial agg, one shuffle on pos.",
    Some("""WITH e AS (SELECT
              unnest(list_transform(embedding,
                v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))) AS v6,
              unnest(list_transform(embedding,
                v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT))) AS v3,
              unnest(generate_series(0, len(embedding) - 1)) AS pos
            FROM embeddings)
            SELECT pos, COUNT(*) AS n,
              CAST(SUM(v6) AS BIGINT) AS sum_e6,
              CAST(MIN(v6) AS BIGINT) AS min_e6,
              CAST(MAX(v6) AS BIGINT) AS max_e6,
              CAST(SUM(v3 * v3) AS BIGINT) AS sumsq_e3
            FROM e GROUP BY pos ORDER BY pos"""),
    (s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .select(posexplode($"embedding").as(Seq("pos", "v")))
        .select($"pos".cast(LongType).as("pos"),
          floor($"v".cast(DoubleType) * 1000000).cast(LongType).as("v6"),
          floor($"v".cast(DoubleType) * 1000).cast(LongType).as("v3"))
        .groupBy($"pos")
        .agg(count(lit(1)).as("n"), sum($"v6").as("sum_e6"),
          min($"v6").as("min_e6"), max($"v6").as("max_e6"),
          sum($"v3" * $"v3").as("sumsq_e3"))
        .orderBy($"pos")
    }
  )

  // ------------------------------------- cluster quality (c3cq)
  /** Cluster cohesion/separation audit over the labeled embeddings — the
    * monitoring view a similarity pipeline reads to decide whether its
    * partition (here `label`, standing in for an IVF cell assignment) is
    * still sane: per label, the summed squared distance to the OWN
    * centroid (cohesion), to the NEAREST OTHER centroid (separation), and
    * how many members sit closer to a foreign centroid than their own
    * (misfits — the silhouette<0 population). Centroids come from the
    * exact e6 integer sums ([[c3c]]'s discipline) quantized to e3; every
    * distance is then an exact integer Σ(v3−cq3)², so the whole audit is
    * order-independent and bit-replayable.
    *
    * Scale shape: the centroid frame is k·dim rows (tiny, broadcast);
    * the distance pass explodes each vector once and joins the broadcast
    * centroids on `pos`, so the intermediate is |V|·dim·k rows with NO
    * shuffle until the (vec, label) re-agg — the classic assign shape. A
    * production run points this at a sample or a cell subset; the plan
    * itself never materializes anything corpus².
    */
  private val c3cq = QuerySpec(
    "c3_cluster_quality",
    "Cluster cohesion/separation audit: exact integer squared distances to own vs nearest-other e3-quantized centroid, per-label sums + misfit counts; broadcast k*dim centroid frame, no corpus^2.",
    Some("""WITH e AS (SELECT vec_id, label,
              unnest(list_transform(embedding,
                v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))) AS v6,
              unnest(list_transform(embedding,
                v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT))) AS v3,
              unnest(generate_series(0, len(embedding) - 1)) AS pos
            FROM embeddings),
            c AS (SELECT label AS clabel, pos AS cpos,
              CAST(floor(CAST(SUM(v6) AS DOUBLE) / COUNT(*) / 1000.0) AS BIGINT) AS cq3
            FROM e GROUP BY 1, 2),
            d AS (SELECT e.vec_id, e.label, c.clabel,
              CAST(SUM((e.v3 - c.cq3) * (e.v3 - c.cq3)) AS BIGINT) AS d2
            FROM e JOIN c ON e.pos = c.cpos
            GROUP BY e.vec_id, e.label, c.clabel),
            p AS (SELECT vec_id, label,
              MAX(CASE WHEN clabel = label THEN d2 END) AS intra_d2,
              MIN(CASE WHEN clabel <> label THEN d2 END) AS inter_d2
            FROM d GROUP BY vec_id, label)
            SELECT label, COUNT(*) AS n,
              CAST(SUM(intra_d2) AS BIGINT) AS intra_sum,
              CAST(SUM(inter_d2) AS BIGINT) AS inter_sum,
              CAST(SUM(CASE WHEN inter_d2 < intra_d2 THEN 1 ELSE 0 END) AS BIGINT) AS n_misfit
            FROM p GROUP BY label ORDER BY label"""),
    (s, d) => {
      import s.implicits._
      val e = CacheRegistry.persist(Tables.embeddings(s, d)
        .select($"vec_id", $"label", posexplode($"embedding").as(Seq("pos", "v")))
        .select($"vec_id", $"label", $"pos",
          floor($"v".cast(DoubleType) * 1000000).cast(LongType).as("v6"),
          floor($"v".cast(DoubleType) * 1000).cast(LongType).as("v3")))
      val c = e.groupBy($"label".as("clabel"), $"pos".as("cpos"))
        .agg(floor(sum($"v6").cast(DoubleType) / count(lit(1)) / 1000.0)
          .cast(LongType).as("cq3"))
      val dists = e.join(broadcast(c), $"pos" === $"cpos")
        .groupBy($"vec_id", $"label", $"clabel")
        .agg(sum(($"v3" - $"cq3") * ($"v3" - $"cq3")).as("d2"))
      dists.groupBy($"vec_id", $"label")
        .agg(max(when($"clabel" === $"label", $"d2")).as("intra_d2"),
          min(when($"clabel" =!= $"label", $"d2")).as("inter_d2"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n"),
          sum($"intra_d2").cast(LongType).as("intra_sum"),
          sum($"inter_d2").cast(LongType).as("inter_sum"),
          sum(when($"inter_d2" < $"intra_d2", 1L).otherwise(0L))
            .cast(LongType).as("n_misfit"))
        .orderBy($"label")
    }
  )

  // ------------------------------------- fixed-point power iteration (c3pi)
  /** Distributed power iteration for the dominant eigenvector of the
    * embedding Gram matrix AᵀA — the PCA/whitening primitive (dominant-
    * direction removal is the standard post-processing step for embedding
    * similarity, and the direction itself is the first component a
    * whitening pipeline subtracts). All arithmetic is FIXED-POINT so the
    * result is bit-deterministic and oracle-replayable:
    *
    *  - embeddings quantize once to q = ⌊e·2^20⌋ Longs;
    *  - matvec s_i = Σ_j q_ij·V_j is pure Long arithmetic (|s| ≤ 64·2^40
    *    < 2^47), the transpose-matvec w_j = Σ_i s_i·q_ij runs in exact
    *    DECIMAL(38,0) (|w| ≤ n·2^66 — below 10^29 even at n = 10^9, no overflow);
    *  - renormalization avoids sqrt entirely: V′_j = sign(w_j)·
    *    ⌊(|w_j|·2^20) / max_k|w_k|⌋ — max is exactly replayable where an
    *    L2 norm would need a correctly-rounded-isqrt dance, and the
    *    nonnegative integer division is truncation = floor on both
    *    engines (the sign split dodges the negative-floor-division
    *    cross-engine trap).
    *
    * Convergence is spectrum-dependent (rate λ₂/λ₁ per step): the synthetic
    * corpus is near-isotropic (λ₂/λ₁ ≈ 0.98) so [[PowerIters]] steps only
    * begin to align there — the DECLARED contract is "the exact state
    * after K fixed-point steps" (bit-checked by the oracle), while
    * convergence on a real dominant direction is pinned by SimSpec's
    * planted anisotropic fixture (cosine > 0.99 in 4 steps at gap ≈ 0.1).
    *
    * Scale: per step = one shuffle on vec_id (partial-agg matvec), one
    * co-keyed join, one dim-sized aggregate; V rides as a 64-element
    * literal (broadcast), driver traffic = dim rows per step — the
    * k-means codebook posture. Unreachable arm: max|w| = 0 requires every
    * embedding ⊥ V or all-zero — the zero-norm TablesSpec canary plus a
    * loud require guard it.
    */
  private val PowerIters = 4
  private val PiScale = 1048576L // 2^20
  private[graft] def powerIteration(s: SparkSession, e: DataFrame,
      dim: Int, iters: Int): Array[Long] = {
    import s.implicits._
    val dec = DecimalType(38, 0)
    var v: Array[Long] = Array.fill(dim)(PiScale)
    var t = 0
    while (t < iters) {
      val vLit = typedlit(v.toSeq)
      val sFrame = e
        .select($"i", ($"q" * element_at(vLit, ($"j" + 1).cast(IntegerType))).as("qv"))
        .groupBy($"i").agg(sum($"qv").as("s"))
      val w = e.join(sFrame, "i")
        .select($"j", ($"s".cast(dec) * $"q".cast(dec)).as("sq"))
        .groupBy($"j").agg(sum($"sq").as("w"))
        .collect().map(r => r.getLong(0) -> BigInt(r.getDecimal(1).toBigInteger))
        .toMap
      val wArr = Array.tabulate(dim)(j => w.getOrElse(j.toLong, BigInt(0)))
      val m = wArr.map(_.abs).max
      require(m > BigInt(0),
        "powerIteration: max|w| = 0 — all embeddings orthogonal to the iterate (zero corpus?)")
      v = wArr.map { x =>
        val d = (x.abs * PiScale) / m
        (if (x < 0) -d else d).toLong
      }
      t += 1
    }
    v
  }
  /** The power-iteration CTE chain (`e`, `v0` … `v$PowerIters`), shared by
    * the c3pi direction oracle and the c3_whiten projection oracle.
    */
  private def powerIterCtes: String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""e AS (SELECT vec_id AS i, CAST(gs.j AS BIGINT) AS j,
         |  CAST(floor(embedding[CAST(gs.j AS INTEGER) + 1] * 1048576.0) AS HUGEINT) AS q
         |  FROM embeddings, (SELECT unnest(range(0, 64)) AS j) gs)""".stripMargin,
      "v0 AS (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS j, CAST(1048576 AS HUGEINT) AS v)")
    for (t <- 1 to PowerIters) {
      ctes += s"s$t AS (SELECT i, SUM(q * v) AS s FROM e JOIN v${t - 1} USING (j) GROUP BY i)"
      ctes += s"w$t AS (SELECT j, SUM(s * q) AS w FROM e JOIN s$t USING (i) GROUP BY j)"
      ctes += s"m$t AS (SELECT MAX(abs(w)) AS m FROM w$t)"
      ctes += (s"v$t AS (SELECT j, CASE WHEN w < 0 THEN -((-w * $PiScale) // m) " +
        s"ELSE (w * $PiScale) // m END AS v FROM w$t, m$t)")
    }
    ctes.mkString(",\n")
  }
  private def c3piOracle: String =
    s"WITH $powerIterCtes\n" +
      s"SELECT j, CAST(v AS BIGINT) AS v_q FROM v$PowerIters ORDER BY j"
  private val c3pi = QuerySpec(
    "c3_power_iter",
    s"Dominant eigenvector of the embedding Gram matrix via $PowerIters fixed-point power-iteration steps (2^20 quantization, Long matvec + DECIMAL(38,0) transpose-matvec, max-norm rescale — no sqrt); output is the exact scaled direction (j, v_q), bit-replayed by the unrolled-CTE oracle.",
    Some(c3piOracle),
    (s, d) => {
      import s.implicits._
      val e = CacheRegistry.persist(Tables.embeddings(s, d)
        .select($"vec_id".as("i"), posexplode($"embedding").as(Seq("j", "v")))
        .select($"i", $"j".cast(LongType).as("j"),
          floor($"v".cast(DoubleType) * 1048576.0).cast(LongType).as("q")))
      val v = powerIteration(s, e, 64, PowerIters)
      v.zipWithIndex.map { case (x, j) => (j.toLong, x) }.toSeq
        .toDF("j", "v_q").orderBy($"j")
    }
  )

  // ------------------------------- spectral energy fraction (c3en)
  /** Dominant-component energy fraction — the number that says whether
    * [[c3wh]]'s all-but-the-top whitening is even worth running on this
    * corpus: the Rayleigh quotient of the power-iteration direction over
    * the Gram trace, energy = (Σᵢ(xᵢ·v)²) / (v'v · Σᵢ|xᵢ|²), in exact
    * integer ppm. Near-isotropic corpora score ≈ 1/dim (whitening buys
    * nothing); anisotropic embedding spaces (the usual case for real
    * encoders) score high and whitening recovers retrieval contrast.
    * Reuses the c3_power_iter machinery verbatim: same 2^20-quantized
    * matvec chain, same final iterate; the numerator/trace/norm sums run
    * in DECIMAL(38,0)/HUGEINT (s² reaches 2^92), and the single final
    * division happens on three one-row scalars — driver-side BigInt in
    * the engine, HUGEINT `//` in the oracle, both exact.
    *
    * Scale shape: the Gram matvec is the audited c3_power_iter plan
    * (per-i partial aggs, dim-row driver traffic per step); the three
    * closing aggregates are single-row pulls.
    */
  private val c3en = QuerySpec(
    "c3_energy",
    "Spectral energy fraction of the dominant embedding direction: Rayleigh quotient over the Gram trace in exact integer ppm (2^20-quantized power-iteration chain, DECIMAL/HUGEINT sums, one exact scalar division) — decides whether all-but-the-top whitening pays.",
    Some(s"""WITH $powerIterCtes,
            |sf AS (SELECT i, SUM(q * v) AS s FROM e JOIN v$PowerIters USING (j) GROUP BY i),
            |n2 AS (SELECT SUM(s * s) AS num FROM sf),
            |tr AS (SELECT SUM(q * q) AS t FROM e),
            |vv AS (SELECT SUM(v * v) AS nv FROM v$PowerIters)
            |SELECT CAST((n2.num * 1000000) // (vv.nv * tr.t) AS BIGINT) AS energy_ppm,
            |  CAST(tr.t AS BIGINT) AS trace_q,
            |  CAST(vv.nv AS BIGINT) AS vv_q
            |FROM n2, tr, vv""".stripMargin),
    (s, d) => {
      import s.implicits._
      val dec = DecimalType(38, 0)
      val e = CacheRegistry.persist(Tables.embeddings(s, d)
        .select($"vec_id".as("i"), posexplode($"embedding").as(Seq("j", "v")))
        .select($"i", $"j".cast(LongType).as("j"),
          floor($"v".cast(DoubleType) * 1048576.0).cast(LongType).as("q")))
      val v = powerIteration(s, e, 64, PowerIters)
      val vLit = typedlit(v.toSeq)
      val per = e
        .select($"i", ($"q" * element_at(vLit, ($"j" + 1).cast(IntegerType))).as("qv"),
          ($"q" * $"q").as("qq"))
        .groupBy($"i").agg(sum($"qv").as("s"), sum($"qq").cast(dec).as("qq"))
      val row = per
        .agg(sum($"s".cast(dec) * $"s".cast(dec)).as("num"), sum($"qq").as("tr"))
        .collect()(0)
      val num = BigInt(row.getDecimal(0).toBigInteger)
      val tr = BigInt(row.getDecimal(1).toBigInteger)
      val vv = v.map(x => BigInt(x) * BigInt(x)).sum
      Seq(((num * 1000000 / (vv * tr)).toLong, tr.toLong, vv.toLong))
        .toDF("energy_ppm", "trace_q", "vv_q")
    }
  )

  // ----------------------------- dominant-direction removal (c3wh)
  /** The APPLY side of [[c3pi]] — "all-but-the-top" embedding
    * post-processing (Mu & Viswanath): remove each vector's component
    * along the dominant direction, the standard whitening step before
    * cosine similarity (the dominant direction carries corpus-wide bias,
    * not semantics). Composition stays fixed-point end to end: V comes
    * from the 4-step [[powerIteration]], each vector's projection
    * proj = Σ q_j·V_j is pure Long (≤ 2^47), the per-coordinate
    * correction c_j = sign·⌊|proj·V_j| / ΣV²⌋ runs in BigInt with the
    * sign split (truncation-toward-zero on both engines — BigInt `/`
    * here, the CASE-wrapped nonnegative `//` in SQL), and the residual
    * energy Σ(q_j − c_j)² fits Long (r ≤ 2^21, d = 64 ⇒ ≤ 2^48).
    *
    * Scale: after the power-iteration build (its own audited shape), the
    * transform is PURE MAP-SIDE — V and ΣV² ride the UDF closure as
    * broadcast constants, no shuffle except the presentation sort. Output
    * (vec_id, proj_q, res_norm2) is what a similarity pipeline logs to
    * monitor how much mass the top direction holds per vector.
    */
  private def c3whOracle: String =
    s"""WITH $powerIterCtes,
       |sc AS (SELECT SUM(v * v) AS scale FROM v$PowerIters),
       |p AS (SELECT i, SUM(q * v) AS proj FROM e JOIN v$PowerIters USING (j) GROUP BY i),
       |r AS (SELECT e.i, p.proj,
       |  e.q - (CASE WHEN (p.proj * v.v) < 0 THEN -((-(p.proj * v.v)) // sc.scale)
       |              ELSE (p.proj * v.v) // sc.scale END) AS r
       |  FROM e JOIN v$PowerIters v USING (j) JOIN p ON e.i = p.i CROSS JOIN sc)
       |SELECT i AS vec_id, CAST(MIN(proj) AS BIGINT) AS proj_q,
       |  CAST(SUM(r * r) AS BIGINT) AS res_norm2
       |FROM r GROUP BY i ORDER BY vec_id""".stripMargin
  private val c3wh = QuerySpec(
    "c3_whiten",
    s"Dominant-direction removal (all-but-the-top): project every embedding off the $PowerIters-step power-iteration direction in exact fixed-point (Long projection, BigInt sign-split correction, Long residual energy); map-side after the direction build; oracle composes the power-iteration chain with the per-vector projection replay.",
    Some(c3whOracle),
    (s, d) => {
      import s.implicits._
      val e = CacheRegistry.persist(Tables.embeddings(s, d)
        .select($"vec_id".as("i"), posexplode($"embedding").as(Seq("j", "v")))
        .select($"i", $"j".cast(LongType).as("j"),
          floor($"v".cast(DoubleType) * 1048576.0).cast(LongType).as("q")))
      val vArr = powerIteration(s, e, 64, PowerIters)
      val scale = vArr.map(x => x * x).sum // ≤ 64·2^40 < 2^47
      val whitenUdf = udf { (emb: Seq[Float]) =>
        var proj = 0L
        var j = 0
        while (j < 64) {
          proj += math.floor(emb(j).toDouble * 1048576.0).toLong * vArr(j)
          j += 1
        }
        var res2 = 0L
        j = 0
        while (j < 64) {
          val pv = BigInt(proj) * vArr(j)
          val c = (pv.abs / scale).toLong * (if (pv < 0) -1L else 1L)
          val r = math.floor(emb(j).toDouble * 1048576.0).toLong - c
          res2 += r * r
          j += 1
        }
        (proj, res2)
      }
      Tables.embeddings(s, d)
        .select($"vec_id", whitenUdf($"embedding").as("st"))
        .select($"vec_id", $"st._1".as("proj_q"), $"st._2".as("res_norm2"))
        .orderBy($"vec_id")
    }
  )

  // ----------------------------------------- MMR diversity re-rank (c3)
  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998, public) —
    * the diversity-aware re-ranker: after the coarse top-6 cosine
    * retrieval, greedily pick 3 results maximizing
    * λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s) with λ = 0.7 — near-dup
    * results crowd each other out instead of filling the whole page.
    *
    * Shape: the coarse stage is the audited label-block join with
    * WindowGroupLimit pruning to 6; each greedy step is then ONE
    * equi-join of the per-query remainder (≤ 5 rows) against the 1-row
    * pick + a windowed arg-max — work per step is |queries|·5, never
    * |corpus|². Determinism: every score is the exact (dot-chain /
    * sqrt·sqrt) double both engines compute bit-identically, λ-blend in
    * fixed association, ties to the lowest candidate id; the oracle
    * replays the greedy unrolled (pick-1 CTE → sims → pick-2 → sims →
    * pick-3).
    */
  private val c3mmr = QuerySpec(
    "c3_mmr",
    "MMR diversity re-rank: coarse top-6 cosine per query (label-blocked), then greedy pick-3 maximizing 0.7*rel - 0.3*max-sim-to-selected, ties to lowest id; per-step work |queries|*5, oracle unrolls the greedy chain.",
    Some(s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
            hr AS (SELECT vec_id, row_number() OVER (PARTITION BY label
                     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS hrank
                   FROM e),
            p AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
                    (${dotChain("a", "b")}) AS dot,
                    (${dotChain("a", "a")}) AS na2,
                    (${dotChain("b", "b")}) AS nb2
                  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
                  JOIN hr ON hr.vec_id = b.vec_id AND hr.hrank <= $LshBucketCap),
            sc AS (SELECT ida, idb, dot / (sqrt(na2) * sqrt(nb2)) AS rel FROM p),
            c6 AS (SELECT ida, idb, rel, rn FROM (
                     SELECT ida, idb, rel,
                       ROW_NUMBER() OVER (PARTITION BY ida ORDER BY rel DESC, idb) AS rn
                     FROM sc) WHERE rn <= 6),
            p1 AS (SELECT ida, idb AS pid, rel AS score FROM c6 WHERE rn = 1),
            s1 AS (SELECT c.ida, c.idb, c.rel,
                     (${dotChain("x", "y")})
                       / (sqrt((${dotChain("x", "x")})) * sqrt((${dotChain("y", "y")}))) AS sim1
                   FROM c6 c
                   JOIN p1 ON p1.ida = c.ida
                   JOIN e x ON x.vec_id = c.idb
                   JOIN e y ON y.vec_id = p1.pid
                   WHERE c.rn > 1),
            m2 AS (SELECT ida, idb, rel, sim1, 0.7*rel - 0.3*sim1 AS mmr2,
                     ROW_NUMBER() OVER (PARTITION BY ida
                       ORDER BY (0.7*rel - 0.3*sim1) DESC, idb) AS r2
                   FROM s1),
            p2 AS (SELECT ida, idb AS pid, mmr2 AS score FROM m2 WHERE r2 = 1),
            s2 AS (SELECT m.ida, m.idb, m.rel, m.sim1,
                     (${dotChain("x", "y")})
                       / (sqrt((${dotChain("x", "x")})) * sqrt((${dotChain("y", "y")}))) AS sim2
                   FROM m2 m
                   JOIN p2 ON p2.ida = m.ida AND m.idb <> p2.pid
                   JOIN e x ON x.vec_id = m.idb
                   JOIN e y ON y.vec_id = p2.pid),
            m3 AS (SELECT ida, idb,
                     0.7*rel - 0.3*greatest(sim1, sim2) AS mmr3,
                     ROW_NUMBER() OVER (PARTITION BY ida
                       ORDER BY (0.7*rel - 0.3*greatest(sim1, sim2)) DESC, idb) AS r3
                   FROM s2),
            p3 AS (SELECT ida, idb AS pid, mmr3 AS score FROM m3 WHERE r3 = 1)
            SELECT ida, CAST(1 AS BIGINT) AS sel_rank, pid AS idb, score AS sel_score FROM p1
            UNION ALL SELECT ida, CAST(2 AS BIGINT), pid, score FROM p2
            UNION ALL SELECT ida, CAST(3 AS BIGINT), pid, score FROM p3
            ORDER BY ida, sel_rank"""),
    (s, d) => mmrSelect(s, Tables.embeddings(s, d))
  )

  /** The c3_mmr pipeline over any (vec_id, label, embedding) frame.
    * The candidate side of the label-blocked join is capped at the
    * md5-deterministic [[LshBucketCap]]-head of each label block (the
    * r14 occupancy-cap discipline: 10 fixed labels make the uncapped
    * block join N²/10 — it filled the disk at the 100k-vector soak) —
    * mirrored in the oracle, every query still asks, candidates stay
    * N·cap.
    */
  def mmrSelect(s: SparkSession, embeddings: DataFrame): DataFrame = {
    import s.implicits._
    val wH = Window.partitionBy($"label")
      .orderBy(md5($"vec_id".cast(StringType)), $"vec_id")
    val e = CacheRegistry.persist(embeddings
      .select($"vec_id", $"label", $"embedding",
        TierC.dot($"embedding", $"embedding").as("n2"))
      .withColumn("hrank", row_number().over(wH).cast(LongType)))
    val a = e.select($"vec_id".as("ida"), $"label", $"embedding".as("ea"), $"n2".as("na2"))
    val b = headCapKept(e, LshBucketCap, "mmrSelect")
      .select($"vec_id".as("idb"), $"label".as("label_b"),
      $"embedding".as("eb"), $"n2".as("nb2"))
    val w = Window.partitionBy($"ida").orderBy($"rel".desc, $"idb")
    val cand = CacheRegistry.persist(
      a.join(b, $"label" === $"label_b" && $"ida" =!= $"idb")
        .withColumn("rel", TierC.dot($"ea", $"eb") / (sqrt($"na2") * sqrt($"nb2")))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 6)
        .select($"ida", $"idb", $"rel", $"rn", $"eb", $"nb2"))
    val p1 = cand.filter($"rn" === 1)
      .select($"ida".as("p_ida"), $"idb".as("p1id"), $"rel".as("p1score"),
        $"eb".as("e1"), $"nb2".as("n1"))
    val r1 = CacheRegistry.persist(cand.filter($"rn" > 1)
      .join(p1, $"ida" === $"p_ida")
      .withColumn("sim1", TierC.dot($"eb", $"e1") / (sqrt($"nb2") * sqrt($"n1")))
      .withColumn("mmr2", lit(0.7) * $"rel" - lit(0.3) * $"sim1")
      .select($"ida", $"idb", $"rel", $"eb", $"nb2", $"sim1", $"mmr2"))
    val w2 = Window.partitionBy($"ida").orderBy($"mmr2".desc, $"idb")
    val p2 = r1.withColumn("r2", row_number().over(w2)).filter($"r2" === 1)
      .select($"ida".as("p_ida2"), $"idb".as("p2id"), $"mmr2".as("p2score"),
        $"eb".as("e2"), $"nb2".as("n2b"))
    val r2 = r1.join(p2, $"ida" === $"p_ida2" && $"idb" =!= $"p2id")
      .withColumn("sim2", TierC.dot($"eb", $"e2") / (sqrt($"nb2") * sqrt($"n2b")))
      .withColumn("mmr3", lit(0.7) * $"rel" - lit(0.3) * greatest($"sim1", $"sim2"))
    val w3 = Window.partitionBy($"ida").orderBy($"mmr3".desc, $"idb")
    val p3 = r2.withColumn("r3", row_number().over(w3)).filter($"r3" === 1)
    p1.select($"p_ida".as("ida"), lit(1L).as("sel_rank"),
        $"p1id".as("idb"), $"p1score".as("sel_score"))
      .unionByName(p2.select($"p_ida2".as("ida"), lit(2L).as("sel_rank"),
        $"p2id".as("idb"), $"p2score".as("sel_score")))
      .unionByName(p3.select($"ida", lit(3L).as("sel_rank"),
        $"idb", $"mmr3".as("sel_score")))
      .orderBy($"ida", $"sel_rank")
  }

  // ------------------------------------------ filtered vector search (c3)
  /** Filtered kNN — metadata-predicated vector search (the "WHERE clause
    * on your ANN" modern vector stores advertise): top-3 cosine per query
    * among only the candidates passing the predicate (vec_id ∈ 3ℤ as the
    * metadata stand-in). The correctness trap this pins: the predicate
    * must apply BEFORE the top-k (pre-filtering) — post-filtering a
    * top-k under-fills k whenever filtered-out vectors occupied top
    * slots, and the oracle (predicate inside the join) catches exactly
    * that. Pre-filtering also SHRINKS the candidate side of the blocked
    * join by the selectivity (here 3×) instead of wasting score work —
    * the reason vector stores plumb predicates into the index scan.
    * Queries stay unfiltered: every vector can ask, only admissible
    * candidates answer.
    */
  private val c3fk = QuerySpec(
    "c3_filtered_knn",
    "Filtered vector search: exact cosine top-3 per query within the label block among candidates with vec_id % 3 = 0 (metadata predicate) — predicate applied BEFORE the top-k (post-filtering under-fills k; the oracle pins it), shrinking the join's candidate side by the selectivity.",
    Some(s"""WITH p AS (
              SELECT a.vec_id AS ida, b.vec_id AS idb,
                     (${dotChain("a", "b")}) AS dot,
                     (${dotChain("a", "a")}) AS na2,
                     (${dotChain("b", "b")}) AS nb2
              FROM embeddings a
              JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
                AND b.vec_id % 3 = 0
              JOIN (SELECT vec_id, row_number() OVER (PARTITION BY label
                      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS hrank
                    FROM embeddings WHERE vec_id % 3 = 0) h
                ON h.vec_id = b.vec_id AND h.hrank <= $LshBucketCap),
            sc AS (SELECT ida, idb, dot / (sqrt(na2) * sqrt(nb2)) AS score FROM p),
            r AS (SELECT ida, idb, score,
                    ROW_NUMBER() OVER (PARTITION BY ida ORDER BY score DESC, idb) AS rn
                  FROM sc)
            SELECT ida, idb, score, rn FROM r WHERE rn <= 3 ORDER BY ida, rn"""),
    (s, d) => {
      import s.implicits._
      val e = CacheRegistry.persist(Tables.embeddings(s, d)
        .select($"vec_id", $"label", $"embedding",
          TierC.dot($"embedding", $"embedding").as("n2")))
      val a = e.select($"vec_id".as("ida"), $"label", $"embedding".as("ea"), $"n2".as("na2"))
      // the predicate lands on the CANDIDATE side before the join, and
      // the md5-head occupancy cap (r14) bounds the block join at N*cap
      // among the admissible candidates — mirrored in the oracle
      val wH = Window.partitionBy($"label")
        .orderBy(md5($"vec_id".cast(StringType)), $"vec_id")
      val b = headCapKept(
          e.filter($"vec_id" % 3 === 0)
            .withColumn("hrank", row_number().over(wH).cast(LongType)),
          LshBucketCap, "filteredKnn")
        .select($"vec_id".as("idb"), $"label".as("label_b"),
          $"embedding".as("eb"), $"n2".as("nb2"))
      val w = Window.partitionBy($"ida").orderBy($"score".desc, $"idb")
      a.join(b, $"label" === $"label_b" && $"ida" =!= $"idb")
        .withColumn("score", TierC.dot($"ea", $"eb") / (sqrt($"na2") * sqrt($"nb2")))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter($"rn" <= 3)
        .select($"ida", $"idb", $"score", $"rn")
        .orderBy($"ida", $"rn")
    }
  )

  // ------------------------------------- similarity histogram (tuning)
  /** Pair-similarity histogram — how every near-dup THRESHOLD in this
    * engine gets chosen: mine pairs at a low floor (0.1) and bucket their
    * Jaccard into deciles; the dedup threshold goes where the bimodal
    * valley sits (true dups pile at 0.8–1.0, topical noise below). Same
    * df-capped inverted-index pair machinery as the operators it tunes —
    * the floor bounds the candidate set exactly like the production
    * threshold does; decile = least(floor(j·10), 9) so j = 1.0 lands in
    * the top bucket (exact IEEE: j is the replayed division, ·10
    * correctly rounded, floor exact).
    */
  private val c2jh = QuerySpec(
    "c2_jaccard_hist",
    "Near-dup threshold tuning histogram: bigram-Jaccard pairs mined at the 0.1 floor, bucketed into deciles least(floor(j*10), 9) with pair counts — the bimodal-valley diagnostic behind every dedup threshold; same blocked df-capped pair machinery as the operators it tunes.",
    Some(s"""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            b AS (SELECT doc_id, source,
              list_distinct(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS grams
              FROM t WHERE len(toks) >= 2),
            prs AS (SELECT
                CAST(len(list_intersect(a.grams, c.grams)) AS DOUBLE)
                  / len(list_distinct(a.grams || c.grams)) AS j
              FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
              WHERE CAST(len(list_intersect(a.grams, c.grams)) AS DOUBLE)
                    / len(list_distinct(a.grams || c.grams)) >= 0.1)
            SELECT CAST(least(floor(j * 10), 9) AS BIGINT) AS decile,
              COUNT(*) AS n_pairs
            FROM prs GROUP BY 1 ORDER BY decile"""),
    (s, d) => {
      import s.implicits._
      ngramJaccardPairsRaw(s, Tables.documents(s, d), 0.1, NgramDfCap)
        .select(least(floor($"jaccard" * 10), lit(9)).cast(LongType).as("decile"))
        .groupBy($"decile").agg(count(lit(1)).as("n_pairs"))
        .orderBy($"decile")
    }
  )

  // ------------------------------------- LSH banding recall (tuning)
  /** MinHash-LSH recall curve — the banding twin of [[c2jh]]'s threshold
    * histogram and the dedup counterpart of `c3_recall`: for every TRUE
    * near-dup pair (exact shingle-Jaccard ≥ 0.3, the floor well below the
    * 0.8 design threshold so the S-curve's rise is visible), did the
    * production 8-band×4-row banding produce a bucket collision? Reported
    * per Jaccard decile as n_truth / n_caught / recall@decile — the
    * measured version of the theoretical 1−(1−s^r)^b curve, and the view
    * that tells an operator whether to trade bands for rows.
    *
    * Scale shape: the TRUTH side mines pairs over the SAME trigram
    * shingles the MinHash signature hashes (not the bigram family the
    * other tuners use — recall must be measured against the similarity
    * the LSH actually approximates), through the shared df-capped
    * inverted-index join; corpus-wide (no source blocking) because the
    * banding itself is corpus-wide, PPJoin length-pruned at the join.
    * The LSH side reuses the production signature index ([[TierC
    * .lshIndex]]) and its bucket self-join. Both sides shuffle on
    * bounded keys; the decile rollup is a partial-agged count.
    */
  private val LshRecallFloor = 0.3
  // 256, the NgramDfCap argument verbatim (r14 soak: at 10000 the cap
  // never engaged on a 250k-doc corpus and the truth mine emitted the
  // full quadratic candidate set — 119 s; the cap is mirrored into the
  // oracle, so engine and replay agree even when it engages)
  private[graft] val LshRecallDfCap = envCap("SPARK_GRAFT_LSH_RECALL_DF_CAP", 256)
  private val c2lr = QuerySpec(
    "c2_lsh_recall",
    s"LSH banding recall curve: exact trigram-shingle Jaccard >= $LshRecallFloor truth pairs (df-capped inverted-index mine over the SAME shingles MinHash hashes, corpus-wide like the banding) left-joined against production band-bucket collisions, recall@decile at 1e-6 — the measured 1-(1-s^r)^b view behind the bands/rows trade.",
    Some(s"""WITH ${TierC.mhBandCtes},
            |lshp AS (SELECT DISTINCT a.doc_id AS la, b.doc_id AS lb
            |         FROM band a JOIN band b
            |           ON a.band_id = b.band_id AND a.band_hash = b.band_hash
            |              AND a.doc_id < b.doc_id),
            |sz AS (SELECT doc_id, COUNT(*) AS sz FROM shu GROUP BY doc_id),
            |dfc AS (SELECT s FROM shu GROUP BY s HAVING COUNT(*) <= $LshRecallDfCap),
            |kept AS (SELECT shu.doc_id, shu.s, sz.sz FROM shu
            |         JOIN dfc ON dfc.s = shu.s JOIN sz ON sz.doc_id = shu.doc_id),
            |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sa, b.sz AS sb,
            |         COUNT(*) AS shared
            |       FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
            |         AND CAST(least(a.sz, b.sz) AS DOUBLE) / greatest(a.sz, b.sz) >= $LshRecallFloor
            |       GROUP BY 1, 2, 3, 4),
            |truth AS (SELECT id_a, id_b,
            |            CAST(shared AS DOUBLE) / (sa + sb - shared) AS j
            |          FROM pr
            |          WHERE CAST(shared AS DOUBLE) / (sa + sb - shared) >= $LshRecallFloor),
            |dec AS (SELECT CAST(least(floor(j * 10), 9) AS BIGINT) AS decile,
            |          CASE WHEN lshp.la IS NOT NULL THEN 1 ELSE 0 END AS caught
            |        FROM truth LEFT JOIN lshp
            |          ON lshp.la = truth.id_a AND lshp.lb = truth.id_b)
            |SELECT decile, COUNT(*) AS n_truth,
            |  CAST(SUM(caught) AS BIGINT) AS n_caught,
            |  CAST(SUM(caught) * 1000000 // COUNT(*) AS BIGINT) AS recall_e6
            |FROM dec GROUP BY decile ORDER BY decile""".stripMargin),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val shUdf = udf { (text: String) =>
        val toks = text.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
        MinHash.shingles(toks).distinct.toArray
      }
      val posting = docs.select($"doc_id", shUdf($"text").as("shs"))
        .filter(size($"shs") > 0)
        .select($"doc_id", size($"shs").as("sz"), explode($"shs").as("gram"))
      val kept = dfCapKept(posting, Seq("gram"), LshRecallDfCap, hotPreFilter = false,
        n => s"c2_lsh_recall: dropped $n shingles with df > $LshRecallDfCap from " +
          "truth-pair generation (recall becomes an estimate over the " +
          "surviving pairs; the LSH side is unaffected)")
      val left = kept.select($"doc_id".as("id_a"), $"sz".as("sa"), $"gram")
      val right = kept.select($"doc_id".as("id_b"), $"sz".as("sb"), $"gram".as("gram_r"))
      val truth = left.join(right,
          $"gram" === $"gram_r" && $"id_a" < $"id_b" &&
          least($"sa", $"sb").cast(DoubleType) / greatest($"sa", $"sb") >= LshRecallFloor)
        .groupBy($"id_a", $"id_b", $"sa", $"sb")
        .agg(count(lit(1)).as("shared"))
        .withColumn("j", $"shared".cast(DoubleType) / ($"sa" + $"sb" - $"shared"))
        .filter($"j" >= LshRecallFloor)
      val idx = CacheRegistry.persist(TierC.lshIndex(docs))
      val lshp = idx.select($"doc_id".as("la"), $"band_id", $"band_hash")
        .join(idx.select($"doc_id".as("lb"), $"band_id".as("bid_r"), $"band_hash".as("bh_r")),
          $"band_id" === $"bid_r" && $"band_hash" === $"bh_r" && $"la" < $"lb")
        .select($"la", $"lb").distinct()
      truth.join(lshp, $"id_a" === $"la" && $"id_b" === $"lb", "left")
        .select(least(floor($"j" * 10), lit(9)).cast(LongType).as("decile"),
          when($"la".isNotNull, 1L).otherwise(0L).as("caught"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_truth"), sum($"caught").as("n_caught"),
          expr("sum(caught) * 1000000 div count(1)").as("recall_e6"))
        .orderBy($"decile")
    }
  )

  // ----------------------------------------- split-leakage audit (c1)
  /** Near-dup split-leakage audit — the measurement HALF of the
    * cluster-safe-split story: `c1d` keys the train/val/test draw on the
    * exact-text fingerprint, so byte-identical dups never straddle — but
    * NEAR-dups hash to different fingerprints and leak freely; `c1j`
    * fixes that by drawing on the near-dup CLUSTER id. This operator
    * quantifies what c1j prevents: every Jaccard ≥ 0.3 pair labeled with
    * its two endpoints' c1d splits (name-sorted), counted per combo —
    * the off-diagonal rows ARE the leak. Shape: the audited pair mine +
    * two doc_id equi-joins against the map-side split assignment + one
    * partial-aggregated count.
    */
  private val c1r = QuerySpec(
    "c1r_split_leakage",
    s"Split-leakage audit: Jaccard>=$ClusterThreshold near-dup pairs labeled with both endpoints' c1d hash splits (least/greatest name order), counted per combo — off-diagonal rows quantify the leakage c1j's cluster-safe split prevents; pair mine + two doc_id joins + one count.",
    Some(s"""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            b AS (SELECT doc_id, source,
              list_distinct(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS grams
              FROM t WHERE len(toks) >= 2),
            prs AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b
              FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
              WHERE CAST(len(list_intersect(a.grams, c.grams)) AS DOUBLE)
                    / len(list_distinct(a.grams || c.grams)) >= $ClusterThreshold),
            sp AS (SELECT doc_id,
              CASE WHEN substr(md5(array_to_string(list_filter(
                       string_split(lower(text), ' '), s -> s <> ''), ' ')), 1, 1)
                     BETWEEN '0' AND 'b' THEN 'train'
                   WHEN substr(md5(array_to_string(list_filter(
                       string_split(lower(text), ' '), s -> s <> ''), ' ')), 1, 1)
                     IN ('c', 'd') THEN 'val'
                   ELSE 'test' END AS split
              FROM documents)
            SELECT least(sa.split, sb.split) AS split_lo,
              greatest(sa.split, sb.split) AS split_hi,
              COUNT(*) AS n_pairs
            FROM prs
            JOIN sp sa ON sa.doc_id = prs.id_a
            JOIN sp sb ON sb.doc_id = prs.id_b
            GROUP BY 1, 2 ORDER BY split_lo, split_hi"""),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val norm = array_join(filter(split(lower($"text"), " "), t => t =!= ""), " ")
      val sp = docs.select($"doc_id",
        when(substring(md5(norm), 1, 1).between("0", "b"), "train")
          .when(substring(md5(norm), 1, 1).isin("c", "d"), "val")
          .otherwise("test").as("split"))
      val prs = ngramJaccardPairsRaw(s, docs, ClusterThreshold, NgramDfCap)
        .select($"id_a", $"id_b")
      prs
        .join(sp.select($"doc_id".as("id_a"), $"split".as("split_a")), "id_a")
        .join(sp.select($"doc_id".as("id_b"), $"split".as("split_b")), "id_b")
        .groupBy(least($"split_a", $"split_b").as("split_lo"),
          greatest($"split_a", $"split_b").as("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy($"split_lo", $"split_hi")
    }
  )

  // ------------------------------------------ embedding drift monitor
  /** Embedding-distribution drift — the vector twin of the text tier's
    * `c4_kl_drift`: per-dimension mean shift between two cohorts (here
    * vec_id parity standing in for old-model/new-model or week-N/week-N+1
    * batches) — the monitor that catches a silently retrained or
    * re-normalized upstream encoder before an ANN index built on the old
    * distribution degrades. Integer-exact: per-dim e6-quantized sums and
    * counts per cohort, shift = floor-mean difference — one posexplode +
    * one partial-aggregated shuffle on the dimension, order-free.
    */
  private val c3ed = QuerySpec(
    "c3_embed_drift",
    "Per-dimension embedding drift between vec_id-parity cohorts: e6-quantized sums/counts per cohort and the division-free cross-multiplied mean-shift numerator per dim — the retrained-encoder monitor; one posexplode + one shuffle on pos, all-integer.",
    Some("""WITH e AS (SELECT vec_id % 2 AS cohort,
              unnest(list_transform(embedding,
                v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT))) AS v6,
              unnest(generate_series(0, len(embedding) - 1)) AS pos
            FROM embeddings)
            SELECT CAST(pos AS BIGINT) AS pos,
              CAST(COUNT(CASE WHEN cohort = 0 THEN 1 END) AS BIGINT) AS n_a,
              CAST(COUNT(CASE WHEN cohort = 1 THEN 1 END) AS BIGINT) AS n_b,
              CAST(SUM(CASE WHEN cohort = 0 THEN v6 ELSE 0 END) AS BIGINT) AS sum_a_e6,
              CAST(SUM(CASE WHEN cohort = 1 THEN v6 ELSE 0 END) AS BIGINT) AS sum_b_e6,
              CAST(SUM(CASE WHEN cohort = 0 THEN v6 ELSE 0 END) AS BIGINT)
                * COUNT(CASE WHEN cohort = 1 THEN 1 END)
              - CAST(SUM(CASE WHEN cohort = 1 THEN v6 ELSE 0 END) AS BIGINT)
                * COUNT(CASE WHEN cohort = 0 THEN 1 END) AS shift_num
            FROM e GROUP BY pos ORDER BY pos"""),
    (s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .select(($"vec_id" % 2).as("cohort"),
          posexplode($"embedding").as(Seq("pos", "v")))
        .select($"cohort", $"pos".cast(LongType).as("pos"),
          floor($"v".cast(DoubleType) * 1000000.0).cast(LongType).as("v6"))
        .groupBy($"pos")
        .agg(
          count(when($"cohort" === 0, 1)).as("n_a"),
          count(when($"cohort" === 1, 1)).as("n_b"),
          sum(when($"cohort" === 0, $"v6").otherwise(0L)).as("sum_a_e6"),
          sum(when($"cohort" === 1, $"v6").otherwise(0L)).as("sum_b_e6"))
        // exact mean-shift NUMERATOR over the common denominator n_a·n_b
        // — sums go negative and Spark's `div` truncates while DuckDB's
        // `//` floors, so any per-cohort integer division would diverge on
        // negative dims; the cross-multiplied form is division-free.
        // Overflow bound: |sum|·n ≤ (n·2e6)·n — fine to n ≈ 2×10⁶ rows per
        // cohort in BIGINT; beyond that move both sides to DECIMAL(38,0).
        .withColumn("shift_num",
          $"sum_a_e6" * $"n_b" - $"sum_b_e6" * $"n_a")
        .orderBy($"pos")
    }
  )

  // ------------------------------------------- ANN recall@k diagnostic
  /** Recall@k of every approximate index against the brute-force truth —
    * the tuning view `c2_jaccard_hist` gives dedup, for ANN (VERDICT r11
    * #3): per method (LSH buckets, IVF nprobe=1, IVF nprobe=2), the
    * fraction of the exact cosine top-[[RecallK]] each index recovers,
    * over a bounded deterministic QUERY sample.
    *
    * Scale shape: the exact-truth arm is inherently brute-force (that is
    * what makes it the truth), so it runs for [[RecallQueries]] md5-
    * sampled queries ONLY — the 256-row query side rides a broadcast and
    * the corpus streams past it once (linear in N, never N²; a recall
    * diagnostic over ALL queries would be the full quadratic scan the
    * indexes exist to avoid). The index arms reuse the engine's own
    * structures — the LSH bucket equi-join, the IVF home-cell equi-join,
    * and the nprobe=2 probe explode (candidates stay in their single home
    * cell, so a pair meets at most once) — restricted to the same query
    * sample. Hit counting is an equi-join on (id_a, id_b): integers only.
    *
    * Determinism: every ranking is (score DESC, id_b) over bit-replayable
    * left-fold cosine chains (the c3_ivf/c3_ann_lsh precedent), the query
    * sample is the (md5(vec_id), vec_id) total order, and recall_e6 is
    * ONE floor-quantized division of exact integers.
    */
  private val RecallK = 5
  private val RecallQueries = 256
  private def c3rcOracle: String = {
    import AnnSql._
    val signRows = (0 until 24).map { p =>
      val sg = (0 until dim).map(i => if (planeSign(p, i) > 0) 1 else -1)
        .mkString("[", ",", "]")
      s"($p, ${1 << p}, $sg)"
    }.mkString(", ")
    val acc = chain((1 to dim).map(d =>
      s"CAST(e.embedding[$d] AS DOUBLE) * CAST(s.sg[$d] AS DOUBLE)"))
    def rerank(name: String, from: String): String =
      s"""$name AS (SELECT id_a, id_b FROM (
         |  SELECT qa.vec_id AS id_a, b.vec_id AS id_b,
         |    row_number() OVER (PARTITION BY qa.vec_id
         |      ORDER BY ((${dotp("ea", "eb")}) / (sqrt(ea.n2) * sqrt(eb.n2))) DESC, b.vec_id) AS rn
         |  $from
         |  JOIN corpus ea ON ea.vec_id = qa.vec_id
         |  JOIN corpus eb ON eb.vec_id = b.vec_id
         |  WHERE qa.vec_id IN (SELECT vec_id FROM qs)) WHERE rn <= $RecallK)""".stripMargin
    s"""WITH RECURSIVE
       |${AnnSql.prefix},
       |${asgCte("asg", "seeds0")},
       |pr AS (SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, s.j AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ($simM) DESC, s.j ASC) AS rn
       |  FROM corpus e CROSS JOIN seeds0 s) WHERE rn <= 2),
       |np AS (SELECT least(24, greatest(1,
       |    CAST(ceil(ln(greatest(1.0, count(*) / 64.0)) / ln(2.0)) AS BIGINT))) AS planes
       |  FROM corpus),
       |signs AS (SELECT * FROM (VALUES $signRows) t(p, pw, sg)),
       |buck AS (
       |  SELECT e.vec_id, CAST(SUM(CASE WHEN ($acc) >= 0.0 THEN s.pw ELSE 0 END) AS INTEGER) AS bucket
       |  FROM corpus e JOIN signs s ON s.p < (SELECT planes FROM np)
       |  GROUP BY e.vec_id),
       |qs AS (SELECT vec_id FROM corpus
       |       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $RecallQueries),
       |${rerank("et", "FROM corpus qa JOIN corpus b ON qa.vec_id <> b.vec_id")},
       |${rerank("ivf1", "FROM asg qa JOIN asg b ON qa.cell = b.cell AND qa.vec_id <> b.vec_id")},
       |${rerank("ivf2", "FROM pr qa JOIN asg b ON qa.cell = b.cell AND qa.vec_id <> b.vec_id")},
       |${rerank("lshk", "FROM buck qa JOIN buck b ON qa.bucket = b.bucket AND qa.vec_id <> b.vec_id")},
       |nq AS (SELECT count(*) AS n FROM qs),
       |h AS (
       |  SELECT 'ivf_np1' AS method, count(*) AS hits FROM ivf1 JOIN et USING (id_a, id_b)
       |  UNION ALL
       |  SELECT 'ivf_np2', count(*) FROM ivf2 JOIN et USING (id_a, id_b)
       |  UNION ALL
       |  SELECT 'lsh', count(*) FROM lshk JOIN et USING (id_a, id_b))
       |SELECT method, CAST(nq.n AS BIGINT) AS n_query, CAST(hits AS BIGINT) AS hits,
       |  CAST(floor(CAST(hits AS DOUBLE) * 1000000.0
       |    / (CAST(nq.n AS DOUBLE) * $RecallK.0)) AS BIGINT) AS recall_e6
       |FROM h CROSS JOIN nq ORDER BY method""".stripMargin
  }
  private val c3rc = QuerySpec(
    "c3_recall",
    s"ANN recall@$RecallK diagnostic: LSH, IVF nprobe=1, and IVF nprobe=2 candidate sets re-ranked and intersected with the brute-force cosine top-$RecallK over a $RecallQueries-query md5 sample — (method, n_query, hits, recall_e6); the truth arm streams the corpus past a broadcast query sample, linear in N.",
    Some(c3rcOracle),
    (s, d) => {
      import s.implicits._
      // (Par.spread on this cache was A/B'd r18 and REVERTED: warm 2.12 s
      // unspread vs 3.93 s spread — the repartition exchanges the float
      // vectors (86 KiB -> 2.3 MiB shuffle) and the arms' map work is
      // already cheap enough that the extra exchange + cache rebuild
      // dominates. The pq/ADC case is different: its per-pair LUT work is
      // heavy enough to pay for the exchange.)
      val e = CacheRegistry.persist(Tables.embeddings(s, d)
        .select($"vec_id", $"embedding", TierC.dot($"embedding", $"embedding").as("n2")))
      val n = e.count()
      val planes = lshPlanes(n)
      val seeds = graft.functions.VectorExprs.broadcastSeeds(s,
        ivfSeeds(s, e, ivfCells(n), 1024))
      val assigned = CacheRegistry.persist(e
        .withColumn("cell", cellAssignCol(seeds))
        .withColumn("bucket", bucketUdf(planes)($"embedding")))
      val nq = math.min(n, RecallQueries.toLong)
      val qIds = assigned
        .withColumn("h", md5($"vec_id".cast(StringType)))
        .orderBy($"h", $"vec_id").limit(RecallQueries)
        .select($"vec_id".as("qid"))
      val qa = CacheRegistry.persist(
        assigned.join(broadcast(qIds), $"vec_id" === $"qid")
          .select($"vec_id".as("id_a"), $"embedding".as("ea"), $"n2".as("na2"),
            $"cell", $"bucket"))
      val cand = assigned.select($"vec_id".as("id_b"), $"embedding".as("eb"),
        $"n2".as("nb2"), $"cell".as("cell_r"), $"bucket".as("bucket_r"))
      def topk(pairs: DataFrame): DataFrame = {
        val w = Window.partitionBy($"id_a").orderBy($"score".desc, $"id_b")
        pairs
          .withColumn("score", TierC.dot($"ea", $"eb") / (sqrt($"na2") * sqrt($"nb2")))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= RecallK)
          .select($"id_a", $"id_b")
      }
      // truth arm: 256-row query side broadcast, corpus streams past once
      val et = CacheRegistry.persist(topk(
        cand.join(broadcast(qa.select($"id_a", $"ea", $"na2")), $"id_a" =!= $"id_b")))
      val ivf1 = topk(qa.drop("bucket")
        .join(cand, $"cell" === $"cell_r" && $"id_a" =!= $"id_b"))
      val qa2 = assigned.join(broadcast(qIds), $"vec_id" === $"qid")
        .select($"vec_id".as("id_a"), $"embedding".as("ea"), $"n2".as("na2"),
          explode(graft.functions.VectorExprs.nearestSeedsF(
            $"embedding", $"n2", seeds, 2)).as("cell"))
      val ivf2 = topk(qa2.join(cand, $"cell" === $"cell_r" && $"id_a" =!= $"id_b"))
      val lshk = topk(qa.drop("cell")
        .join(cand, $"bucket" === $"bucket_r" && $"id_a" =!= $"id_b"))
      def hitsOf(m: String, approx: DataFrame): DataFrame =
        approx.join(et, Seq("id_a", "id_b"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(m).as("method"), lit(nq).as("n_query"), $"hits",
            floor($"hits".cast(DoubleType) * 1000000.0
              / lit(nq.toDouble * RecallK)).cast(LongType).as("recall_e6"))
      hitsOf("ivf_np1", ivf1)
        .unionAll(hitsOf("ivf_np2", ivf2))
        .unionAll(hitsOf("lsh", lshk))
        .orderBy($"method")
    }
  )

  // ------------------------------------------- binary (sign) quantization
  /** 1-bit embedding quantization + Hamming-distance kNN — the cheapest
    * point on the quantization curve after PQ (`c3_pq`) and int8
    * (`c3_quantize`): each 64-float vector becomes 64 sign bits packed
    * into two 32-bit halves (two halves, not one 64-bit word, because
    * `acc*2` on a full 64-bit accumulator would overflow the sign bit
    * under ANSI arithmetic), and top-3 neighbors per vector are found by
    * `bit_count(xor)` within the label block.
    *
    * Why it matters at 100 TB: the candidate join shuffles 16 BYTES per
    * vector (2 longs) instead of 256 (64 floats) — a 16× shuffle-payload
    * cut — and the distance is two XOR+POPCNT instructions instead of 64
    * FMAs; this is the standard first-stage filter in front of an exact
    * re-rank (`c3_rerank` proves the second stage). Packing is map-side
    * codegen (`aggregate` HOF over the array — a tight generated loop).
    *
    * Exactness: bit arithmetic end-to-end — the oracle replays the
    * distance as the unrolled 64-term sign-disagreement chain, which is
    * definitionally equal to popcount(xor) of the packed words.
    */
  private def hamChain(l: String, r: String): String =
    (1 to 64).map(i =>
      s"CAST(($l.embedding[$i] > 0) <> ($r.embedding[$i] > 0) AS BIGINT)")
      .mkString("(", " + ", ")")

  private val c3bh = QuerySpec(
    "c3_binary_hamming",
    "Binary (sign-bit) embedding quantization + Hamming top-3 per vector within the label block: 64 bits packed into two 32-bit words map-side, distance = bit_count(xor) — 16 bytes per vector through the candidate join instead of 256.",
    Some(s"""WITH p AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
              ${hamChain("a", "b")} AS hamming
              FROM embeddings a JOIN embeddings b
                ON a.label = b.label AND a.vec_id <> b.vec_id),
            r AS (SELECT ida, idb, hamming,
              ROW_NUMBER() OVER (PARTITION BY ida ORDER BY hamming, idb) AS rn
              FROM p)
            SELECT ida, idb, hamming, rn FROM r WHERE rn <= 3
            ORDER BY ida, rn"""),
    (s, d) => {
      import s.implicits._
      def packHalf(off: Int): Column =
        aggregate(slice($"embedding", off + 1, 32), lit(0L),
          (acc, x) => acc * 2 + when(x > lit(0f), 1L).otherwise(0L))
      val packed = CacheRegistry.persist(Tables.embeddings(s, d)
        .select($"vec_id", $"label", packHalf(0).as("h0"), packHalf(32).as("h1")))
      val a = packed.select($"vec_id".as("ida"), $"label",
        $"h0".as("a0"), $"h1".as("a1"))
      val b = packed.select($"vec_id".as("idb"), $"label".as("label_b"),
        $"h0".as("b0"), $"h1".as("b1"))
      val w = Window.partitionBy($"ida").orderBy($"hamming", $"idb")
      a.join(b, $"label" === $"label_b" && $"ida" =!= $"idb")
        .withColumn("hamming",
          (bit_count($"a0".bitwiseXOR($"b0")) +
            bit_count($"a1".bitwiseXOR($"b1"))).cast(LongType))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter($"rn" <= 3)
        .select($"ida", $"idb", $"hamming", $"rn")
        .orderBy($"ida", $"rn")
    }
  )

  // --------------------------------- Johnson-Lindenstrauss ±1 projection
  /** Sparse random projection (Achlioptas ±1 variant of JL): 64-dim
    * embeddings down to 16 dims through a deterministic ±1 sign matrix
    * derived from md5("rp:i:j") — both engines compute the identical
    * matrix from the string hash, no RNG state anywhere. Inputs are
    * quantized once (`floor(v·1e6)` per element, the repo's standard
    * float fixed-point), so every projected coordinate is an exact
    * 64-term signed integer sum — order-free, hash-replayable.
    *
    * Scale shape: the sign matrix is a PLAN CONSTANT (16 literal arrays
    * riding the closure, not a join input), so the whole projection is
    * map-side codegen — zero shuffles, zero driver traffic; the classic
    * use is shrinking the vector payload 4× before an expensive
    * clustering/pair stage (`c3_kmeans`, `c2_embed_neardup`). The naive
    * alternative (posexplode + join against a sign table + re-group)
    * would shuffle N×64 rows to rebuild what a generated loop computes
    * in place.
    */
  private def rpSign(i: Int, j: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$i:$j".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0xf) < 8) 1L else -1L
  }

  private val c3rp = QuerySpec(
    "c3_rand_proj",
    "Sparse ±1 random projection (JL, Achlioptas): 64-dim embeddings to 16 exact fixed-point dims via an md5-derived sign matrix riding the plan as literals — map-side only; outputs dims 0-3 plus the 16-dim L1 mass.",
    Some("""WITH s AS (SELECT i.i, j.j,
              CASE WHEN substr(md5('rp:' || CAST(i.i AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), 1, 1)
                   BETWEEN '0' AND '7' THEN 1 ELSE -1 END AS sgn
              FROM (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS i) i
              CROSS JOIN (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS j) j),
            q AS (SELECT vec_id, x.i,
              CAST(FLOOR(CAST(embedding[CAST(x.i + 1 AS INTEGER)] AS DOUBLE) * 1000000.0) AS BIGINT) AS qv
              FROM embeddings CROSS JOIN (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS i) x),
            pr AS (SELECT vec_id, s.j, CAST(SUM(q.qv * s.sgn) AS BIGINT) AS p
              FROM q JOIN s ON q.i = s.i GROUP BY vec_id, s.j)
            SELECT vec_id,
              CAST(SUM(CASE WHEN j = 0 THEN p END) AS BIGINT) AS p0,
              CAST(SUM(CASE WHEN j = 1 THEN p END) AS BIGINT) AS p1,
              CAST(SUM(CASE WHEN j = 2 THEN p END) AS BIGINT) AS p2,
              CAST(SUM(CASE WHEN j = 3 THEN p END) AS BIGINT) AS p3,
              CAST(SUM(ABS(p)) AS BIGINT) AS l1_16
            FROM pr GROUP BY vec_id ORDER BY vec_id"""),
    (s, d) => {
      import s.implicits._
      def proj(j: Int): Column = {
        val signs = (0 until 64).map(i => rpSign(i, j)).toArray
        aggregate(
          zip_with($"embedding", typedLit(signs),
            (x, sg) => floor(x * lit(1000000.0)) * sg),
          lit(0L), (acc, x) => acc + x)
      }
      val projs = (0 until 16).map(j => proj(j).as(s"p$j"))
      Tables.embeddings(s, d)
        .select(($"vec_id" +: projs): _*)
        .select($"vec_id", $"p0", $"p1", $"p2", $"p3",
          (2 until 16).map(j => abs(col(s"p$j")))
            .foldLeft(abs($"p0") + abs($"p1"))(_ + _).as("l1_16"))
        .orderBy($"vec_id")
    }
  )

  // ------------------------------------------------ k-core decomposition
  /** 2-core of the BOILERPLATE CO-OCCURRENCE graph by synchronous peeling
    * — the graph-analytics companion to triangles (`c2_triangles`) and
    * LPA (`c2_lpa`). Nodes are documents; an edge links two documents
    * that share at least one duplicated 8-token chunk (the
    * `c4_chunk_dedup` fingerprint). Each peel round drops EVERY node of
    * degree < 2 at once, then restricts the edge list to survivors;
    * after `KcoreRounds` rounds the survivors with their residual degree
    * are the declared output. The 2-core is the standard "dense
    * duplication neighborhood" extract: chains and stars (one template
    * line linking otherwise unrelated docs) peel away, mutually-copying
    * clusters remain. (The Jaccard≥0.3 graph was measured cycle-free on
    * this corpus — a k-core over it is vacuous, which is itself the
    * reason real pipelines build this graph at CHUNK granularity.)
    *
    * Scale shape: the pair mine is the df-capped inverted-index join
    * every c2 query rides — only fingerprints with 2..`ChunkGraphDfCap`
    * distinct docs generate pairs, so a viral boilerplate chunk can
    * never go quadratic (the cap is part of the declared contract and
    * replayed by the oracle). Per peel round: one partial-agged degree
    * count plus two ANTI joins of the edge list against the round's
    * REMOVED fringe (deg<2) — the fringe is the small side in every
    * round after the first, so AQE broadcast-antis it and the edge list
    * streams instead of shuffling; never a window. Each round's frame goes
    * through an eager lineage barrier (the b52/starComponents discipline — see
    * the measured 2^rounds blowup note at the loop) so round k+1 reads a
    * materialized edge list, not a twice-referenced growing join tree.
    * Synchronous peel shrinks monotonically; the round count is a
    * declared constant (like LpaIters), so the oracle unrolls the
    * identical rounds as CTEs.
    */
  private val KcoreRounds = 4
  private[graft] val ChunkGraphDfCap = envCap("SPARK_GRAFT_CHUNK_GRAPH_DF_CAP", 64)

  // MATERIALIZED: e{k-1} and k{k} are each referenced twice per round, so
  // DuckDB's default CTE inlining re-expands the whole peel chain at every
  // reference (40.9 s at sf0.001, over OracleBudgetSpec's budget); pinned,
  // each round evaluates once (0.05 s, same rows).
  private def kcoreRoundCtes(rounds: Int): String =
    (1 to rounds).map { k =>
      s"""k$k AS MATERIALIZED (SELECT s FROM e${k - 1} GROUP BY s HAVING COUNT(*) >= 2),
         |            e$k AS MATERIALIZED (SELECT e.s, e.d FROM e${k - 1} e
         |              JOIN k$k a ON e.s = a.s JOIN k$k b ON e.d = b.s)""".stripMargin
    }.mkString(",\n            ")

  private val c2kc = QuerySpec(
    "c2_kcore",
    s"2-core of the boilerplate co-occurrence graph (docs sharing a duplicated 8-token chunk, df-capped at $ChunkGraphDfCap) via $KcoreRounds synchronous peel rounds — doc_id + residual degree; template chains and stars peel away, mutually-copying clusters remain.",
    Some(s"""WITH t AS (SELECT doc_id,
              list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents),
            ch AS (SELECT doc_id,
              CAST(unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS BIGINT) AS idx,
              toks FROM t WHERE len(toks) > 0),
            inst AS (SELECT DISTINCT doc_id,
              md5(array_to_string(toks[idx*8+1 : idx*8+8], ' ')) AS fp
              FROM ch),
            fpk AS (SELECT fp FROM inst GROUP BY fp
              HAVING COUNT(*) BETWEEN 2 AND $ChunkGraphDfCap),
            p AS (SELECT i.doc_id, i.fp FROM inst i JOIN fpk USING (fp)),
            prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            e0 AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM prs
                   UNION ALL SELECT id_b, id_a FROM prs),
            ${kcoreRoundCtes(KcoreRounds)}
            SELECT s AS doc_id, COUNT(*) AS deg
            FROM e$KcoreRounds GROUP BY s ORDER BY doc_id"""),
    (s, d) => {
      import s.implicits._
      val toks = filter(split(lower($"text"), " "), t => t =!= "")
      // persisted: the (doc, fp) posting list feeds BOTH the df-cap
      // derivation and the pair join — without the barrier the corpus
      // chunk explode + distinct runs twice
      val inst = CacheRegistry.persist(Tables.documents(s, d)
        .select($"doc_id", toks.as("toks")).filter(size($"toks") > 0)
        .select($"doc_id", explode(transform(
          sequence(lit(0L), ceil(size($"toks") / 8.0).cast(LongType) - 1),
          j => md5(array_join(slice($"toks", (j * 8 + 1).cast(IntegerType), lit(8)), " ")))).as("fp"))
        .distinct())
      val fpdf = CacheRegistry.persist(
        inst.groupBy($"fp").agg(count(lit(1)).as("dfc")))
      // no-silent-caps: count + record the hot chunks the cap excludes
      // (deferred to post-action, r18 — see dfCapKept)
      graft.CapStats.recordDeferred("c2_kcore")(
        fpdf.filter($"dfc" > ChunkGraphDfCap).count()) { nHot =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"c2_kcore: dropped $nHot chunk fingerprints with df > $ChunkGraphDfCap " +
            "from the co-occurrence graph (boilerplate mega-chunks carry no " +
            "copying signal; the 2-core is computed over the surviving edges)")
      }
      val fpk = fpdf.filter($"dfc" >= 2 && $"dfc" <= ChunkGraphDfCap).select($"fp")
      val posting = CacheRegistry.persist(inst.join(fpk, "fp"))
      val prs = posting.select($"fp", $"doc_id".as("id_a"))
        .join(posting.select($"fp".as("fp_b"), $"doc_id".as("id_b")),
          $"fp" === $"fp_b" && $"id_a" < $"id_b")
        .groupBy($"id_a", $"id_b").agg(count(lit(1)).as("shared"))
      // eager lineage barrier per round, NOT persist: every round references
      // the previous edge list TWICE (fringe aggregate + the anti join), so an
      // un-truncated plan DOUBLES per round — measured 1.7 s (1 round) →
      // 3.2 (2) → 15.8 (4) at sf0.001 with lazy persist, i.e. 2^rounds
      // recomputation; the b52/starComponents lineage discipline cuts it
      // back to linear.
      var e = Par.barrier(prs.select($"id_a".as("s"), $"id_b".as("d"))
        .unionAll(prs.select($"id_b".as("s"), $"id_a".as("d"))), eager = true)
      var converged = false
      (1 to KcoreRounds).foreach { _ =>
        // peel via ANTI joins against the round's REMOVED fringe (deg<2),
        // not inner joins against the (graph-sized) survivor set: the
        // fringe is the small side in every round after the first, so AQE
        // picks a broadcast anti join from runtime stats — per round the
        // edge list is then never shuffled, only streamed. Semantics are
        // identical (keep = not-in-fringe; every node appears as `s` in
        // the symmetric list, so the degree table covers all of them).
        // Early exit (r17): peeling is monotone, so an EMPTY fringe means
        // every remaining round is a no-op — e is already the k-core and
        // the skipped rounds would reproduce it bit-for-bit (the oracle's
        // unrolled CTEs agree: k_i selects everything, e_i = e_{i-1}).
        // The fringe is checkpointed anyway to feed both anti joins, so
        // the emptiness probe costs one take(1) on materialized rows.
        if (!converged) {
          val bad = Par.barrier(e.groupBy($"s").agg(count(lit(1)).as("deg"))
            .filter($"deg" < 2).select($"s".as("k")), eager = true)
          if (bad.isEmpty) converged = true
          else e = Par.barrier(e.join(bad, $"s" === $"k", "left_anti")
            .join(bad.select($"k".as("kd")), $"d" === $"kd", "left_anti"), eager = true)
        }
      }
      e.groupBy($"s").agg(count(lit(1)).as("deg"))
        .select($"s".as("doc_id"), $"deg")
        .orderBy($"doc_id")
    }
  )

  // --------------------------------------- per-channel int8 quantization
  /** Per-CHANNEL symmetric int8 quantization — the production GEMM
    * calibration next to [[c3z]]'s per-vector scheme: one scale per
    * DIMENSION (`mx_j = max_i |v_ij|` over the corpus), code `⌊v·127/
    * mx_j⌋`. Per-vector scaling wastes range on whichever dimension the
    * vector happens to peak in; per-channel keeps each dimension's full
    * int8 range, which is why inference runtimes calibrate this way.
    *
    * Scale shape: the calibration pass is a posexplode → per-dimension
    * max — N×64 NARROW rows with map-side partial agg collapsing to 64
    * rows per task before the one exchange (the c3_dimstats shuffle);
    * the 64 scales then fold into ONE array row that broadcasts, and the
    * quantization itself is a map-side zip_with. Nothing corpus-sized
    * ever sits anywhere but the scan.
    */
  private val c3zc = QuerySpec(
    "c3_quantize_channel",
    "Per-channel symmetric int8 quantization: one max-abs scale per dimension (posexplode + partial-agged per-dim max, 64 scales folded to one broadcast array row), codes floor(v*127/mx_j) map-side; per-vector code sum/min/max, zero-scale dims code to 0.",
    Some("""WITH pe AS (SELECT vec_id, x.i,
              CAST(embedding[CAST(x.i + 1 AS INTEGER)] AS DOUBLE) AS v
              FROM embeddings CROSS JOIN (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS i) x),
            dm AS (SELECT i, MAX(abs(v)) AS mx FROM pe GROUP BY i),
            sc AS (SELECT list(mx ORDER BY i) AS scales FROM dm),
            q AS (SELECT vec_id,
              list_transform(range(1, 65), k -> CASE WHEN scales[k] = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(CAST(embedding[CAST(k AS INTEGER)] AS DOUBLE) * 127.0 / scales[k]) AS BIGINT) END) AS qs
              FROM embeddings CROSS JOIN sc)
            SELECT vec_id, CAST(list_sum(qs) AS BIGINT) AS sum_q,
              CAST(list_min(qs) AS BIGINT) AS min_q,
              CAST(list_max(qs) AS BIGINT) AS max_q
            FROM q ORDER BY vec_id"""),
    (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val dm = emb
        .select($"vec_id", posexplode($"embedding"))
        .groupBy($"pos").agg(max(abs($"col".cast(DoubleType))).as("mx"))
      val sc = dm.agg(sort_array(collect_list(struct($"pos", $"mx"))).as("sm"))
        .select(transform($"sm", e => e.getField("mx")).as("scales"))
      emb.crossJoin(broadcast(sc))
        .select($"vec_id", zip_with($"embedding", $"scales", (v, mx) =>
          when(mx === 0.0, lit(0L))
            .otherwise(floor(v.cast(DoubleType) * 127.0 / mx))).as("qs"))
        .select($"vec_id",
          aggregate($"qs", lit(0L), (a, b) => a + b).as("sum_q"),
          array_min($"qs").as("min_q"), array_max($"qs").as("max_q"))
        .orderBy($"vec_id")
    }
  )

  // ------------------------------------------------- HITS on content reuse
  /** HITS hubs/authorities over the DIRECTED content-reuse graph — the
    * provenance diagnostic the undirected near-dup family can't give.
    * Edge u→v: document u contains a duplicated 8-token chunk (the
    * `c4_chunk_dedup` fingerprint) whose corpus-wide FIRST owner
    * (min doc_id) is v ≠ u. Authorities = original sources whose content
    * spreads (heavily copied seeds); hubs = aggregator/scraper docs
    * assembled from many originals. PageRank on the undirected Jaccard
    * graph ranks "well-connected"; HITS on this graph separates WHO
    * ORIGINATED from WHO COLLECTED — the pair of lists a dedup pipeline
    * uses to pick canonical survivors and to down-weight scrapers.
    *
    * Scale shape: NO pair mine at all — each chunk instance contributes
    * at most one (copier, owner) edge via one min-agg on the fingerprint
    * (partial-agged; a boilerplate chunk duplicated 10⁹ times folds
    * map-side into one owner row) plus one instance⋈owner equi-join on
    * fp, then a distinct. |E| ≤ duplicated-instance count, never
    * quadratic. Each of the 3 fixed iterations is two equi-join+agg
    * passes over the cached edge frame; the sum-normalizers are one-row
    * aggregates riding broadcast cross-joins (the b-tier single-row
    * precedent). All arithmetic integer (1.0 = 1e6, floor-div
    * normalization), so shuffle order can't move a ulp and the oracle
    * unrolls the same 3 rounds as CTEs.
    */
  private val HitsIters = 3
  // MATERIALIZED: each iteration's raw sums and ranks are referenced twice
  // (normalizer + rank join, next iteration + final select), and e/n in
  // every iteration; inlined, DuckDB re-expands the chain per reference
  // (22.1 s at sf0.001 against 0.07 s pinned, same rows).
  private def hitsIterSql(i: Int): String =
    s"""hr$i AS MATERIALIZED (SELECT e.src AS id, SUM(a${i - 1}.v) AS raw
              FROM e JOIN a${i - 1} ON a${i - 1}.id = e.dst GROUP BY e.src),
            hs$i AS (SELECT COALESCE(SUM(raw), 0) AS s FROM hr$i),
            h$i AS MATERIALIZED (SELECT n.id,
              CAST(COALESCE(hr$i.raw, 0) * 1000000 // GREATEST(hs$i.s, 1) AS BIGINT) AS v
              FROM n LEFT JOIN hr$i ON hr$i.id = n.id CROSS JOIN hs$i),
            ar$i AS MATERIALIZED (SELECT e.dst AS id, SUM(h$i.v) AS raw
              FROM e JOIN h$i ON h$i.id = e.src GROUP BY e.dst),
            asum$i AS (SELECT COALESCE(SUM(raw), 0) AS s FROM ar$i),
            a$i AS MATERIALIZED (SELECT n.id,
              CAST(COALESCE(ar$i.raw, 0) * 1000000 // GREATEST(asum$i.s, 1) AS BIGINT) AS v
              FROM n LEFT JOIN ar$i ON ar$i.id = n.id CROSS JOIN asum$i)"""

  def contentReuseHits(s: SparkSession, docs: DataFrame, iters: Int): DataFrame = {
    import s.implicits._
    val inst = docs
      .select($"doc_id",
        expr("filter(split(lower(text), ' '), x -> x <> '')").as("toks"))
      .filter(size($"toks") > 0)
      .select($"doc_id", explode(transform(
        sequence(lit(0L), ceil(size($"toks") / 8.0).cast(LongType) - 1),
        j => md5(array_join(slice($"toks", (j * 8 + 1).cast(IntegerType), lit(8)), " "))))
        .as("fp"))
    val owner = inst.groupBy($"fp").agg(min($"doc_id").as("owner"))
    val e = CacheRegistry.persist(inst.join(owner, "fp")
      .filter($"doc_id" =!= $"owner")
      .select($"doc_id".as("src"), $"owner".as("dst")).distinct())
    val n = CacheRegistry.persist(docs.select($"doc_id".as("id")))
    var a = n.select($"id", lit(1000000L).as("v"))
    var h = a
    for (_ <- 1 to iters) {
      // eager lineage barrier per join-agg, the kcore/b52 discipline:
      // hraw/araw are each referenced TWICE (the normalizer's broadcast
      // build + the rank join), so un-materialized the recompute tree
      // branches ×4 per iteration — measured 54 jobs / 2.3 s of pure
      // Catalyst planning / 4.8 s total at sf0.1; checkpointing the two
      // |V|-row join-aggs pins each subtree to one evaluation and keeps
      // the plan flat (24 jobs / 1.3 s total, same output).
      val hraw = e.join(a.select($"id".as("aid"), $"v"), $"dst" === $"aid")
        .groupBy($"src").agg(sum($"v").as("raw"))
        .transform(Par.barrier(_, eager = true))
      val hsum = hraw.agg(coalesce(sum($"raw"), lit(0L)).as("s"))
      h = n.join(hraw, $"id" === $"src", "left").crossJoin(broadcast(hsum))
        .select($"id",
          expr("coalesce(raw, 0L) * 1000000 div greatest(s, 1L)").as("v"))
      val araw = e.join(h.select($"id".as("hid"), $"v"), $"src" === $"hid")
        .groupBy($"dst").agg(sum($"v").as("raw"))
        .transform(Par.barrier(_, eager = true))
      val asum = araw.agg(coalesce(sum($"raw"), lit(0L)).as("s"))
      a = n.join(araw, $"id" === $"dst", "left").crossJoin(broadcast(asum))
        .select($"id",
          expr("coalesce(raw, 0L) * 1000000 div greatest(s, 1L)").as("v"))
    }
    n.join(h.select($"id".as("hid"), $"v".as("hub_e6")), $"id" === $"hid")
      .join(a.select($"id".as("aid"), $"v".as("auth_e6")), $"id" === $"aid")
      .select($"id".as("doc_id"), $"hub_e6", $"auth_e6")
      .orderBy($"doc_id")
  }

  private val c2ht = QuerySpec(
    "c2_hits",
    s"HITS hubs/authorities over the directed content-reuse graph (chunk copier -> corpus-first owner, edges from one min-agg + one fp equi-join, never a pair mine): $HitsIters integer-quantized iterations (1.0 = 1e6, floor-div sum normalization); authorities = copied originals, hubs = scraper docs.",
    Some(s"""WITH t AS (SELECT doc_id,
              list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents),
            inst AS (SELECT doc_id,
              md5(array_to_string(toks[idx*8+1 : idx*8+8], ' ')) AS fp
              FROM (SELECT doc_id, toks,
                CAST(unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS BIGINT) AS idx
                FROM t WHERE len(toks) > 0)),
            ow AS (SELECT fp, MIN(doc_id) AS owner FROM inst GROUP BY fp),
            e AS MATERIALIZED (SELECT DISTINCT inst.doc_id AS src, ow.owner AS dst
              FROM inst JOIN ow ON inst.fp = ow.fp WHERE inst.doc_id <> ow.owner),
            n AS MATERIALIZED (SELECT doc_id AS id FROM documents GROUP BY doc_id),
            a0 AS (SELECT id, CAST(1000000 AS BIGINT) AS v FROM n),
            ${(1 to HitsIters).map(hitsIterSql).mkString(",\n            ")}
            SELECT n.id AS doc_id, h$HitsIters.v AS hub_e6, a$HitsIters.v AS auth_e6
            FROM n JOIN h$HitsIters ON h$HitsIters.id = n.id
            JOIN a$HitsIters ON a$HitsIters.id = n.id
            ORDER BY doc_id"""),
    (s, d) => contentReuseHits(s, Tables.documents(s, d), HitsIters)
  )

  // ------------------------------------- threshold sweep (tuning, c2ts)
  /** Dedup operating curve — the sweep `c2_jaccard_hist`'s histogram
    * implies but doesn't state: for each candidate threshold, how many
    * pairs survive AND how many distinct documents get touched (the
    * operational number — docs touched IS the mass a dedup pass at that
    * threshold would re-cluster). One pair mine at the 0.1 floor, then
    * nine conditional roll-ups; the pair set is bounded by the same
    * df-capped machinery as everything in this family, and the
    * per-threshold distinct-doc counts explode pairs ×9 thresholds — a
    * constant fan-out over an already-bounded set.
    */
  private val c2ts = QuerySpec(
    "c2_threshold_sweep",
    "Dedup threshold operating curve: pairs mined once at the 0.1 floor, then per-threshold (0.1..0.9) surviving-pair counts and exact distinct docs touched — the pair-count/doc-mass trade behind the production threshold.",
    Some(s"""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            b AS (SELECT doc_id, source,
              list_distinct(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS grams
              FROM t WHERE len(toks) >= 2),
            prs AS (SELECT a.doc_id AS ida, c.doc_id AS idb,
              CAST(len(list_intersect(a.grams, c.grams)) AS DOUBLE)
                / len(list_distinct(a.grams || c.grams)) AS j
              FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
              WHERE CAST(len(list_intersect(a.grams, c.grams)) AS DOUBLE)
                    / len(list_distinct(a.grams || c.grams)) >= 0.1),
            th AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS t10),
            sw AS (SELECT th.t10, prs.ida, prs.idb FROM prs JOIN th
                   ON prs.j >= CAST(th.t10 AS DOUBLE) / 10.0),
            e AS (SELECT t10, ida AS id FROM sw UNION ALL SELECT t10, idb FROM sw)
            SELECT t10 AS threshold_d10,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM sw s WHERE s.t10 = th.t10) AS n_pairs,
              (SELECT CAST(COUNT(DISTINCT id) AS BIGINT) FROM e WHERE e.t10 = th.t10) AS n_docs_touched
            FROM th ORDER BY threshold_d10"""),
    (s, d) => {
      import s.implicits._
      val pairs = CacheRegistry.persist(
        ngramJaccardPairsRaw(s, Tables.documents(s, d), 0.1, NgramDfCap))
      val th = (1 to 9).map(_.toLong).toDF("t10")
      val sw = CacheRegistry.persist(pairs.join(broadcast(th),
        $"jaccard" >= $"t10".cast(DoubleType) / 10.0))
      val np = sw.groupBy($"t10").agg(count(lit(1)).as("n_pairs"))
      val nd = sw.select($"t10", explode(array($"id_a", $"id_b")).as("id"))
        .groupBy($"t10").agg(countDistinct($"id").as("n_docs_touched"))
      broadcast(th)
        .join(np, Seq("t10"), "left")
        .join(nd, Seq("t10"), "left")
        .select($"t10".as("threshold_d10"),
          coalesce($"n_pairs", lit(0L)).cast(LongType).as("n_pairs"),
          coalesce($"n_docs_touched", lit(0L)).cast(LongType).as("n_docs_touched"))
        .orderBy($"threshold_d10")
    }
  )

  // ------------------------------------- cluster-size census (tuning)
  /** Duplicate-family size distribution — the CC-output census the other
    * two graph diagnostics ([[c2dh]] degrees, [[c2jh]] edge weights) don't
    * give: how many near-dup clusters of each size exist, and how much
    * corpus mass they hold. The "size 1" row is the untouched corpus; a
    * fat tail of large families is the template/boilerplate signal that
    * decides between per-cluster keep-best ([[dedupCorpus]]) and outright
    * source quarantine. Same pair graph, threshold, and star-contraction
    * CC as `c2_cluster`; the oracle reuses the SAME recursive-reachability
    * CTE prefix and only changes the final census.
    *
    * Scale shape: everything up to labels is the audited c2_cluster plan;
    * the two census aggs after it group corpus-sized labels into
    * cluster-count rows and then into a bounded size domain — both
    * partial-agged.
    */
  private val c2cs = QuerySpec(
    "c2_cluster_sizes",
    s"Near-dup cluster-size census: star-contraction components over the bigram-Jaccard >= $ClusterThreshold pair graph, grouped to (cluster size -> n_clusters, n_docs) — the duplicate-family distribution that decides keep-best vs quarantine; singletons included.",
    Some(s"""WITH RECURSIVE $clusterReachCtes,
            lbl AS (SELECT id, MIN(root) AS cl FROM reach GROUP BY id),
            cs AS (SELECT cl, COUNT(*) AS sz FROM lbl GROUP BY cl)
            SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
              CAST(sz * COUNT(*) AS BIGINT) AS n_docs
            FROM cs GROUP BY sz ORDER BY cluster_size"""),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pairs = ngramJaccardPairsRaw(s, docs, ClusterThreshold, NgramDfCap)
        .select($"id_a".as("src"), $"id_b".as("dst"))
      val nodes = docs.select($"doc_id".as("id"))
      connectedComponentsStar(s, nodes, pairs)
        .groupBy($"cluster").agg(count(lit(1)).as("sz"))
        .groupBy($"sz".as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select($"cluster_size", $"n_clusters",
          ($"cluster_size" * $"n_clusters").cast(LongType).as("n_docs"))
        .orderBy($"cluster_size")
    }
  )

  // ------------------------------------- near-dup degree census (tuning)
  /** Degree distribution of the near-dup graph — the node-level companion
    * to [[c2jh]]'s edge-level histogram: for every document, how many
    * within-source partners it has at Jaccard ≥ 0.5, histogrammed by
    * degree INCLUDING the zero-degree mass (the left join against the
    * full corpus — the number a dedup dry-run needs first: "what fraction
    * of my corpus is even touched?"). High-degree nodes are the template
    * families the star-contraction CC collapses; the zero bucket is the
    * clean mass.
    *
    * Scale shape: the shared df-capped inverted-index pair mine
    * ([[ngramJaccardPairs]]), a both-directions explode, a doc-keyed
    * partial-agg count, and a co-keyed left join back to the corpus ids —
    * the degree table is NOT broadcast (it is corpus-sized at the limit);
    * the final histogram groups a bounded degree domain.
    */
  private val DegreeThreshold = 0.5
  private val c2dh = QuerySpec(
    "c2_degree_hist",
    s"Near-dup graph degree census: within-source bigram-Jaccard >= $DegreeThreshold partner count per document (shared df-capped pair mine), histogrammed by degree with the zero-degree corpus mass included via a co-keyed left join.",
    Some(s"""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            b AS (SELECT doc_id, source,
              list_distinct(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS grams
              FROM t WHERE len(toks) >= 2),
            prs AS (SELECT a.doc_id AS ida, c.doc_id AS idb
              FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
              WHERE CAST(len(list_intersect(a.grams, c.grams)) AS DOUBLE)
                    / len(list_distinct(a.grams || c.grams)) >= $DegreeThreshold),
            e AS (SELECT ida AS id FROM prs UNION ALL SELECT idb AS id FROM prs),
            g AS (SELECT id, COUNT(*) AS deg FROM e GROUP BY id),
            deg AS (SELECT d.doc_id, CAST(COALESCE(g.deg, 0) AS BIGINT) AS degree
              FROM documents d LEFT JOIN g ON d.doc_id = g.id)
            SELECT degree, COUNT(*) AS n_docs FROM deg GROUP BY degree ORDER BY degree"""),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      // persisted (r18): the union references the mine TWICE and the plan
      // dump showed the whole inverted-index pair join executing once per
      // branch (no exchange reuse across the union) — the barrier pins it
      // to one evaluation
      val pairs = CacheRegistry.persist(
        ngramJaccardPairsRaw(s, docs, DegreeThreshold, NgramDfCap)
          .select($"id_a", $"id_b"))
      val g = pairs.select($"id_a".as("id")).union(pairs.select($"id_b".as("id")))
        .groupBy($"id").agg(count(lit(1)).as("deg"))
      docs.select($"doc_id")
        .join(g, $"doc_id" === $"id", "left")
        .select(coalesce($"deg", lit(0L)).cast(LongType).as("degree"))
        .groupBy($"degree").agg(count(lit(1)).as("n_docs"))
        .orderBy($"degree")
    }
  )

  // ------------------------------------- kNN margin census (tuning)
  /** Top-1/top-2 margin census — the ANN "hardness" diagnostic: per query
    * vector, the gap between its best and second-best within-block cosine
    * (small margin ⇒ ambiguous neighborhoods ⇒ approximate indexes
    * misrank them first; the margin distribution predicts where recall@1
    * degrades before any index is built, and fat low-margin mass is the
    * standard signal to mine hard negatives from). Buckets are
    * floor((s1−s2)·1000) on the SAME replayed IEEE score chain as
    * [[TierC.c3_knn_cosine]] (native codegen dot, sqrt-product division).
    *
    * Scale shape: label-blocked self-join (never all-pairs), per-query
    * top-2 via a blocked window (WindowGroupLimit prunes below rank 2
    * map-side), a doc-keyed pivot agg, and a bounded-bucket census.
    * Queries whose block has a single neighbor have no s2 and are
    * excluded on both engines (NULL-s2 filter).
    */
  private val c3mg = QuerySpec(
    "c3_margin",
    "ANN hardness census: per-vector top1-top2 cosine margin within the label block (exact codegen dot chain), bucketed at 1e-3 — fat low-margin mass predicts recall@1 loss and marks hard-negative mining targets.",
    Some(s"""WITH p AS (
              SELECT a.vec_id AS ida, b.vec_id AS idb,
                     (${dotChain("a", "b")}) AS dot,
                     (${dotChain("a", "a")}) AS na2,
                     (${dotChain("b", "b")}) AS nb2
              FROM embeddings a
              JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id),
            sc AS (SELECT ida, idb, dot / (sqrt(na2) * sqrt(nb2)) AS score FROM p),
            r AS (SELECT ida, score,
                    ROW_NUMBER() OVER (PARTITION BY ida ORDER BY score DESC, idb) AS rn
                  FROM sc),
            tp AS (SELECT ida,
                     MAX(CASE WHEN rn = 1 THEN score END) AS s1,
                     MAX(CASE WHEN rn = 2 THEN score END) AS s2
                   FROM r WHERE rn <= 2 GROUP BY ida)
            SELECT CAST(floor((s1 - s2) * 1000.0) AS BIGINT) AS margin_mil,
              COUNT(*) AS n_queries
            FROM tp WHERE s2 IS NOT NULL GROUP BY 1 ORDER BY margin_mil"""),
    (s, d) => {
      import s.implicits._
      val e = CacheRegistry.persist(Tables.embeddings(s, d)
        .select($"vec_id", $"label", $"embedding",
          TierC.dot($"embedding", $"embedding").as("n2")))
      val a = e.select($"vec_id".as("ida"), $"label", $"embedding".as("ea"), $"n2".as("na2"))
      val b = e.select($"vec_id".as("idb"), $"label".as("label_b"),
        $"embedding".as("eb"), $"n2".as("nb2"))
      val w = Window.partitionBy($"ida").orderBy($"score".desc, $"idb")
      a.join(b, $"label" === $"label_b" && $"ida" =!= $"idb")
        .withColumn("score", TierC.dot($"ea", $"eb") / (sqrt($"na2") * sqrt($"nb2")))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2)
        .groupBy($"ida")
        .agg(max(when($"rn" === 1, $"score")).as("s1"),
          max(when($"rn" === 2, $"score")).as("s2"))
        .filter($"s2".isNotNull)
        .select(floor(($"s1" - $"s2") * 1000.0).cast(LongType).as("margin_mil"))
        .groupBy($"margin_mil").agg(count(lit(1)).as("n_queries"))
        .orderBy($"margin_mil")
    }
  )

  // ------------------------------------- sampled kNN label purity (c3kp)
  /** Subsampled kNN label purity — the embedding-quality eval: within
    * deterministic hash blocks (`vec_id mod 16`, label-BLIND — unlike the
    * label-blocked production kNN, whose within-block purity is 1 by
    * construction), each vector's top-3 cosine neighbors are checked for
    * label agreement, censused per label in exact ppm. Each block is a
    * uniform 1/16 corpus subsample, so per-block 3-NN purity is the
    * standard sampled estimator of full-corpus kNN purity — the number
    * that says whether the embedding space actually separates the labels,
    * per label (one chronically impure label = a class the encoder
    * confuses). Same replayed IEEE score chain as c3_knn_cosine.
    *
    * Scale shape: the hash-block self-join bounds pairs at Σ|block|²
    * (block count scales with corpus under a fixed per-block size budget;
    * locally 16 blocks exercise the shape); WindowGroupLimit prunes below
    * rank 3 map-side; the census is ≤|labels| rows.
    */
  private val c3kp = QuerySpec(
    "c3_knn_purity",
    "Sampled kNN label purity: label-blind hash blocks (vec_id mod 16), exact top-3 cosine per vector within its block, per-label match census with exact-ppm purity — the embedding-vs-label consistency eval.",
    Some(s"""WITH p AS (
              SELECT a.vec_id AS ida, a.label AS la, b.vec_id AS idb, b.label AS lb,
                     (${dotChain("a", "b")}) AS dot,
                     (${dotChain("a", "a")}) AS na2,
                     (${dotChain("b", "b")}) AS nb2
              FROM embeddings a
              JOIN embeddings b
                ON (a.vec_id % 16) = (b.vec_id % 16) AND a.vec_id <> b.vec_id),
            sc AS (SELECT ida, la, idb, lb, dot / (sqrt(na2) * sqrt(nb2)) AS score FROM p),
            r AS (SELECT ida, la, lb,
                    ROW_NUMBER() OVER (PARTITION BY ida ORDER BY score DESC, idb) AS rn
                  FROM sc),
            q AS (SELECT ida, la, CAST(COUNT(*) AS BIGINT) AS k,
                    CAST(COUNT(CASE WHEN lb = la THEN 1 END) AS BIGINT) AS m
                  FROM r WHERE rn <= 3 GROUP BY ida, la)
            SELECT CAST(la AS BIGINT) AS label, COUNT(*) AS n_queries,
              CAST(SUM(m) AS BIGINT) AS n_match,
              CAST(SUM(k) AS BIGINT) AS n_neighbors,
              CAST((SUM(m) * 1000000) // SUM(k) AS BIGINT) AS purity_e6
            FROM q GROUP BY la ORDER BY label"""),
    (s, d) => {
      import s.implicits._
      val e = CacheRegistry.persist(Tables.embeddings(s, d)
        .select($"vec_id", $"label", ($"vec_id" % 16).as("blk"), $"embedding",
          TierC.dot($"embedding", $"embedding").as("n2")))
      val a = e.select($"vec_id".as("ida"), $"label".as("la"), $"blk",
        $"embedding".as("ea"), $"n2".as("na2"))
      val b = e.select($"vec_id".as("idb"), $"label".as("lb"), $"blk".as("blk_b"),
        $"embedding".as("eb"), $"n2".as("nb2"))
      val w = Window.partitionBy($"ida").orderBy($"score".desc, $"idb")
      a.join(b, $"blk" === $"blk_b" && $"ida" =!= $"idb")
        .withColumn("score", TierC.dot($"ea", $"eb") / (sqrt($"na2") * sqrt($"nb2")))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .groupBy($"ida", $"la")
        .agg(count(lit(1)).cast(LongType).as("k"),
          sum(when($"lb" === $"la", 1L).otherwise(0L)).cast(LongType).as("m"))
        .groupBy($"la".cast(LongType).as("label"))
        .agg(count(lit(1)).as("n_queries"),
          sum($"m").cast(LongType).as("n_match"),
          sum($"k").cast(LongType).as("n_neighbors"))
        .select($"label", $"n_queries", $"n_match", $"n_neighbors",
          expr("(n_match * 1000000L) div n_neighbors").as("purity_e6"))
        .orderBy($"label")
    }
  )

  // ------------------------------------- IVF cell-balance census (c3ib)
  /** IVF index-health census — the balance view over the SAME coarse
    * quantizer `c3_ivf`/`c3_ivfpq` build (identical seeds, identical
    * assignment expression): per-cell populations rolled up to cell
    * count, min/max cell size, and the imbalance factor max/mean in exact
    * ppm (max·n_cells·1e6 div total). A high imbalance factor is the
    * direct predictor of nprobe latency variance (the fattest cell IS the
    * probe tail) and the standard trigger for re-training the quantizer —
    * the index diagnostic `c3_recall` (accuracy) doesn't measure.
    *
    * Scale shape: quantizer build is the audited md5-sample + driver
    * k-center greedy (≤1024 rows); assignment is one map-side native
    * expression pass; the census partial-aggregates into ≤cells rows and
    * folds to ONE row.
    */
  private val c3ib = QuerySpec(
    "c3_ivf_balance",
    "IVF cell-balance census over the production coarse quantizer: cell count, min/max population, and exact-ppm imbalance factor (max/mean) — the index-health number that predicts nprobe tail latency; map-side assignment, one bounded census.",
    Some(s"""WITH RECURSIVE
            |${AnnSql.prefix},
            |${AnnSql.asgCte("asg", "seeds0")},
            |cs AS (SELECT cell, COUNT(*) AS sz FROM asg GROUP BY cell)
            |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
            |  CAST(SUM(sz) AS BIGINT) AS n_vectors,
            |  CAST(MIN(sz) AS BIGINT) AS min_cell,
            |  CAST(MAX(sz) AS BIGINT) AS max_cell,
            |  CAST((MAX(sz) * COUNT(*) * 1000000) // SUM(sz) AS BIGINT) AS imbalance_e6
            |FROM cs""".stripMargin),
    (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val e = emb.select($"vec_id", $"embedding",
        TierC.dot($"embedding", $"embedding").as("n2")).persist()
      val seeds = graft.functions.VectorExprs.broadcastSeeds(s,
        ivfSeeds(s, e, ivfCells(emb.count()), 1024))
      e.unpersist()
      emb.select($"vec_id", $"embedding",
          TierC.dot($"embedding", $"embedding").as("n2"))
        .withColumn("cell", cellAssignCol(seeds))
        .groupBy($"cell").agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_cells"), sum($"sz").cast(LongType).as("n_vectors"),
          min($"sz").as("min_cell"), max($"sz").as("max_cell"))
        .select($"n_cells", $"n_vectors", $"min_cell", $"max_cell",
          expr("(max_cell * n_cells * 1000000L) div n_vectors").as("imbalance_e6"))
    }
  )

  // ------------------------------------- gram df profile (tuning, c2gp)
  /** Posting-list df profile — the input statistic the [[NgramDfCap]]
    * df-cap is tuned against, finally visible as a declared query: the
    * document frequency of every (source, bigram) posting key (exactly
    * the pair-mine's blocking key), histogrammed by power-of-two bucket
    * (`bit_length(df) − 1` — pure integer, no float log2 edge cases).
    * The Zipf head lives in the top buckets; the postings mass there is
    * the work the `hotPreFilter` anti-join path discards before any wide
    * exchange — this census says how much that is on a given corpus.
    *
    * Scale shape: the shared [[bigramExploded]] posting rows, one
    * partial-agg df count on the join key, one bounded (≤~40 bucket)
    * census. No joins.
    */
  private val c2gp = QuerySpec(
    "c2_gram_df_profile",
    "Near-dup posting-list df profile: document frequency per (source, bigram) blocking key, histogrammed by power-of-two bucket (bit_length(df)-1, pure integer) with gram and posting totals — the statistic the df-cap and hotPreFilter paths are tuned against.",
    Some("""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
              FROM documents),
            b AS (SELECT doc_id, source,
              list_distinct(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS grams
              FROM t WHERE len(toks) >= 2),
            g AS (SELECT source, unnest(grams) AS gram, doc_id FROM b),
            df AS (SELECT source, gram, CAST(COUNT(*) AS BIGINT) AS df
              FROM g GROUP BY source, gram)
            SELECT CAST(length(printf('%b', df)) - 1 AS BIGINT) AS log2_bucket,
              COUNT(*) AS n_grams,
              CAST(SUM(df) AS BIGINT) AS n_postings
            FROM df GROUP BY 1 ORDER BY log2_bucket"""),
    (s, d) => {
      import s.implicits._
      bigramExploded(Tables.documents(s, d))
        .groupBy($"source", $"gram").agg(count(lit(1)).cast(LongType).as("df"))
        .select((length(bin($"df")) - 1).cast(LongType).as("log2_bucket"), $"df")
        .groupBy($"log2_bucket")
        .agg(count(lit(1)).as("n_grams"), sum($"df").cast(LongType).as("n_postings"))
        .orderBy($"log2_bucket")
    }
  )

  // --------------------------------- SimHash calibration census (c2se)
  /** SimHash Hamming-vs-exact calibration — the SimHash twin of
    * [[graft.operators.TierC]]'s `c2_minhash_err` (same deterministic
    * ~2N successor-pair sample, same census discipline): per pair, the
    * signature Hamming distance and the EXACT distinct-token Jaccard,
    * grouped by Hamming distance. The calibration curve that justifies
    * the `hamming ≤ 3` production threshold: if exact similarity within
    * a Hamming bucket is wide, 64 bits under-resolve this corpus's
    * similarity regime. Tokens (not shingles) are the exact companion
    * because SimHash votes ARE token-level.
    *
    * Scale shape: signatures + distinct token sets cached once per doc;
    * pairs via the source-partitioned lead window (never block²); one
    * co-keyed probe pair; ≤65-bucket census.
    */
  private val tokSetUdf = udf { (text: String) =>
    text.toLowerCase.split(" ").filter(_.nonEmpty).distinct
  }
  private val c2se = QuerySpec(
    "c2_simhash_err",
    "SimHash bit-width calibration: per deterministic within-source successor pair, signature Hamming distance (bit_count(xor)) vs exact distinct-token Jaccard (integer e6), censused by Hamming with n/sum/min/max — the curve behind the hamming<=3 threshold.",
    Some(s"""WITH $shSigCtes,
            |pr0 AS (SELECT source, doc_id AS ida,
            |         lead(doc_id, 1) OVER w AS b1, lead(doc_id, 2) OVER w AS b2
            |       FROM documents WINDOW w AS (PARTITION BY source ORDER BY doc_id)),
            |pr AS (SELECT ida, b1 AS idb FROM pr0 WHERE b1 IS NOT NULL
            |       UNION ALL SELECT ida, b2 AS idb FROM pr0 WHERE b2 IS NOT NULL),
            |tku AS (SELECT DISTINCT doc_id, t FROM tk),
            |tc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM tku GROUP BY doc_id),
            |it AS (SELECT pr.ida, pr.idb, CAST(COUNT(*) AS BIGINT) AS inter
            |       FROM pr JOIN tku a ON a.doc_id = pr.ida
            |               JOIN tku b ON b.doc_id = pr.idb AND b.t = a.t
            |       GROUP BY pr.ida, pr.idb),
            |hm AS (SELECT pr.ida, pr.idb,
            |         CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming,
            |         (COALESCE(it.inter, 0) * 1000000)
            |           // (ca.nt + cb.nt - COALESCE(it.inter, 0)) AS exact_e6
            |       FROM pr JOIN sig sa ON sa.doc_id = pr.ida
            |               JOIN sig sb ON sb.doc_id = pr.idb
            |               JOIN tc ca ON ca.doc_id = pr.ida
            |               JOIN tc cb ON cb.doc_id = pr.idb
            |               LEFT JOIN it ON it.ida = pr.ida AND it.idb = pr.idb)
            |SELECT hamming, COUNT(*) AS n_pairs,
            |  CAST(SUM(exact_e6) AS BIGINT) AS sum_exact_e6,
            |  CAST(MIN(exact_e6) AS BIGINT) AS min_exact_e6,
            |  CAST(MAX(exact_e6) AS BIGINT) AS max_exact_e6
            |FROM hm GROUP BY hamming ORDER BY hamming""".stripMargin),
    (s, d) => {
      import s.implicits._
      val base = CacheRegistry.persist(Tables.documents(s, d)
        .select($"doc_id", $"source", simhashUdf($"text").as("simhash"),
          tokSetUdf($"text").as("toks")))
      val w = Window.partitionBy($"source").orderBy($"doc_id")
      val pr = base
        .select($"doc_id".as("ida"),
          lead($"doc_id", 1).over(w).as("b1"), lead($"doc_id", 2).over(w).as("b2"))
        .select($"ida", explode(array($"b1", $"b2")).as("idb"))
        .filter($"idb".isNotNull)
      pr
        .join(base.select($"doc_id".as("ida"), $"simhash".as("sha"), $"toks".as("ta")), "ida")
        .join(base.select($"doc_id".as("idb"), $"simhash".as("shb"), $"toks".as("tb")), "idb")
        .select(bit_count($"sha".bitwiseXOR($"shb")).cast(LongType).as("hamming"),
          size(array_intersect($"ta", $"tb")).cast(LongType).as("inter"),
          (size($"ta") + size($"tb")).cast(LongType).as("sz2"))
        .select($"hamming", expr("(inter * 1000000L) div (sz2 - inter)").as("exact_e6"))
        .groupBy($"hamming")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"exact_e6").cast(LongType).as("sum_exact_e6"),
          min($"exact_e6").as("min_exact_e6"), max($"exact_e6").as("max_exact_e6"))
        .orderBy($"hamming")
    }
  )

  // ------------------------------- degree assortativity (tuning, c2as)
  /** Degree assortativity of the near-dup graph — Newman's r over the
    * directed edge-endpoint list: do high-degree documents (template
    * families) link to other hubs (r > 0) or to leaves (r < 0, the
    * hub-and-spoke shape boilerplate clusters produce)? The number tells
    * a dedup operator whether the graph is a few star clusters (strongly
    * negative — star-contraction CC collapses it in one round) or a
    * dense core (near 0/positive — deeper CC chains, fatter buckets).
    * Companion to [[c2dh]] (degree marginal) and [[c2jh]] (edge weights):
    * same mine, the joint moment the marginals can't see.
    *
    * Exactness: both directions of every edge are counted, so the x and y
    * marginals coincide and r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — all
    * four moments are exact BIGINT sums of integer degrees (emitted as
    * their own columns); the single quantized division happens once, with
    * the all-degrees-equal den=0 case pinned to 0 on both engines.
    *
    * Scale shape: the shared df-capped pair mine, a corpus-keyed degree
    * agg, two co-keyed equi-joins hanging the endpoint degrees back onto
    * the directed edges (degree table is corpus-sized at the limit —
    * joined, never broadcast), and ONE single-row moment rollup.
    */
  private val c2as = QuerySpec(
    "c2_assortativity",
    s"Degree assortativity of the near-dup graph (Jaccard >= $DegreeThreshold, shared df-capped mine): exact BIGINT moment sums over the directed edge-endpoint list + Newman's r quantized at 1e-6 (den=0 pinned to 0) — hub-to-leaf vs hub-to-hub in one row.",
    Some(s"""WITH t AS (SELECT doc_id, source,
            |  list_filter(string_split(lower(text), ' '), s -> s <> '') AS toks
            |  FROM documents),
            |b AS (SELECT doc_id, source,
            |  list_distinct(list_transform(generate_series(1, len(toks) - 1),
            |    i -> toks[i] || ' ' || toks[i+1])) AS grams
            |  FROM t WHERE len(toks) >= 2),
            |prs AS (SELECT a.doc_id AS ida, c.doc_id AS idb
            |  FROM b a JOIN b c ON a.source = c.source AND a.doc_id < c.doc_id
            |  WHERE CAST(len(list_intersect(a.grams, c.grams)) AS DOUBLE)
            |        / len(list_distinct(a.grams || c.grams)) >= $DegreeThreshold),
            |e AS (SELECT ida AS id FROM prs UNION ALL SELECT idb AS id FROM prs),
            |g AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY id),
            |de AS (SELECT ida AS src, idb AS dst FROM prs
            |       UNION ALL SELECT idb, ida FROM prs),
            |j AS (SELECT gx.deg AS x, gy.deg AS y FROM de
            |  JOIN g gx ON gx.id = de.src JOIN g gy ON gy.id = de.dst),
            |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
            |    CAST(COALESCE(SUM(x), 0) AS BIGINT) AS sum_deg,
            |    CAST(COALESCE(SUM(x * y), 0) AS BIGINT) AS sum_xy,
            |    CAST(COALESCE(SUM(x * x), 0) AS BIGINT) AS sum_x2 FROM j)
            |SELECT m, sum_deg, sum_xy, sum_x2,
            |  CASE WHEN m * sum_x2 - sum_deg * sum_deg = 0 THEN CAST(0 AS BIGINT)
            |    ELSE CAST(floor(CAST(m * sum_xy - sum_deg * sum_deg AS DOUBLE)
            |      / CAST(m * sum_x2 - sum_deg * sum_deg AS DOUBLE) * 1000000.0) AS BIGINT)
            |  END AS r_e6
            |FROM m""".stripMargin),
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pairs = CacheRegistry.persist(
        ngramJaccardPairsRaw(s, docs, DegreeThreshold, NgramDfCap)
          .select($"id_a", $"id_b"))
      val g = pairs.select($"id_a".as("id")).union(pairs.select($"id_b".as("id")))
        .groupBy($"id").agg(count(lit(1)).as("deg"))
      val de = pairs.select($"id_a".as("src"), $"id_b".as("dst"))
        .union(pairs.select($"id_b".as("src"), $"id_a".as("dst")))
      de.join(g.select($"id".as("src"), $"deg".as("x")), Seq("src"))
        .join(g.select($"id".as("dst"), $"deg".as("y")), Seq("dst"))
        .agg(count(lit(1)).as("m"),
          coalesce(sum($"x"), lit(0L)).cast(LongType).as("sum_deg"),
          coalesce(sum($"x" * $"y"), lit(0L)).cast(LongType).as("sum_xy"),
          coalesce(sum($"x" * $"x"), lit(0L)).cast(LongType).as("sum_x2"))
        .select($"m", $"sum_deg", $"sum_xy", $"sum_x2",
          when($"m" * $"sum_x2" - $"sum_deg" * $"sum_deg" === 0L, 0L)
            .otherwise(floor(($"m" * $"sum_xy" - $"sum_deg" * $"sum_deg").cast(DoubleType)
              / ($"m" * $"sum_x2" - $"sum_deg" * $"sum_deg").cast(DoubleType) * 1000000.0))
            .cast(LongType).as("r_e6"))
    }
  )

  // ------------------------- truncation-fidelity census (c3_matryoshka)
  /** Embedding-truncation fidelity census — the measurement behind
    * Matryoshka-style dimension cuts (store/search the first 32 of 64
    * dims, rerank with the full vector): over the id-adjacent linear pair
    * sample, how far does the 32-dim cosine drift from the 64-dim truth,
    * binned by the true cosine? Read the census before committing to a
    * truncated index: if the drift band is wide where the dedup/ANN
    * threshold sits, the cut is unsafe.
    *
    * Determinism: both cosines are left-fold IEEE chains (the codegen dot
    * on the full array, the same chain on `slice(…, 1, 32)`); per-row e6
    * floors are exact, and the per-bin SUM of already-floored integers is
    * order-free — so even the mean drift replays exactly.
    *
    * Scale shape: one cached vector frame with both norms, one vec_id+1
    * equi-join (linear), ≤20-row census — the c3_cosine_hist plan with a
    * second fused dot.
    */
  private val c3mk = QuerySpec(
    "c3_matryoshka",
    "Embedding-truncation (Matryoshka) fidelity: 32-dim vs 64-dim cosine drift over the id-adjacent pair sample, binned by true cosine — per-bin count and exact e6 sum/min/max of the drift; one cached vector frame, one linear equi-join, two codegen dots.",
    Some {
      def chain(l: String, r: String, d: Int) =
        (1 to d).map(i => s"CAST($l.embedding[$i] AS DOUBLE)*CAST($r.embedding[$i] AS DOUBLE)")
          .mkString(" + ")
      s"""WITH p AS (SELECT a.vec_id AS ida,
                (${chain("a", "b", 64)}) AS dot64,
                (${chain("a", "a", 64)}) AS na64,
                (${chain("b", "b", 64)}) AS nb64,
                (${chain("a", "b", 32)}) AS dot32,
                (${chain("a", "a", 32)}) AS na32,
                (${chain("b", "b", 32)}) AS nb32
              FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1),
            sc AS (SELECT dot64 / (sqrt(na64) * sqrt(nb64)) AS c64,
                dot32 / (sqrt(na32) * sqrt(nb32)) AS c32 FROM p),
            bn AS (SELECT LEAST(CAST(floor((c64 + 1.0) * 10.0) AS BIGINT), 19) AS bin,
                CAST(floor((c32 - c64) * 1000000.0) AS BIGINT) AS drift_e6 FROM sc)
            SELECT bin, COUNT(*) AS n,
              CAST(SUM(drift_e6) AS BIGINT) AS sum_drift_e6,
              MIN(drift_e6) AS min_drift_e6, MAX(drift_e6) AS max_drift_e6
            FROM bn GROUP BY bin ORDER BY bin"""
    },
    (s, d) => {
      import s.implicits._
      val dot = graft.functions.VectorExprs.dotF _
      val e = CacheRegistry.persist(Tables.embeddings(s, d)
        .select($"vec_id", $"embedding", slice($"embedding", 1, 32).as("emb32"))
        .select($"vec_id", $"embedding", $"emb32",
          dot($"embedding", $"embedding").as("n64"),
          dot($"emb32", $"emb32").as("n32")))
      val a = e.select($"vec_id".as("ida"), $"embedding".as("ea"), $"emb32".as("ea32"),
        $"n64".as("na64"), $"n32".as("na32"))
      val b = e.select(($"vec_id" - 1).as("idb"), $"embedding".as("eb"), $"emb32".as("eb32"),
        $"n64".as("nb64"), $"n32".as("nb32"))
      a.join(b, $"ida" === $"idb")
        .withColumn("c64", dot($"ea", $"eb") / (sqrt($"na64") * sqrt($"nb64")))
        .withColumn("c32", dot($"ea32", $"eb32") / (sqrt($"na32") * sqrt($"nb32")))
        .select(least(floor(($"c64" + 1.0) * 10.0).cast(LongType), lit(19L)).as("bin"),
          floor(($"c32" - $"c64") * 1000000.0).cast(LongType).as("drift_e6"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n"),
          sum($"drift_e6").cast(LongType).as("sum_drift_e6"),
          min($"drift_e6").as("min_drift_e6"), max($"drift_e6").as("max_drift_e6"))
        .orderBy($"bin")
    }
  )

  // ------------------------------- walk-forward folds (c1x_walkforward)
  /** Walk-forward (expanding-window) backtest folds with an embargo gap
    * and a leakage census — the time-series counterpart of [[c1r]]'s
    * hash-split audit: 5 folds over the event timeline, each training on
    * everything before its cut day and testing on a window that starts
    * EMBARGO days after the cut (the purged-CV discipline: the gap keeps
    * label horizons from straddling the boundary). `leak_users` counts
    * the entities present on BOTH sides of a fold — the cross-user
    * contamination an entity-blind temporal split silently carries.
    * All-integer arithmetic (epoch days, `div`-derived cut points from a
    * 1-row min/max broadcast fold).
    *
    * Scale shape: the fold grid is 5 broadcast rows (nested-loop join
    * with a range predicate — a bounded ×5 fan-out, linear in events),
    * then (fold, user) and fold partial aggs. No windows, no sort except
    * the 5-row presentation.
    */
  private val WalkFolds = 5
  private val WalkEmbargoDays = 2
  private val c1x = QuerySpec(
    "c1x_walkforward",
    s"Walk-forward backtest folds ($WalkFolds expanding windows over epoch days, $WalkEmbargoDays-day embargo before each test window) with a leakage census: per-fold train/test event counts, user counts, and users present on both sides; integer cut arithmetic from a 1-row min/max broadcast, bounded x$WalkFolds broadcast fan-out.",
    Some(s"""WITH ev AS (SELECT user_id,
              CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d
              FROM events),
            m AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM ev),
            f AS (SELECT CAST(k AS BIGINT) AS k,
                dmin + ((dmax - dmin + 1) * k) // ${WalkFolds + 2} AS tr_end,
                dmin + ((dmax - dmin + 1) * k) // ${WalkFolds + 2} + $WalkEmbargoDays AS te_start,
                dmin + ((dmax - dmin + 1) * (k + 1)) // ${WalkFolds + 2} AS te_end
              FROM range(1, ${WalkFolds + 1}) t(k) CROSS JOIN m),
            j AS (SELECT f.k, ev.user_id,
                CASE WHEN ev.d < f.tr_end THEN 1 ELSE 0 END AS is_tr,
                CASE WHEN ev.d >= f.te_start AND ev.d < f.te_end THEN 1 ELSE 0 END AS is_te
              FROM ev JOIN f
                ON ev.d < f.tr_end OR (ev.d >= f.te_start AND ev.d < f.te_end)),
            pu AS (SELECT k, user_id, SUM(is_tr) AS n_tr, SUM(is_te) AS n_te
              FROM j GROUP BY k, user_id)
            SELECT k,
              CAST(SUM(n_tr) AS BIGINT) AS train_events,
              CAST(SUM(n_te) AS BIGINT) AS test_events,
              CAST(SUM(CASE WHEN n_tr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS train_users,
              CAST(SUM(CASE WHEN n_te > 0 THEN 1 ELSE 0 END) AS BIGINT) AS test_users,
              CAST(SUM(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1 ELSE 0 END) AS BIGINT) AS leak_users
            FROM pu GROUP BY k ORDER BY k"""),
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).select($"user_id",
        datediff($"ts".cast(DateType), to_date(lit("1970-01-01"))).cast(LongType).as("d"))
      val mm = ev.agg(min($"d").as("dmin"), max($"d").as("dmax"))
      val denom = WalkFolds + 2
      val folds = s.range(1, WalkFolds + 1).toDF("k").crossJoin(broadcast(mm))
        .select($"k",
          expr(s"dmin + ((dmax - dmin + 1) * k) div $denom").as("tr_end"),
          expr(s"dmin + ((dmax - dmin + 1) * k) div $denom + $WalkEmbargoDays").as("te_start"),
          expr(s"dmin + ((dmax - dmin + 1) * (k + 1)) div $denom").as("te_end"))
      val j = ev.join(broadcast(folds),
        $"d" < $"tr_end" || ($"d" >= $"te_start" && $"d" < $"te_end"))
      j.groupBy($"k", $"user_id")
        .agg(sum(when($"d" < $"tr_end", 1L).otherwise(0L)).as("n_tr"),
          sum(when($"d" >= $"te_start" && $"d" < $"te_end", 1L).otherwise(0L)).as("n_te"))
        .groupBy($"k")
        .agg(sum($"n_tr").cast(LongType).as("train_events"),
          sum($"n_te").cast(LongType).as("test_events"),
          sum(when($"n_tr" > 0, 1L).otherwise(0L)).cast(LongType).as("train_users"),
          sum(when($"n_te" > 0, 1L).otherwise(0L)).cast(LongType).as("test_users"),
          sum(when($"n_tr" > 0 && $"n_te" > 0, 1L).otherwise(0L)).cast(LongType)
            .as("leak_users"))
        .orderBy($"k")
    }
  )

  // -------------------------- pair-cosine calibration hist (c3_cosine_hist)
  /** Cosine-similarity calibration histogram over the id-adjacent pair
    * sample — the embedding-space twin of [[c2jh]]'s Jaccard histogram:
    * before picking a SemDeDup/ANN threshold τ, read where the corpus's
    * background cosine mass sits (near-dup corpora show a spike near 1;
    * the τ that separates it from the bulk is the right knob). Pairing
    * vec i with vec i+1 is a deterministic LINEAR pair sample (one
    * equi-join on `vec_id + 1`) — |pairs| = N−1 at any corpus size, never
    * the all-pairs quadratic a random-pair formulation tempts.
    *
    * Determinism: cosine = dot/(√na²·√nb²) is the same left-fold IEEE
    * chain on both engines ([[dotChain]] / the codegen
    * [[graft.functions.VectorExprs.dotF]]); per-row bin and e6 floors are
    * exact, per-bin min/max are order-free.
    */
  private val c3ch = QuerySpec(
    "c3_cosine_hist",
    "Pair-cosine calibration histogram: cosine of each id-adjacent embedding pair (linear deterministic pair sample, one equi-join on vec_id+1) binned into 20 [-1,1] buckets with per-bin count and exact e6 min/max — the threshold-calibration read before SemDeDup/ANN.",
    Some(s"""WITH p AS (SELECT a.vec_id AS ida,
                (${dotChain("a", "b")}) AS dot,
                (${dotChain("a", "a")}) AS na2,
                (${dotChain("b", "b")}) AS nb2
              FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1),
            sc AS (SELECT dot / (sqrt(na2) * sqrt(nb2)) AS c FROM p),
            bn AS (SELECT LEAST(CAST(floor((c + 1.0) * 10.0) AS BIGINT), 19) AS bin,
                CAST(floor(c * 1000000.0) AS BIGINT) AS q FROM sc)
            SELECT bin, COUNT(*) AS n, MIN(q) AS min_e6, MAX(q) AS max_e6
            FROM bn GROUP BY bin ORDER BY bin"""),
    (s, d) => {
      import s.implicits._
      val dot = graft.functions.VectorExprs.dotF _
      // norms once per vector, persisted (the c3_knn_cosine precedent:
      // without materialization CollapseProject re-runs them per pair)
      val e = CacheRegistry.persist(Tables.embeddings(s, d)
        .select($"vec_id", $"embedding", dot($"embedding", $"embedding").as("n2")))
      val a = e.select($"vec_id".as("ida"), $"embedding".as("ea"), $"n2".as("na2"))
      val b = e.select(($"vec_id" - 1).as("idb"), $"embedding".as("eb"), $"n2".as("nb2"))
      a.join(b, $"ida" === $"idb")
        .withColumn("c", dot($"ea", $"eb") / (sqrt($"na2") * sqrt($"nb2")))
        .select(least(floor(($"c" + 1.0) * 10.0).cast(LongType), lit(19L)).as("bin"),
          floor($"c" * 1000000.0).cast(LongType).as("q"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n"), min($"q").as("min_e6"), max($"q").as("max_e6"))
        .orderBy($"bin")
    }
  )

  // --------------------------------------- Adamic–Adar link prediction
  /** Adamic–Adar link prediction over the near-dup pair graph — the
    * classic "which near-miss pairs is the threshold hiding?" read: for
    * every NON-edge pair sharing at least one neighbor in the Jaccard
    * ≥ 0.08 graph (the same near-miss threshold the query mines), score Σ_z 1/ln(deg(z)) over common neighbors z (rare
    * shared neighbors count more than promiscuous ones), and report the
    * top 20 — the pairs a dedup operator inspects first when tuning the
    * threshold down. Completes the graph-analytics family (PageRank,
    * HITS, k-core, triangles, LPA, assortativity, CC) with its standard
    * link-prediction member.
    *
    * Exactness: each z's contribution is floored at e6 off one ln IEEE
    * chain, then integer-summed (order-free); ties break on (id_a, id_b).
    *
    * Scale shape: the common-neighbor enumeration is the audited pair
    * mine's symmetric edge list self-joined on z, with z capped at
    * degree ≤ 64 BEFORE the join (the standard AA hub cut — a Zipf hub
    * would otherwise fan out deg² candidate pairs; at 100 TB that cap is
    * the difference between bounded and quadratic). Non-edge filtering
    * is a left-anti join on the canonical pair, and the final top-20 is
    * a TakeOrdered merge, never a global sort.
    */
  private[graft] val AaHubCap = envCap("SPARK_GRAFT_AA_HUB_CAP", 64)
  private val c2aa = QuerySpec(
    "c2_adamic_adar",
    s"Adamic-Adar link prediction: non-edge pairs of the Jaccard>=0.08 near-miss graph (df-capped pair mine, cap mirrored) scored Sigma 1/ln(deg(z)) over common neighbors (e6-floored per z, integer-summed), hub z capped at deg<=$AaHubCap before the self-join, top-20 via TakeOrdered with (id_a, id_b) tie-break.",
    Some(s"""WITH $ngramPostingCtes,
            $ngramPairCountsCte,
            prs AS (SELECT id_a, id_b FROM pp
              WHERE CAST(shared AS DOUBLE) / (sa + sb - shared) >= 0.08),
            e AS (SELECT id_a AS s, id_b AS d FROM prs
                  UNION ALL SELECT id_b, id_a FROM prs),
            deg AS (SELECT s AS z, CAST(COUNT(*) AS BIGINT) AS dg FROM e GROUP BY s),
            el AS (SELECT e.s, e.d, deg.dg FROM e JOIN deg ON deg.z = e.s
                   WHERE deg.dg <= $AaHubCap),
            cn AS (SELECT t1.d AS x, t1.s AS z, t1.dg, t2.d AS y
              FROM el t1 JOIN el t2 ON t1.s = t2.s AND t1.d < t2.d),
            ne AS (SELECT cn.* FROM cn LEFT JOIN prs p
              ON p.id_a = cn.x AND p.id_b = cn.y WHERE p.id_a IS NULL),
            sc AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_common,
              CAST(SUM(CAST(floor(1000000.0 / ln(dg)) AS BIGINT)) AS BIGINT) AS score_e6
              FROM ne GROUP BY x, y)
            SELECT x AS id_a, y AS id_b, n_common, score_e6
            FROM sc ORDER BY score_e6 DESC, id_a, id_b LIMIT 20"""),
    (s, d) => {
      import s.implicits._
      val pairs = CacheRegistry.persist(
        ngramJaccardPairsRaw(s, Tables.documents(s, d), 0.08, NgramDfCap)
          .select($"id_a", $"id_b"))
      val und = pairs.select($"id_a".as("z"), $"id_b".as("nb"))
        .unionAll(pairs.select($"id_b".as("z"), $"id_a".as("nb")))
      // degree attach as ONE window over z (r18 — the dfCapKept
      // window-shape trick, guide §2.4): replaces groupBy + join-back
      // (which exchanged und twice and cached two frames) with a single
      // exchange that also leaves the edge list hash-partitioned on the
      // self-join key z, so the common-neighbor join reuses it on both
      // sides. Same (z, nb, dg) rows.
      val sized = CacheRegistry.persist(und.withColumn("dg",
        count(lit(1)).over(Window.partitionBy($"z"))))
      // hub cut BEFORE the self-join — the deg² fan-out guard;
      // no-silent-caps: count + record the hubs the cap excludes
      // (deferred to post-action, r18 — see dfCapKept)
      graft.CapStats.recordDeferred("c2_adamic_adar")(
        sized.filter($"dg" > AaHubCap).select($"z").distinct().count()) { nHubs =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"c2_adamic_adar: dropped $nHubs hub nodes with degree > $AaHubCap " +
            "from the common-neighbor enumeration (scores through those hubs " +
            "are excluded; a hub's 1/ln(deg) weight is ~noise by design)")
      }
      val el = sized.filter($"dg" <= AaHubCap)
      val cn = el.select($"z", $"nb".as("x"), $"dg")
        .join(el.select($"z".as("z2"), $"nb".as("y")),
          $"z" === $"z2" && $"x" < $"y")
      cn.join(pairs, $"x" === $"id_a" && $"y" === $"id_b", "left_anti")
        .groupBy($"x", $"y")
        .agg(count(lit(1)).as("n_common"),
          sum(floor(lit(1000000.0) / log($"dg")).cast(LongType))
            .cast(LongType).as("score_e6"))
        .select($"x".as("id_a"), $"y".as("id_b"), $"n_common", $"score_e6")
        .orderBy($"score_e6".desc, $"id_a", $"id_b")
        .limit(20)
    }
  )

  // ------------------------------------------- k-center coreset curve
  /** Exemplar/coreset selection curve — the data-selection question
    * ("how many exemplars until the corpus is covered?") behind active
    * learning and SemDeDup-style diversity pruning: run the SAME
    * deterministic k-center greedy the IVF quantizer uses ([[kCenterSeeds]],
    * min-max-cosine farthest-point, ties to lowest vec_id) out to 16
    * exemplars, then for every prefix k report corpus coverage — the
    * minimum and mean over ALL vectors of each vector's best cosine to
    * the first k exemplars. Reading the curve tells you where coverage
    * plateaus, i.e. how many exemplars a labeling/audit pass actually
    * needs.
    *
    * Exactness: the greedy is sample-bounded and replayed verbatim by
    * the oracle's recursive CTE (the c3_ivf seed discipline, fixed K
    * instead of the adaptive cell count); per-(vector, step) coverage is
    * a pure running MAX over per-seed cosines (float compare only — no
    * accumulation), floored at e6 BEFORE the min/sum rollup.
    *
    * Scale shape: the 16-exemplar frame rides a broadcast past ONE
    * corpus scan (bounded ×16 fan-out), the running max is a per-vector
    * window over 16 rows, and the rollup partial-aggregates to 16 rows.
    * The greedy's collect is the audited md5Sample(1024) bound.
    */
  private val CoresetK = 16
  private def c3coOracle: String = {
    import AnnSql._
    val seedMs = (0 until dim).map(i =>
      s"CAST(s.embedding[${i + 1}] AS FLOAT) AS m$i").mkString(", ")
    s"""WITH RECURSIVE
       |corpus AS (SELECT vec_id, embedding, $n2Emb AS n2 FROM embeddings),
       |sample AS (SELECT vec_id, embedding, n2 FROM corpus
       |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1024),
       |nk AS (SELECT least($CoresetK, count(*)) AS k FROM sample),
       |greedy(ord, vids) AS (
       |  SELECT CAST(1 AS BIGINT), [(SELECT min(vec_id) FROM sample)]
       |  UNION ALL
       |  SELECT g.ord + 1, list_append(g.vids, (
       |    SELECT c.vec_id
       |    FROM sample c JOIN sample s ON list_contains(g.vids, s.vec_id)
       |    WHERE NOT list_contains(g.vids, c.vec_id)
       |    GROUP BY c.vec_id
       |    ORDER BY max((${dotp("c", "s")}) / (sqrt(c.n2) * sqrt(s.n2))) ASC, c.vec_id ASC
       |    LIMIT 1))
       |  FROM greedy g WHERE g.ord < (SELECT k FROM nk)),
       |seedvids AS (SELECT vids FROM greedy WHERE ord = (SELECT k FROM nk)),
       |seeds0 AS (
       |  SELECT list_position(v.vids, s.vec_id) - 1 AS j, $seedMs, s.n2
       |  FROM seedvids v, sample s WHERE list_contains(v.vids, s.vec_id)),
       |sims AS (SELECT e.vec_id, s.j, ($simM) AS sim
       |  FROM corpus e CROSS JOIN seeds0 s),
       |cum AS (SELECT vec_id, j,
       |  CAST(floor(1000000.0 * max(sim) OVER (PARTITION BY vec_id ORDER BY j)) AS BIGINT) AS cov
       |  FROM sims)
       |SELECT CAST(j + 1 AS BIGINT) AS step,
       |  CAST(COUNT(*) AS BIGINT) AS n_vec,
       |  CAST(MIN(cov) AS BIGINT) AS cov_min_e6,
       |  CAST(SUM(cov) // COUNT(*) AS BIGINT) AS cov_avg_e6
       |FROM cum GROUP BY j ORDER BY step""".stripMargin
  }
  private val c3co = QuerySpec(
    "c3_coreset",
    s"K-center coreset/exemplar coverage curve: the deterministic IVF greedy run to $CoresetK exemplars, then per prefix k the corpus-wide min and mean best-cosine coverage (e6-floored before the rollup) — broadcast x16 fan-out past one corpus scan, per-vector 16-row running-max window, 16-row partial-agged rollup.",
    Some(c3coOracle),
    (s, d) => {
      import s.implicits._
      val e = CacheRegistry.persist(Tables.embeddings(s, d)
        .select($"vec_id", $"embedding", TierC.dot($"embedding", $"embedding").as("n2")))
      val seeds = ivfSeeds(s, e, CoresetK, 1024)
      val seedDf = seeds.zipWithIndex
        .map { case ((m, n2), j) => (j.toLong, m, n2) }
        .toDF("j", "m", "sn2")
      val wCum = Window.partitionBy($"vec_id").orderBy($"j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.crossJoin(broadcast(seedDf))
        .select($"vec_id", $"j",
          (TierC.dot($"embedding", $"m") / (sqrt($"n2") * sqrt($"sn2"))).as("sim"))
        .select($"vec_id", $"j",
          floor(lit(1000000.0) * max($"sim").over(wCum)).cast(LongType).as("cov"))
        .groupBy(($"j" + 1L).as("step"))
        .agg(count(lit(1)).as("n_vec"),
          min($"cov").as("cov_min_e6"),
          expr("sum(cov) div count(*)").cast(LongType).as("cov_avg_e6"))
        .orderBy($"step")
    }
  )

  // ------------------------------------------------ edit-distance join
  /** Levenshtein parameters for [[c2ej]]: unit-cost edit distance ≤
    * [[EditK]], candidates via distinct character trigrams (q = 3). The
    * count filter is the q-gram lemma's threshold max(|Ga|,|Gb|) − k·q
    * applied to DISTINCT capped grams — with multiset grams the lemma is
    * exact; over distinct+capped grams it is the operator's DECLARED
    * candidate contract (like every cap here, recall-trimming and
    * mirrored op-for-op in the oracle, so the gate holds engaged).
    */
  private val EditK = 20
  private val EditQ = 3

  /** Banded Levenshtein DP: O(len·k), exact whenever the true distance is
    * ≤ k (cells with |i−j| > k cannot participate in a ≤ k alignment),
    * saturating at k+1 otherwise — the verify step only keeps ≤ k, so
    * the saturation is invisible. Unit costs match DuckDB's
    * `levenshtein` (codepoint-equal on this corpus's ASCII text).
    */
  private[graft] def levenshteinBanded(a: String, b: String, k: Int): Int = {
    val m = a.length; val n = b.length
    if (math.abs(m - n) > k) return k + 1
    val inf = k + 1
    var prev = Array.tabulate(n + 1)(j => if (j <= k) j else inf)
    var cur = new Array[Int](n + 1)
    var i = 1
    while (i <= m) {
      java.util.Arrays.fill(cur, inf)
      cur(0) = if (i <= k) i else inf
      val lo = math.max(1, i - k); val hi = math.min(n, i + k)
      var j = lo
      while (j <= hi) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        if (prev(j) + 1 < v) v = prev(j) + 1
        if (cur(j - 1) + 1 < v) v = cur(j - 1) + 1
        cur(j) = math.min(v, inf)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    math.min(prev(n), inf)
  }

  // The verify stage rides Spark's built-in 3-arg levenshtein(l, r, k) —
  // codegen'd banded DP with early exit, no serde hop — returning -1 above
  // the threshold (filtered with the <= k predicate; -1 < 0 <= k never
  // leaks). [[levenshteinBanded]] stays as the arithmetic reference the
  // spec pins the builtin against (both must match DuckDB's full DP).

  /** Edit-distance near-dup join — the CHARACTER-level member of the
    * dedup family (catches the OCR-noise / typo / small-patch duplicates
    * token-set Jaccard structurally misses): within the `source` block,
    * candidates sharing enough distinct capped trigrams (q-gram count
    * filter + n_chars length filter, both at the join) are verified by
    * an exact banded Levenshtein ≤ [[EditK]].
    *
    * Scale shape: the same df-capped inverted-index join as the other
    * mines (shuffle on (source, gram), candidate volume ≤ N·cap), and the
    * O(len·k) DP runs ONLY on surviving candidates — texts are joined
    * back by id for the verify, never carried through the gram explode.
    */
  private val c2ej = QuerySpec(
    "c2_edit_join",
    s"Edit-distance near-dup join: distinct char-trigram candidates (df-capped at $NgramDfCap, count filter shared >= max(|Ga|,|Gb|) - ${EditK * EditQ}, |n_chars| diff <= $EditK at the join), exact banded Levenshtein <= $EditK verify — the character-level duplicate detector (typos/OCR noise) token Jaccard misses. Oracle replays the capped candidate chain and verifies with DuckDB's levenshtein().",
    Some(s"""WITH t AS (SELECT doc_id, source, n_chars, text FROM documents),
            |g AS (SELECT doc_id, source, n_chars,
            |  list_distinct(list_transform(generate_series(1, length(text) - 2),
            |    i -> substr(text, CAST(i AS INTEGER), 3))) AS gs
            |  FROM t WHERE length(text) >= 3),
            |e AS (SELECT doc_id, source, n_chars, len(gs) AS sz, unnest(gs) AS gram FROM g),
            |dfk AS (SELECT source, gram FROM e GROUP BY source, gram
            |  HAVING COUNT(*) <= $NgramDfCap),
            |kk AS (SELECT e.* FROM e JOIN dfk USING (source, gram)),
            |pp AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b,
            |    a.sz AS sa, c.sz AS sb, COUNT(*) AS shared
            |  FROM kk a JOIN kk c ON a.source = c.source AND a.gram = c.gram
            |    AND a.doc_id < c.doc_id AND abs(a.n_chars - c.n_chars) <= $EditK
            |  GROUP BY 1, 2, 3, 4),
            |cand AS (SELECT id_a, id_b FROM pp
            |  WHERE shared >= greatest(1, greatest(sa, sb) - ${EditK * EditQ})),
            |v AS (SELECT cand.id_a, cand.id_b,
            |    CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist
            |  FROM cand JOIN t ta ON ta.doc_id = cand.id_a
            |    JOIN t tb ON tb.doc_id = cand.id_b)
            |SELECT id_a, id_b, edit_dist FROM v WHERE edit_dist <= $EditK
            |ORDER BY id_a, id_b""".stripMargin),
    (s, d) => editDistanceJoin(s, Tables.documents(s, d), EditK)
  )

  /** The c2_edit_join pipeline over any (doc_id, source, n_chars, text)
    * frame; `k` must be ≤ [[EditK]] for the shared banded DP to stay
    * exact (the UDF bands at EditK).
    */
  def editDistanceJoin(s: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    require(k <= EditK, s"editDistanceJoin: k=$k exceeds the DP band $EditK")
    val triUdf = udf { (t: String) =>
      t.sliding(EditQ).filter(_.length == EditQ).toArray.distinct
    }
    val base = docs.select($"doc_id", $"source", $"n_chars", $"text")
    val g = base.filter(length($"text") >= EditQ)
      .select($"doc_id", $"source", $"n_chars", triUdf($"text").as("gs"))
    val e = g.select($"doc_id", $"source", $"n_chars",
      size($"gs").as("sz"), explode($"gs").as("gram"))
    val kept = dfCapKept(e, Seq("source", "gram"), NgramDfCap, hotPreFilter = false,
      nHot => s"c2_edit_join: dropped $nHot trigrams with df > $NgramDfCap from " +
        "candidate generation (the count filter becomes stricter for pairs " +
        "sharing a dropped gram — recall trimmed, never false positives: the " +
        "Levenshtein verify is exact)")
    val left = kept.select($"doc_id".as("id_a"), $"source",
      $"n_chars".as("na"), $"sz".as("sa"), $"gram")
    val right = kept.select($"doc_id".as("id_b"), $"source".as("source_r"),
      $"n_chars".as("nb"), $"sz".as("sb"), $"gram".as("gram_r"))
    val cand = left.join(right,
        $"source" === $"source_r" && $"gram" === $"gram_r" && $"id_a" < $"id_b" &&
        abs($"na" - $"nb") <= k)
      .groupBy($"id_a", $"id_b", $"sa", $"sb")
      .agg(count(lit(1)).as("shared"))
      .filter($"shared" >= greatest(lit(1L), greatest($"sa", $"sb") - k * EditQ))
      .select($"id_a", $"id_b")
    val ta = base.select($"doc_id".as("id_a"), $"text".as("text_a"))
    val tb = base.select($"doc_id".as("id_b"), $"text".as("text_b"))
    cand.join(ta, Seq("id_a")).join(tb, Seq("id_b"))
      .withColumn("edit_dist",
        levenshtein($"text_a", $"text_b", EditK).cast(LongType))
      .filter($"edit_dist" >= 0 && $"edit_dist" <= k)
      .select($"id_a", $"id_b", $"edit_dist")
      .orderBy($"id_a", $"id_b")
  }

  val specs: Seq[QuerySpec] =
    Seq(c2s, c2sp, c2n, c2ct, c2c, c2dc, c2inc, c2pr, c2tr, c2lp, c1j, c2e, c2sd, c3a, c3i, c3p, c3ps, c3ipq, c3c, c3z, c3km, c3ds, c3cq, c3pi, c3wh, c3mmr, c3fk, c3ed, c2jh, c1r, c3rc,
      c3bh, c3rp, c2kc, c3zc, c2ht, c2lr, c2dh, c3mg, c2cs, c3kp, c3ib, c2gp, c3pd, c2se, c3en, c3cp, c3nh, c3cu, c2ts, c2as, c3ch, c1x, c3mk, c3co, c2aa, c2ej, c3ipqp)
}
