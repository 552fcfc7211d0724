package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{CacheRegistry, QuerySpec}
import graft.sources.Tables

/** Tier B — the relational core (SURVEY.md §2 B1–B36).
  *
  * Every spec is a declarative DataFrame (or `spark.sql`) plan plus the
  * equivalent DuckDB oracle SQL. Hash-match rules (SURVEY.md §7.4):
  * float aggregates go through DECIMAL casts (exact, associative — immune
  * to partition-order float nondeterminism), every query ends in a total
  * ORDER BY whose ties can only be rows identical in all output columns,
  * `events.ts` (parquet ns) is `date_trunc`'d before any comparison, and
  * integer-width differences (Spark INT vs DuckDB BIGINT) are normalized
  * by casting to BIGINT on both sides.
  *
  * Scale posture: all plans are pure Catalyst — pushdown/pruning/AQE apply
  * unchanged on a 1000-executor cluster. Dimension joins broadcast; big
  * joins/aggs shuffle on their natural keys; no collect(), no UDFs.
  */
object TierB {

  private def dec(c: Column, p: Int, s: Int): Column = c.cast(DecimalType(p, s))
  private def ts(s: String): Column = to_timestamp(lit(s))

  /** Final-output rule: aggregate exactly in DECIMAL (order-insensitive),
    * but emit DOUBLE. The driver's compare loads the oracle result through
    * a path that widens DECIMAL to float64 while Spark's parquet keeps
    * Decimal objects — numerically equal yet hash-different (round-2
    * lesson, CORRECTNESS_r02). DECIMAL→DOUBLE is deterministic on both
    * engines as long as the scaled integer stays under 2^53, which every
    * cast here guarantees by first reducing scale.
    */
  private def decDbl(c: Column, scale: Int): Column =
    c.cast(DecimalType(18, scale)).cast(DoubleType)

  // ------------------------------------------------------------------ B1
  private val b1 = QuerySpec(
    "b1_scan",
    "Full parquet scan + count; vectorized reader, no shuffle.",
    Some("SELECT COUNT(*) AS cnt FROM lineitem"),
    (s, d) => Tables.lineitem(s, d).agg(count(lit(1)).as("cnt"))
  )

  // ------------------------------------------------------------------ B2
  private val b2 = QuerySpec(
    "b2_project",
    "Projection + arithmetic; column pruning reaches the scan (ReadSchema).",
    Some("""SELECT l_orderkey, l_linenumber,
            CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
            FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue"""),
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber",
          decDbl(dec($"l_extendedprice", 12, 2) * (dec(lit(1), 3, 2) - dec($"l_discount", 3, 2)), 4)
            .as("revenue"))
        .orderBy($"l_orderkey", $"l_linenumber", $"revenue")
    }
  )

  // ------------------------------------------------------------------ B3
  private val b3 = QuerySpec(
    "b3_filter",
    "Conjunctive/disjunctive predicates, BETWEEN/IN/LIKE; pushed to parquet (PushedFilters).",
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
            WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-06-30 23:59:59'
              AND l_quantity < 25 AND l_returnflag IN ('A','R')
              AND (l_discount BETWEEN 0.02 AND 0.08 OR l_tax > 0.05)
              AND l_linestatus LIKE 'F%'
            ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate"""),
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate".between(ts("1996-01-01 00:00:00"), ts("1997-06-30 23:59:59"))
          && $"l_quantity" < 25 && $"l_returnflag".isin("A", "R")
          && ($"l_discount".between(0.02, 0.08) || $"l_tax" > 0.05)
          && $"l_linestatus".like("F%"))
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_shipdate")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_shipdate")
    }
  )

  // ------------------------------------------------------------------ B4
  private val b4 = QuerySpec(
    "b4_join_inner",
    "Inner equi-join orders⋈customer; AQE picks broadcast vs sort-merge by size.",
    Some("""SELECT o.o_orderkey, c.c_custkey, c.c_name, o.o_totalprice
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY o.o_orderkey"""),
    (s, d) => {
      import s.implicits._
      Tables.orders(s, d).join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"c_custkey", $"c_name", $"o_totalprice")
        .orderBy($"o_orderkey")
    }
  )

  // ------------------------------------------------------------------ B5
  private val b5 = QuerySpec(
    "b5_join_outer",
    "Full outer join preserving unmatched rows on both sides; NULLS FIRST pinned on both engines.",
    Some("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
            FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
            FULL JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
              ON c.c_custkey = o.o_custkey
            ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST"""),
    (s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
      val o = Tables.orders(s, d).filter($"o_orderstatus" === "P")
      c.join(o, $"c_custkey" === $"o_custkey", "full")
        .select($"c_custkey", $"o_orderkey", $"o_totalprice")
        .orderBy($"c_custkey".asc_nulls_first, $"o_orderkey".asc_nulls_first)
    }
  )

  // ------------------------------------------------------------------ B6
  private val b6 = QuerySpec(
    "b6_join_semi_anti",
    "Left-semi and left-anti joins (EXISTS / NOT EXISTS), union-tagged.",
    Some("""SELECT c_custkey, 'semi' AS side FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
            UNION ALL
            SELECT c_custkey, 'anti' AS side FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
            ORDER BY side, c_custkey"""),
    (s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d)
      val f = Tables.orders(s, d).filter($"o_orderstatus" === "F")
      val semi = c.join(f, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", lit("semi").as("side"))
      val anti = c.join(f, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", lit("anti").as("side"))
      semi.union(anti).orderBy($"side", $"c_custkey")
    }
  )

  // ------------------------------------------------------------------ B7
  private val b7 = QuerySpec(
    "b7_join_broadcast",
    "Dimension join customer⋈nation⋈region with explicit broadcast() of both dims — no shuffle of the fact side.",
    Some("""SELECT r_name, n_name, COUNT(*) AS n_cust,
            CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_bal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
    (s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_cust"),
          decDbl(sum(dec($"c_acctbal", 18, 2)), 2).as("sum_bal"))
        .orderBy($"r_name", $"n_name")
    }
  )

  // ------------------------------------------------------------------ B8
  private val b8 = QuerySpec(
    "b8_join_range",
    "Range (theta) join: events bucketed by value range against a broadcast bucket table (BNLJ on the tiny side only — scale-safe).",
    Some("""SELECT b.bucket_id, COUNT(*) AS n,
            CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_val
            FROM events e
            JOIN (SELECT CAST(i AS INT) AS bucket_id, CAST(i AS DOUBLE)*50 AS lo, CAST(i+1 AS DOUBLE)*50 AS hi
                  FROM range(10) t(i)) b
              ON e.value >= b.lo AND e.value < b.hi
            GROUP BY b.bucket_id ORDER BY b.bucket_id"""),
    (s, d) => {
      import s.implicits._
      val buckets = s.range(10).select(
        $"id".cast(IntegerType).as("bucket_id"),
        ($"id".cast(DoubleType) * 50).as("lo"),
        (($"id" + 1).cast(DoubleType) * 50).as("hi"))
      Tables.events(s, d)
        .join(broadcast(buckets), $"value" >= $"lo" && $"value" < $"hi")
        .groupBy($"bucket_id")
        .agg(count(lit(1)).as("n"),
          decDbl(sum(dec($"value", 18, 2)), 2).as("sum_val"))
        .orderBy($"bucket_id")
    }
  )

  // ------------------------------------------------------------------ B9
  private val b9 = QuerySpec(
    "b9_join_asof",
    "As-of join: latest click at-or-before each purchase per user. Spark has no native as-of; expressed as a running MAX over a RANGE window partitioned by the join key — one shuffle on user_id, scale-safe (no global sort).",
    Some("""SELECT p.event_id, p.user_id, date_trunc('second', p.ts) AS tsec,
            (SELECT MAX(date_trunc('second', c.ts)) FROM events c
             WHERE c.user_id = p.user_id AND c.event_type = 'click'
               AND date_trunc('second', c.ts) <= date_trunc('second', p.ts)) AS last_click
            FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id"""),
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"event_type".isin("click", "purchase"))
        .select($"event_id", $"user_id", $"event_type", date_trunc("second", $"ts").as("tsec"))
      val w = Window.partitionBy($"user_id").orderBy($"tsec")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("last_click", max(when($"event_type" === "click", $"tsec")).over(w))
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"tsec", $"last_click")
        .orderBy($"event_id")
    }
  )

  // ----------------------------------------------------------------- B9b
  /** Tolerance-bounded as-of: same one-shuffle range-window rewrite as
    * b9, but the frame is `RANGE BETWEEN 300 PRECEDING AND CURRENT ROW`
    * over epoch seconds — a stale click older than the tolerance no
    * longer matches (the reference semantics of every asof-with-tolerance
    * API). Epoch-second longs cross engines losslessly.
    */
  private val b9b = QuerySpec(
    "b9b_asof_tolerance",
    "As-of join with tolerance: latest click within 300s at-or-before each purchase per user — bounded RANGE window over epoch seconds, one shuffle, no global sort.",
    Some("""SELECT p.event_id, p.user_id,
            CAST(epoch(date_trunc('second', p.ts)) AS BIGINT) AS ts_s,
            (SELECT MAX(CAST(epoch(date_trunc('second', c.ts)) AS BIGINT)) FROM events c
             WHERE c.user_id = p.user_id AND c.event_type = 'click'
               AND epoch(date_trunc('second', c.ts)) <= epoch(date_trunc('second', p.ts))
               AND epoch(date_trunc('second', c.ts)) >= epoch(date_trunc('second', p.ts)) - 300) AS last_click_s
            FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id"""),
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"event_type".isin("click", "purchase"))
        .select($"event_id", $"user_id", $"event_type",
          unix_timestamp(date_trunc("second", $"ts")).as("ts_s"))
      val w = Window.partitionBy($"user_id").orderBy($"ts_s").rangeBetween(-300, 0)
      e.withColumn("last_click_s", max(when($"event_type" === "click", $"ts_s")).over(w))
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts_s", $"last_click_s")
        .orderBy($"event_id")
    }
  )

  // ----------------------------------------------------------------- B10
  private val b10 = QuerySpec(
    "b10_cross",
    "Cross join of two bounded dimensions (region × nation).",
    Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
            ORDER BY r_name, n_name"""),
    (s, d) => {
      import s.implicits._
      Tables.region(s, d).crossJoin(Tables.nation(s, d))
        .select($"r_name", $"n_name").orderBy($"r_name", $"n_name")
    }
  )

  // ----------------------------------------------------------------- B11
  /** Flagship: TPC-H Q1-shaped pricing summary (scan→filter→hash-agg→sort).
    * Partial aggregation (map-side combine) collapses 600k rows to 6 groups
    * before the shuffle — the canonical 100 TB-safe aggregate shape.
    */
  private[graft] val b11 = QuerySpec(
    "b11_agg_groupby",
    "Hash aggregation, TPC-H Q1 shape: sums/avgs/count by (returnflag, linestatus). DECIMAL casts before SUM keep it exact and order-insensitive.",
    Some("""SELECT l_returnflag, l_linestatus,
            CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
            CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
                     * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
            CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
            COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""),
    (s, d) => {
      import s.implicits._
      val cnt = count(lit(1))
      Tables.lineitem(s, d)
        .filter($"l_shipdate" <= ts("2000-12-01 00:00:00"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          decDbl(sum(dec($"l_quantity", 18, 2)), 2).as("sum_qty"),
          decDbl(sum(dec($"l_extendedprice", 18, 2)), 2).as("sum_base_price"),
          // disc_price/charge in pure decimal arithmetic (exact, associative),
          // cast to double at the NATURAL scale: a decimal scale-down before
          // the double cast is not cross-engine-safe (DuckDB truncates where
          // Spark rounds HALF_UP — seen live on .1250 ties at sf0.01).
          sum(dec($"l_extendedprice", 12, 2) * (dec(lit(1), 3, 2) - dec($"l_discount", 3, 2)))
            .cast(DoubleType).as("sum_disc_price"),
          sum(dec($"l_extendedprice", 12, 2) * (dec(lit(1), 3, 2) - dec($"l_discount", 3, 2))
              * (dec(lit(1), 3, 2) + dec($"l_tax", 3, 2)))
            .cast(DoubleType).as("sum_charge"),
          (sum(dec($"l_quantity", 18, 2)).cast(DoubleType) / cnt).as("avg_qty"),
          (sum(dec($"l_extendedprice", 18, 2)).cast(DoubleType) / cnt).as("avg_price"),
          (sum(dec($"l_discount", 18, 4)).cast(DoubleType) / cnt).as("avg_disc"),
          cnt.as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }
  )

  // ----------------------------------------------------------------- B12
  private val b12 = QuerySpec(
    "b12_agg_distinct",
    "Exact distinct aggregation (expand-based COUNT DISTINCT).",
    Some("""SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
            COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).groupBy($"l_returnflag")
        .agg(countDistinct($"l_suppkey").as("n_supp"),
          countDistinct($"l_partkey").as("n_part"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    }
  )

  // ----------------------------------------------------------------- B13
  private val b13 = QuerySpec(
    "b13_agg_hll",
    "Approximate distinct via HyperLogLog++ (no oracle: approx ⇒ not hash-matchable; bounds asserted in ScalaTest).",
    None,
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).groupBy($"l_returnflag")
        .agg(approx_count_distinct($"l_suppkey").as("approx_supp"),
          approx_count_distinct($"l_partkey").as("approx_part"))
        .orderBy($"l_returnflag")
    }
  )

  // ---------------------------------------------------------------- B13b
  /** Approximate percentiles, the HLL's quantile sibling. Accuracy 1e5
    * keeps every sf0.01 group inside the sketch's exact regime, so the
    * verify-gate output is deterministic across partitionings (a merged
    * GK summary over MORE rows than `accuracy` is legitimately
    * merge-order-dependent — that mode is bench-only at sf0.1).
    */
  private val b13b = QuerySpec(
    "b13b_approx_quantile",
    "Approximate p50/p95 of extended price per return flag via percentile_approx (no oracle: approx ⇒ not hash-matchable; rank-error bound asserted in ScalaTest). Scalar columns only: the driver's no-oracle recorder cannot hash ARRAY cells.",
    None,
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).groupBy($"l_returnflag")
        .agg(percentile_approx($"l_extendedprice", array(lit(0.5), lit(0.95)),
          lit(100000)).as("approx_p"))
        .select($"l_returnflag",
          element_at($"approx_p", 1).as("p50"),
          element_at($"approx_p", 2).as("p95"))
        .orderBy($"l_returnflag")
    }
  )

  // ---------------------------------------------------------------- B13c
  /** Count-Min Sketch heavy-hitter estimates (custom typed Aggregator —
    * functions/CountMin.scala). One pass, fixed state, merge is
    * elementwise addition: partial aggregation applies and the result is
    * bit-deterministic on any partitioning — no oracle only because the
    * sketch is custom, not because the output varies; ScalaTest pins the
    * CMS guarantee (never underestimates, bounded overestimate).
    */
  private val cmsUdaf = udaf(new graft.functions.CountMin.CmsAggregator(4, 1024))
  private val cmsEstUdf = udf { (depth: Int, width: Int, counters: Seq[Long], key: Long) =>
    graft.functions.CountMin.Sketch(depth, width, counters.toArray).estimate(key)
  }
  /** DuckDB replay of the CMS sketch (converts b13c from no-oracle to
    * hash-checked — the c4_winnow mod-2^64 discipline applied to
    * splitmix64): each finalizer step is one CTE stage over named
    * columns (nesting the steps as macros blows the expression tree up
    * exponentially — measured as a DuckDB parser OOM), the 64-bit
    * multiply wrap splits at 2^32 so every intermediate fits HUGEINT,
    * XOR runs in the signed-BIGINT domain (same bits), and `%` on
    * signed BIGINT is dividend-sign remainder in both engines. Counter
    * cells are exact integer GROUP BY counts; estimate = least over the
    * 4 rows with COALESCE 0 for never-touched cells.
    */
  /** splitmix64-in-SQL building blocks, shared by the b13c (Count-Min) and
    * b13d (HLL) oracle replays: unsigned-HUGEINT domain, the 64-bit
    * multiply wrap split at 2^32, XOR run through signed BIGINT (same
    * bits) — see b13cOracle's stage-per-CTE rationale.
    */
  private object Sm64Sql {
    val m64 = BigInt(1) << 64
    val m32 = BigInt(1) << 32
    val half = BigInt(1) << 63
    val c1 = BigInt("9e3779b97f4a7c15", 16)
    val c2 = BigInt("bf58476d1ce4e5b9", 16)
    val c3 = BigInt("94d049bb133111eb", 16)
    def toU(col: String) =
      s"(CASE WHEN $col < 0 THEN CAST($col AS HUGEINT) + $m64 ELSE CAST($col AS HUGEINT) END)"
    def toS(col: String) =
      s"CAST(CASE WHEN $col >= $half THEN $col - $m64 ELSE $col END AS BIGINT)"
    def wrapMul(col: String, b: BigInt) =
      s"(($col % $m32) * $b + ((($col // $m32) * $b) % $m32) * $m32) % $m64"
    def xs(col: String, sh: Int) =
      toU(s"xor(${toS(col)}, CAST($col // ${BigInt(1) << sh} AS BIGINT))")
  }

  private def b13cOracle: String = {
    val (depth, width) = (4, 1024)
    import Sm64Sql._
    def chainCtes(src: String, key: String, pfx: String): String = {
      val rows = 0 until depth
      val adds = rows.map(r => (c1 * (r + 1)) % m64)
      val z0 = rows.map(r => s"((${toU(key)} + ${adds(r)}) % $m64) AS z0_$r").mkString(", ")
      val x0 = rows.map(r => s"${xs(s"z0_$r", 30)} AS x0_$r").mkString(", ")
      val z1 = rows.map(r => s"${wrapMul(s"x0_$r", c2)} AS z1_$r").mkString(", ")
      val x1 = rows.map(r => s"${xs(s"z1_$r", 27)} AS x1_$r").mkString(", ")
      val z2 = rows.map(r => s"${wrapMul(s"x1_$r", c3)} AS z2_$r").mkString(", ")
      val bk = rows.map(r =>
        s"(((${toS(xs(s"z2_$r", 31))} % $width) + $width) % $width) AS b$r").mkString(", ")
      s"""${pfx}0 AS (SELECT $key, $z0 FROM $src),
         |${pfx}1 AS (SELECT $key, $x0 FROM ${pfx}0),
         |${pfx}2 AS (SELECT $key, $z1 FROM ${pfx}1),
         |${pfx}3 AS (SELECT $key, $x1 FROM ${pfx}2),
         |${pfx}4 AS (SELECT $key, $z2 FROM ${pfx}3),
         |${pfx}5 AS (SELECT $key, $bk FROM ${pfx}4)""".stripMargin
    }
    val rows = 0 until depth
    val cnts = rows.map(r =>
      s"cnt$r AS (SELECT b$r AS b, COUNT(*) AS c FROM kb5 GROUP BY 1)").mkString(",\n")
    val joins = rows.map(r => s"LEFT JOIN cnt$r ON cnt$r.b = pb5.b$r").mkString("\n")
    val least = rows.map(r => s"COALESCE(cnt$r.c, 0)").mkString(", ")
    s"""WITH lk AS (SELECT CAST(l_suppkey AS BIGINT) AS k FROM lineitem),
       |${chainCtes("lk", "k", "kb")},
       |$cnts,
       |probes AS (SELECT CAST(i AS BIGINT) AS suppkey FROM range(1, 21) t(i)),
       |${chainCtes("probes", "suppkey", "pb")}
       |SELECT pb5.suppkey, least($least) AS est
       |FROM pb5
       |$joins
       |ORDER BY pb5.suppkey""".stripMargin
  }
  private val b13c = QuerySpec(
    "b13c_countmin",
    "Count-Min Sketch frequency estimates for supplier keys 1-20 over lineitem (4x1024 fixed-seed sketch; deterministic merge). Oracle replays splitmix64 bucket hashing mod 2^64 via stepwise HUGEINT CTEs and rebuilds the counter matrix as exact GROUP BY counts; CMS bounds stay asserted in ScalaTest.",
    Some(b13cOracle),
    (s, d) => {
      import s.implicits._
      val sk = Tables.lineitem(s, d).select($"l_suppkey".cast(LongType).as("k"))
        .agg(cmsUdaf($"k").as("sk"))
      val probes = s.range(1, 21).toDF("suppkey")
      sk.crossJoin(probes)
        .select($"suppkey",
          cmsEstUdf($"sk.depth", $"sk.width", $"sk.counters", $"suppkey").as("est"))
        .orderBy($"suppkey")
    }
  )

  // ---------------------------------------------------------------- B13d
  /** The replayable HLL (functions/Hll.scala): distinct parts per return
    * flag with the estimate hash-checked end to end. Scale shape is the
    * ideal distinct-count posture — fixed 64-int state per group, merge is
    * elementwise MAX (associative + commutative + idempotent), so map-side
    * combine collapses every partition to one sketch and the exchange
    * carries |groups| rows regardless of input size; an exact
    * COUNT(DISTINCT) would shuffle every distinct key instead.
    */
  private val hllUdaf = udaf(new graft.functions.Hll.HllAggregator)
  private def b13dOracle: String = {
    import Sm64Sql._
    import graft.functions.Hll.{M, MaxRho}
    // exact integer numerator: alpha_num * m^2 * 2^MaxRho (HUGEINT literal)
    val num = BigInt(70934) * M * M * (BigInt(1) << MaxRho)
    s"""WITH ek AS (SELECT DISTINCT l_returnflag AS g, CAST(l_partkey AS BIGINT) AS k
       |  FROM lineitem),
       |h0 AS (SELECT g, ((${toU("k")} + $c1) % $m64) AS z0 FROM ek),
       |h1 AS (SELECT g, ${xs("z0", 30)} AS x0 FROM h0),
       |h2 AS (SELECT g, ${wrapMul("x0", c2)} AS z1 FROM h1),
       |h3 AS (SELECT g, ${xs("z1", 27)} AS x1 FROM h2),
       |h4 AS (SELECT g, ${wrapMul("x1", c3)} AS z2 FROM h3),
       |h5 AS (SELECT g, ${xs("z2", 31)} AS h FROM h4),
       |rw AS (SELECT g, CAST(h % $M AS BIGINT) AS j, CAST(h // $M AS BIGINT) AS w FROM h5),
       |rr AS (SELECT g, j,
       |    CASE WHEN w = 0 THEN $MaxRho ELSE 1 + bit_count((w & -w) - 1) END AS rho
       |  FROM rw),
       |mx AS (SELECT g, j, MAX(rho) AS mj FROM rr GROUP BY g, j),
       |grid AS (SELECT gg.g, gs.j
       |  FROM (SELECT DISTINCT g FROM ek) gg
       |  CROSS JOIN (SELECT CAST(unnest(range(0, $M)) AS BIGINT) AS j) gs),
       |regs AS (SELECT grid.g, COALESCE(mx.mj, 0) AS mj
       |  FROM grid LEFT JOIN mx ON grid.g = mx.g AND grid.j = mx.j),
       |zz AS (SELECT g,
       |    SUM(CAST((CAST(1 AS BIGINT) << ($MaxRho - mj)) AS HUGEINT)) AS z,
       |    SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS v
       |  FROM regs GROUP BY g)
       |SELECT g AS l_returnflag,
       |  CAST(CAST('$num' AS HUGEINT) // (100000 * z) AS BIGINT) AS est,
       |  CAST(v AS BIGINT) AS v_empty
       |FROM zz ORDER BY l_returnflag""".stripMargin
  }
  private val b13d = QuerySpec(
    "b13d_hll_replay",
    "Distinct l_partkey per return flag via the custom splitmix64 HLL (m=64, trailing-zero rank, integer-only alpha estimate) — the hash-checked sibling of b13_agg_hll: oracle replays the full hash chain, register maxima, and harmonic sum in HUGEINT SQL; accuracy (1.04/sqrt(64)) asserted in ScalaTest.",
    Some(b13dOracle),
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).groupBy($"l_returnflag")
        .agg(hllUdaf($"l_partkey".cast(LongType)).as("h"))
        .select($"l_returnflag", $"h.est".as("est"), $"h.vEmpty".as("v_empty"))
        .orderBy($"l_returnflag")
    }
  )

  // ---------------------------------------------------------------- B13e
  /** The replayable quantile sketch (functions/BottomK.scala): bottom-k
    * (KMV) uniform sample by md5 rank, quantile = sample order statistic.
    * Scale shape: O(k) state per group, union-then-trim merge is a set
    * function of the input (ranks unique) — map-side combine ships one
    * k-row sample per partition per group, and the result is
    * bit-identical under any partitioning, unlike a merged GK summary.
    */
  private val bkqUdaf = udaf(new graft.functions.BottomK.BottomKQuantile(128),
    Encoders.tuple(Encoders.STRING, Encoders.scalaDouble))
  private val b13e = QuerySpec(
    "b13e_bottomk_quantile",
    "Approximate p50/p90 of extended price per return flag via the deterministic bottom-k (KMV) sample sketch, k=128, md5(orderkey*8+linenumber) ranks — the hash-checked sibling of b13b: the oracle replays the sample draw (row_number over md5 rank) and the order-statistic selection exactly; O(1/sqrt(k)) rank error asserted in ScalaTest.",
    Some("""WITH rk AS (SELECT l_returnflag AS g, l_extendedprice AS v,
              md5(CAST(CAST(l_orderkey AS BIGINT) * 8 + l_linenumber AS VARCHAR)) AS r
            FROM lineitem),
          s AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY r) AS rn FROM rk),
          samp AS (SELECT g, v FROM s WHERE rn <= 128),
          o AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rv,
              COUNT(*) OVER (PARTITION BY g) AS n FROM samp)
          SELECT g AS l_returnflag, CAST(MAX(n) AS BIGINT) AS n_sample,
            MAX(CASE WHEN rv = (n - 1) // 2 + 1 THEN v END) AS p50,
            MAX(CASE WHEN rv = (n - 1) * 9 // 10 + 1 THEN v END) AS p90
          FROM o GROUP BY g ORDER BY g"""),
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_returnflag",
          md5(($"l_orderkey".cast(LongType) * 8 + $"l_linenumber").cast(StringType)).as("r"),
          $"l_extendedprice".cast(DoubleType).as("v"))
        .groupBy($"l_returnflag")
        .agg(bkqUdaf($"r", $"v").as("q"))
        .select($"l_returnflag", $"q.n".as("n_sample"), $"q.p50".as("p50"), $"q.p90".as("p90"))
        .orderBy($"l_returnflag")
    }
  )

  // ----------------------------------------------------------------- B14
  private val b14 = QuerySpec(
    "b14_agg_rollup",
    "ROLLUP subtotals over (returnflag, linestatus); NULL group slots normalized to 'ALL' so both engines agree.",
    Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
            CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
            COUNT(*) AS n
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
            ORDER BY rf, ls"""),
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).rollup($"l_returnflag", $"l_linestatus")
        .agg(decDbl(sum(dec($"l_quantity", 18, 2)), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
          coalesce($"l_linestatus", lit("ALL")).as("ls"), $"sum_qty", $"n")
        .orderBy($"rf", $"ls")
    }
  )

  // ---------------------------------------------------------------- B14b
  private val b14b = QuerySpec(
    "b14b_cube",
    "CUBE over (returnflag, linestatus) with grouping_id: all four grouping-set combinations; NULL slots normalized so both engines agree.",
    Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
            CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
            COUNT(*) AS n,
            CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
            ORDER BY gid, rf, ls"""),
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).cube($"l_returnflag", $"l_linestatus")
        .agg(grouping_id().cast(LongType).as("gid"), count(lit(1)).as("n"),
          decDbl(sum(dec($"l_quantity", 18, 2)), 2).as("sum_qty"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
          coalesce($"l_linestatus", lit("ALL")).as("ls"), $"gid", $"n", $"sum_qty")
        .orderBy($"gid", $"rf", $"ls")
    }
  )

  // ---------------------------------------------------------------- B14c
  private val b14c = QuerySpec(
    "b14c_pivot",
    "Pivot: order counts per priority pivoted over status columns; oracle replays with conditional aggregation (pivot's empty cells coalesced to 0 to match COUNT(CASE ...)).",
    Some("""SELECT o_orderpriority,
            COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_cnt,
            COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_cnt,
            COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_cnt
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    (s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .groupBy($"o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .select($"o_orderpriority",
          coalesce($"F", lit(0L)).as("f_cnt"),
          coalesce($"O", lit(0L)).as("o_cnt"),
          coalesce($"P", lit(0L)).as("p_cnt"))
        .orderBy($"o_orderpriority")
    }
  )

  // ----------------------------------------------------------------- B15
  private val b15 = QuerySpec(
    "b15_win_rank",
    "Ranking windows: row_number/rank/dense_rank/ntile, top-3 orders per customer; fully tie-broken ordering.",
    Some("""SELECT * FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rk,
                DENSE_RANK() OVER w AS drk, NTILE(4) OVER w AS nt
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
            ) t WHERE rn <= 3 ORDER BY o_custkey, rn"""),
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      Tables.orders(s, d)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice",
          row_number().over(w).cast(LongType).as("rn"),
          rank().over(w).cast(LongType).as("rk"),
          dense_rank().over(w).cast(LongType).as("drk"),
          ntile(4).over(w).cast(LongType).as("nt"))
        .filter($"rn" <= 3)
        .orderBy($"o_custkey", $"rn")
    }
  )

  // ---------------------------------------------------------------- B15b
  /** Distribution windows — the rank family's missing half: percent_rank
    * (= (rank−1)/(n−1)), cume_dist (= peers≤current / n), nth_value.
    * Both ratios are a SINGLE IEEE division of two exact integers, so
    * they hash-match across engines; the window order is fully tie-broken
    * (price desc, orderkey) so rank inputs are identical everywhere.
    * Same scale posture as b15: one hash-partitioned window per customer,
    * partition sizes bounded by per-customer order counts.
    */
  private val b15b = QuerySpec(
    "b15b_win_distribution",
    "Distribution windows: percent_rank/cume_dist/nth_value per customer over a fully tie-broken order; both ratios are single IEEE divisions of exact integer ranks.",
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
            PERCENT_RANK() OVER w AS pct_rank,
            CUME_DIST() OVER w AS cume,
            NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_best
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
            ORDER BY o_custkey, o_orderkey"""),
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      Tables.orders(s, d)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice",
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          nth_value($"o_orderkey", 2)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("second_best"))
        .orderBy($"o_custkey", $"o_orderkey")
    }
  )

  // ----------------------------------------------------------------- B16
  private val b16 = QuerySpec(
    "b16_win_analytic",
    "Analytic windows: lag/lead/first_value over event time per user (ns ts truncated to seconds for cross-engine stability).",
    Some("""SELECT event_id, user_id, date_trunc('second', ts) AS tsec, value,
            LAG(value, 1) OVER w AS prev_value,
            LEAD(value, 1) OVER w AS next_value,
            FIRST_VALUE(value) OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fst
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id)
            ORDER BY event_id"""),
    (s, d) => {
      import s.implicits._
      val base = Tables.events(s, d)
        .select($"event_id", $"user_id", date_trunc("second", $"ts").as("tsec"), $"value")
      val w = Window.partitionBy($"user_id").orderBy($"tsec", $"event_id")
      base
        .withColumn("prev_value", lag($"value", 1).over(w))
        .withColumn("next_value", lead($"value", 1).over(w))
        .withColumn("fst", first($"value").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy($"event_id")
    }
  )

  // ----------------------------------------------------------------- B17
  private val b17 = QuerySpec(
    "b17_win_frame",
    "Frame-spec windows: running sum (rows unbounded-preceding..current) and 3-row moving average per supplier. Window order includes l_quantity so tie permutations cannot change the sum multiset.",
    Some("""SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity,
            CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_suppkey
              ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE) AS run_qty,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_suppkey
              ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
              / COUNT(*) OVER (PARTITION BY l_suppkey
              ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg
            FROM lineitem
            ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity, run_qty, mov_avg"""),
    (s, d) => {
      import s.implicits._
      val ord = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_quantity")
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mov = ord.rowsBetween(-2, Window.currentRow)
      Tables.lineitem(s, d)
        .select($"l_suppkey", $"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_quantity",
          decDbl(sum(dec($"l_quantity", 18, 2)).over(run), 2).as("run_qty"),
          (sum(dec($"l_quantity", 18, 2)).over(mov).cast(DoubleType) / count(lit(1)).over(mov)).as("mov_avg"))
        .orderBy($"l_suppkey", $"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_quantity", $"run_qty", $"mov_avg")
    }
  )

  // ----------------------------------------------------------------- B18
  private val b18 = QuerySpec(
    "b18_topk",
    "Global top-k: orderBy+limit compiles to TakeOrderedAndProject (per-partition top-k, then k-merge on one reducer — no global sort).",
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100"""),
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
        .limit(100)
    }
  )

  // ----------------------------------------------------------------- B19
  private val b19 = QuerySpec(
    "b19_setops",
    "Set operations with their exact SQL semantics: INTERSECT/EXCEPT (distinct) and UNION ALL, union-tagged.",
    Some("""SELECT 'except' AS op, k FROM (
              SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
              EXCEPT
              SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE') t1
            UNION ALL
            SELECT 'intersect' AS op, k FROM (
              SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
              INTERSECT
              SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE') t2
            UNION ALL
            SELECT 'union_all' AS op, k FROM (
              SELECT DISTINCT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
              UNION ALL
              SELECT DISTINCT c_nationkey AS k FROM customer WHERE c_mktsegment = 'FURNITURE') t3
            ORDER BY op, k"""),
    (s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d)
      def seg(m: String): DataFrame = c.filter($"c_mktsegment" === m).select($"c_nationkey".as("k"))
      val ex = seg("BUILDING").except(seg("AUTOMOBILE")).select(lit("except").as("op"), $"k")
      val in = seg("BUILDING").intersect(seg("AUTOMOBILE")).select(lit("intersect").as("op"), $"k")
      val un = seg("BUILDING").distinct().union(seg("FURNITURE").distinct())
        .select(lit("union_all").as("op"), $"k")
      ex.union(in).union(un).orderBy($"op", $"k")
    }
  )

  // ----------------------------------------------------------------- B20
  private val b20sql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
      |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |ORDER BY o_orderkey""".stripMargin
  private val b20 = QuerySpec(
    "b20_subquery",
    "Scalar subquery + IN-subquery through the SQL entry point; Catalyst decorrelates to joins. Same SQL text runs on both engines.",
    Some(b20sql),
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql(b20sql)
    }
  )

  // ----------------------------------------------------------------- B21
  private val b21 = QuerySpec(
    "b21_str",
    "String functions: upper/lower/substr/length/concat/replace/regexp_extract/trim/LIKE.",
    Some("""SELECT p_partkey, UPPER(p_name) AS up, LOWER(p_brand) AS lob,
            SUBSTR(p_name, 1, 4) AS pre, CAST(LENGTH(p_name) AS BIGINT) AS len,
            CONCAT(p_brand, '#', p_type) AS bt,
            REPLACE(p_name, ' ', '_') AS und,
            REGEXP_EXTRACT(p_name, '([a-z]+)$', 1) AS lastw,
            TRIM(CONCAT(' ', p_name, ' ')) AS trimmed,
            (p_name LIKE '%re%') AS has_re
            FROM part ORDER BY p_partkey"""),
    (s, d) => {
      import s.implicits._
      Tables.part(s, d).select($"p_partkey",
        upper($"p_name").as("up"), lower($"p_brand").as("lob"),
        substring($"p_name", 1, 4).as("pre"), length($"p_name").cast(LongType).as("len"),
        concat($"p_brand", lit("#"), $"p_type").as("bt"),
        expr("replace(p_name, ' ', '_')").as("und"),
        regexp_extract($"p_name", "([a-z]+)$", 1).as("lastw"),
        trim(concat(lit(" "), $"p_name", lit(" "))).as("trimmed"),
        $"p_name".like("%re%").as("has_re"))
        .orderBy($"p_partkey")
    }
  )

  // ---------------------------------------------------------------- B21b
  private val b21b = QuerySpec(
    "b21b_str_extra",
    "Extended string surface: lpad/rpad, translate, levenshtein, split_part, reverse, repeat, instr (all codegen'd built-ins; DuckDB parity verified per function).",
    Some("""SELECT p_partkey,
            LPAD(p_brand, 12, '*') AS lp, RPAD(p_brand, 12, '*') AS rp,
            TRANSLATE(p_type, 'ae', '43') AS tr,
            CAST(LEVENSHTEIN(p_brand, p_type) AS BIGINT) AS lev,
            SPLIT_PART(p_name, ' ', 2) AS second_word,
            REVERSE(p_brand) AS rev, REPEAT(p_brand, 2) AS rep,
            CAST(STRPOS(p_name, 'a') AS BIGINT) AS pos_a
            FROM part ORDER BY p_partkey"""),
    (s, d) => {
      import s.implicits._
      Tables.part(s, d).select($"p_partkey",
        lpad($"p_brand", 12, "*").as("lp"), rpad($"p_brand", 12, "*").as("rp"),
        translate($"p_type", "ae", "43").as("tr"),
        levenshtein($"p_brand", $"p_type").cast(LongType).as("lev"),
        split_part($"p_name", lit(" "), lit(2)).as("second_word"),
        reverse($"p_brand").as("rev"), repeat($"p_brand", 2).as("rep"),
        instr($"p_name", "a").cast(LongType).as("pos_a"))
        .orderBy($"p_partkey")
    }
  )

  // ----------------------------------------------------------------- B22
  private val b22 = QuerySpec(
    "b22_date",
    "Date/time functions: year/month/day, date_trunc, day-diff, interval arithmetic, last_day. Session TZ pinned UTC on both engines.",
    Some("""SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
            CAST(month(o_orderdate) AS BIGINT) AS mo, CAST(day(o_orderdate) AS BIGINT) AS dy,
            CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
            date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS dd,
            o_orderdate + INTERVAL 3 MONTH AS plus3m,
            last_day(o_orderdate) AS ld
            FROM orders ORDER BY o_orderkey"""),
    (s, d) => {
      import s.implicits._
      Tables.orders(s, d).select($"o_orderkey",
        year($"o_orderdate").cast(LongType).as("yr"),
        month($"o_orderdate").cast(LongType).as("mo"),
        dayofmonth($"o_orderdate").cast(LongType).as("dy"),
        date_trunc("month", $"o_orderdate").as("mon"),
        datediff($"o_orderdate", ts("1995-01-01 00:00:00")).cast(LongType).as("dd"),
        expr("o_orderdate + INTERVAL 3 MONTH").as("plus3m"),
        last_day($"o_orderdate").as("ld"))
        .orderBy($"o_orderkey")
    }
  )

  // ----------------------------------------------------------------- B23
  private val b23 = QuerySpec(
    "b23_math",
    "Math functions restricted to the IEEE-deterministic set (round/abs/ceil/floor/sqrt/sign/mod/greatest/least); pow/ln are libm-dependent and excluded from the hash gate by design.",
    Some("""SELECT s_suppkey, ROUND(s_acctbal, 1) AS r1, ABS(s_acctbal) AS ab,
            CAST(CEIL(s_acctbal) AS BIGINT) AS ce, CAST(FLOOR(s_acctbal) AS BIGINT) AS fl,
            SQRT(ABS(s_acctbal)) AS sq, CAST(SIGN(s_acctbal) AS DOUBLE) AS sg,
            s_suppkey % 7 AS md, GREATEST(s_acctbal, 0.0) AS g, LEAST(s_acctbal, 0.0) AS l
            FROM supplier ORDER BY s_suppkey"""),
    (s, d) => {
      import s.implicits._
      Tables.supplier(s, d).select($"s_suppkey",
        round($"s_acctbal", 1).as("r1"), abs($"s_acctbal").as("ab"),
        ceil($"s_acctbal").as("ce"), floor($"s_acctbal").as("fl"),
        sqrt(abs($"s_acctbal")).as("sq"), signum($"s_acctbal").as("sg"),
        ($"s_suppkey" % 7).as("md"),
        greatest($"s_acctbal", lit(0.0)).as("g"), least($"s_acctbal", lit(0.0)).as("l"))
        .orderBy($"s_suppkey")
    }
  )

  // ---------------------------------------------------------------- B23b
  private val b23b = QuerySpec(
    "b23b_stats",
    "Statistical aggregates made order-insensitive: mean/variance/stddev derived from exact DECIMAL sum and sum-of-squares (built-in stddev over doubles is partition-order-dependent in its low bits — unusable under the hash gate); the final double arithmetic replays the identical IEEE chain in the oracle.",
    Some("""SELECT l_returnflag, COUNT(*) AS n,
            CAST(SUM(q) AS DOUBLE) / COUNT(*) AS mean,
            (CAST(SUM(q*q) AS DOUBLE) - CAST(SUM(q) AS DOUBLE) * CAST(SUM(q) AS DOUBLE) / COUNT(*))
              / (COUNT(*) - 1) AS var_samp,
            SQRT((CAST(SUM(q*q) AS DOUBLE) - CAST(SUM(q) AS DOUBLE) * CAST(SUM(q) AS DOUBLE) / COUNT(*))
              / (COUNT(*) - 1)) AS stddev_samp
            FROM (SELECT l_returnflag, CAST(l_quantity AS DECIMAL(18,2)) AS q FROM lineitem) t
            GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => {
      import s.implicits._
      val q = dec($"l_quantity", 18, 2)
      val cnt = count(lit(1))
      val sumQ = sum(q).cast(DoubleType)
      val sumQ2 = sum(q * q).cast(DoubleType)
      val varS = (sumQ2 - sumQ * sumQ / cnt) / (cnt - 1)
      Tables.lineitem(s, d).groupBy($"l_returnflag")
        .agg(cnt.as("n"), (sumQ / cnt).as("mean"),
          varS.as("var_samp"), sqrt(varS).as("stddev_samp"))
        .orderBy($"l_returnflag")
    }
  )

  // ----------------------------------------------------------------- B24
  private val b24 = QuerySpec(
    "b24_array",
    "Array / higher-order functions on dim-64 float embeddings: size, element_at, slice, transform, aggregate (all codegen'd — no UDF). Outputs are scalars only: the driver's row-sorting compare cannot handle array-typed result columns (round-2 lesson), so the HOF results are folded to doubles with a left-association the oracle replays exactly.",
    Some("""SELECT vec_id, label, CAST(len(embedding) AS INT) AS dim,
            CAST(embedding[1] AS DOUBLE) AS first_elem,
            CAST(embedding[64] AS DOUBLE) AS last_elem,
            0.0 + CAST(embedding[1] AS DOUBLE)*CAST(embedding[1] AS DOUBLE)
                + CAST(embedding[2] AS DOUBLE)*CAST(embedding[2] AS DOUBLE)
                + CAST(embedding[3] AS DOUBLE)*CAST(embedding[3] AS DOUBLE)
                + CAST(embedding[4] AS DOUBLE)*CAST(embedding[4] AS DOUBLE) AS sq_head4,
            0.0 + CAST(embedding[1] AS DOUBLE)*2 + CAST(embedding[2] AS DOUBLE)*2
                + CAST(embedding[3] AS DOUBLE)*2 AS doubled_sum
            FROM embeddings ORDER BY vec_id"""),
    (s, d) => {
      import s.implicits._
      Tables.embeddings(s, d).select($"vec_id", $"label",
        size($"embedding").as("dim"),
        element_at($"embedding", 1).cast(DoubleType).as("first_elem"),
        element_at($"embedding", 64).cast(DoubleType).as("last_elem"),
        aggregate(slice($"embedding", 1, 4), lit(0.0),
          (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)).as("sq_head4"),
        aggregate(transform(slice($"embedding", 1, 3), x => x.cast(DoubleType) * lit(2.0)),
          lit(0.0), (acc, x) => acc + x).as("doubled_sum"))
        .orderBy($"vec_id")
    }
  )

  // ----------------------------------------------------------------- B25
  private val b25 = QuerySpec(
    "b25_map",
    "Map functions: map construction, element_at, map_keys, str_to_map. Oracle states the equivalent scalar results directly.",
    Some("""SELECT o_orderkey, o_orderstatus AS st, o_orderpriority AS pr,
            CAST(2 AS INT) AS nkeys, 'prio,status' AS mkeys,
            o_orderpriority AS b_val
            FROM orders ORDER BY o_orderkey"""),
    (s, d) => {
      import s.implicits._
      val m = map(lit("status"), $"o_orderstatus", lit("prio"), $"o_orderpriority")
      val s2m = str_to_map(
        concat(lit("a="), $"o_orderstatus", lit("&b="), $"o_orderpriority"), lit("&"), lit("="))
      Tables.orders(s, d).select($"o_orderkey",
        element_at(m, "status").as("st"), element_at(m, "prio").as("pr"),
        size(m).as("nkeys"),
        // scalar-only output rule: array of keys → joined string
        array_join(sort_array(map_keys(m)), ",").as("mkeys"),
        element_at(s2m, "b").as("b_val"))
        .orderBy($"o_orderkey")
    }
  )

  // ----------------------------------------------------------------- B26
  private val b26 = QuerySpec(
    "b26_json",
    "JSON scalar extraction from the events.props JSON string (Spark get_json_object ≡ DuckDB json_extract_string).",
    Some("""SELECT event_id, json_extract_string(props, '$.k') AS kstr,
            CAST(json_extract_string(props, '$.k') AS BIGINT) AS kval
            FROM events ORDER BY event_id"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d).select($"event_id",
        get_json_object($"props", "$.k").as("kstr"),
        get_json_object($"props", "$.k").cast(LongType).as("kval"))
        .orderBy($"event_id")
    }
  )

  // ----------------------------------------------------------------- B27
  private val b27 = QuerySpec(
    "b27_cond",
    "Conditional/null functions: CASE WHEN, NULLIF, COALESCE.",
    Some("""SELECT o_orderkey,
            CASE WHEN o_totalprice > 300000 THEN 'big'
                 WHEN o_totalprice > 150000 THEN 'mid' ELSE 'small' END AS sz,
            COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS st
            FROM orders ORDER BY o_orderkey"""),
    (s, d) => {
      import s.implicits._
      Tables.orders(s, d).select($"o_orderkey",
        when($"o_totalprice" > 300000, "big")
          .when($"o_totalprice" > 150000, "mid").otherwise("small").as("sz"),
        coalesce(nullif($"o_orderstatus", lit("O")), lit("OPEN")).as("st"))
        .orderBy($"o_orderkey")
    }
  )

  // ----------------------------------------------------------------- B28
  private val b28 = QuerySpec(
    "b28_stream_tumble",
    "Tumbling 1-hour window aggregation (batch analog of the streaming shape; window() start ≡ date_trunc hour).",
    Some("""SELECT date_trunc('hour', ts) AS hr, event_type, COUNT(*) AS n,
            CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_val
            FROM events GROUP BY 1, 2 ORDER BY hr, event_type"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"),
          decDbl(sum(dec($"value", 18, 2)), 2).as("sum_val"))
        .select($"window.start".as("hr"), $"event_type", $"n", $"sum_val")
        .orderBy($"hr", $"event_type")
    }
  )

  // ----------------------------------------------------------------- B29
  private val b29 = QuerySpec(
    "b29_stream_slide",
    "Sliding window (1 hour every 30 min): each event lands in 2 windows; oracle replays the assignment with half-hour truncation + union.",
    Some("""WITH h AS (
              SELECT value, date_trunc('hour', ts)
                     + CASE WHEN EXTRACT(minute FROM ts) >= 30 THEN INTERVAL 30 MINUTE
                            ELSE INTERVAL 0 MINUTE END AS h30
              FROM events),
            two AS (
              SELECT h30 AS ws, value FROM h
              UNION ALL
              SELECT h30 - INTERVAL 30 MINUTE AS ws, value FROM h)
            SELECT ws, COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_val
            FROM two GROUP BY ws ORDER BY ws"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy(window($"ts", "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"),
          decDbl(sum(dec($"value", 18, 2)), 2).as("sum_val"))
        .select($"window.start".as("ws"), $"n", $"sum_val")
        .orderBy($"ws")
    }
  )

  // ----------------------------------------------------------------- B30
  private val b30 = QuerySpec(
    "b30_session",
    "Session windows (6-hour gap) per user via session_window(); oracle replays with gaps-and-islands SQL. Strict `< gap` matches Spark's half-open session intervals.",
    Some("""WITH x AS (SELECT user_id, date_trunc('second', ts) AS tsec FROM events),
            o AS (SELECT user_id, tsec,
                    CASE WHEN tsec - LAG(tsec) OVER (PARTITION BY user_id ORDER BY tsec) < INTERVAL 6 HOUR
                         THEN 0 ELSE 1 END AS brk
                  FROM x),
            s AS (SELECT user_id, tsec,
                    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tsec
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
                  FROM o)
            SELECT user_id, MIN(tsec) AS session_start, MAX(tsec) AS last_ts, COUNT(*) AS n
            FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"user_id", date_trunc("second", $"ts").as("tsec"))
        .groupBy(session_window($"tsec", "6 hours"), $"user_id")
        .agg(min($"tsec").as("session_start"), max($"tsec").as("last_ts"), count(lit(1)).as("n"))
        .select($"user_id", $"session_start", $"last_ts", $"n")
        .orderBy($"user_id", $"session_start")
    }
  )

  // ----------------------------------------------------------------- B34
  private val b34 = QuerySpec(
    "b34_udf",
    "Scalar UDF surface: spark.udf.register + call_udf + inline typed udf(); oracle replays the identical logic in SQL. UDFs break codegen fusion, so they stay out of hot paths (SURVEY §4) — this query exercises the registration surface itself.",
    Some("""SELECT o_orderkey,
            CASE WHEN o_totalprice >= 300000 THEN 'platinum'
                 WHEN o_totalprice >= 150000 THEN 'gold'
                 WHEN o_totalprice >= 50000 THEN 'silver'
                 ELSE 'bronze' END AS band,
            CAST(LENGTH(o_orderpriority) AS BIGINT) AS prio_len
            FROM orders ORDER BY o_orderkey"""),
    (s, d) => {
      import s.implicits._
      s.udf.register("price_band", udf { (p: Double) =>
        if (p >= 300000) "platinum"
        else if (p >= 150000) "gold"
        else if (p >= 50000) "silver"
        else "bronze"
      })
      val lenUdf = udf { (x: String) => x.length.toLong }
      Tables.orders(s, d).select($"o_orderkey",
        call_udf("price_band", $"o_totalprice").as("band"),
        lenUdf($"o_orderpriority").as("prio_len"))
        .orderBy($"o_orderkey")
    }
  )

  // ----------------------------------------------------------------- B35
  /** Typed Aggregator → functions.udaf: exact integer sum-of-squares (the
    * merge is associative+commutative, so partial aggregation and shuffle
    * order can't change the result — the property every custom UDAF must
    * hold at 100 TB).
    */
  private object SumSqLong extends org.apache.spark.sql.expressions.Aggregator[Long, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, a: Long): Long = b + a * a
    def merge(x: Long, y: Long): Long = x + y
    def finish(r: Long): Long = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Long] = org.apache.spark.sql.Encoders.scalaLong
    def outputEncoder: org.apache.spark.sql.Encoder[Long] = org.apache.spark.sql.Encoders.scalaLong
  }

  private val b35 = QuerySpec(
    "b35_udaf",
    "Custom typed UDAF surface (Aggregator + functions.udaf): per-returnflag integer sum-of-squares of quantity; oracle replays with SUM(q*q).",
    Some("""SELECT l_returnflag, CAST(SUM(q*q) AS BIGINT) AS sum_sq, COUNT(*) AS n
            FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem) t
            GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => {
      import s.implicits._
      val sumsq = udaf(SumSqLong)
      Tables.lineitem(s, d)
        .select($"l_returnflag", $"l_quantity".cast(LongType).as("q"))
        .groupBy($"l_returnflag")
        .agg(sumsq($"q").as("sum_sq"), count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    }
  )

  // ----------------------------------------------------------------- B36
  private val b36 = QuerySpec(
    "b36_explode",
    "Generator/UDTF surface: explode(split(text)) — one row per token.",
    Some("""SELECT doc_id, token FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
            WHERE token <> '' ORDER BY doc_id, token"""),
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("token"))
        .filter($"token" =!= "")
        .orderBy($"doc_id", $"token")
    }
  )

  // ----------------------------------------------------------------- B8b
  /** Scalable interval join — the 1D analogue of the PBSM spatial joins
    * (Spatial.scala): B8 proves non-equi semantics on a broadcast-tiny
    * side; this is the shape for two LARGE sides with bounded interval
    * length. Points hash to one width-20 bucket; each interval replicates
    * to the few buckets its span covers; candidates meet in a shuffled
    * EQUI-join on the bucket key and an exact BETWEEN refine — never a
    * BNLJ. Exactly-once emission because a point owns one bucket.
    */
  private val b8b = QuerySpec(
    "b8b_interval_join",
    "Bucketed interval join: events.value against 25 nation-derived ranges [20k-5.03, 20k+5.03] via width-20 bucket equi-join + exact BETWEEN refine; oracle is the plain range-predicate join.",
    Some("""SELECT e.event_id, n.n_nationkey AS range_id
            FROM events e JOIN nation n
              ON e.value BETWEEN 20*CAST(n.n_nationkey AS DOUBLE) - 5.03
                             AND 20*CAST(n.n_nationkey AS DOUBLE) + 5.03
            ORDER BY e.event_id, range_id"""),
    (s, d) => {
      import s.implicits._
      val W = 20.0
      val pts = Tables.events(s, d)
        .select($"event_id", $"value",
          floor($"value" / W).cast(LongType).as("bucket"))
      val ranges = Tables.nation(s, d)
        .select($"n_nationkey".as("range_id"),
          (lit(20.0) * $"n_nationkey".cast(DoubleType) - 5.03).as("lo"),
          (lit(20.0) * $"n_nationkey".cast(DoubleType) + 5.03).as("hi"))
        .withColumn("bucket",
          explode(sequence(floor($"lo" / W).cast(LongType),
            floor($"hi" / W).cast(LongType))))
      pts.join(ranges, Seq("bucket"))
        .filter($"value".between($"lo", $"hi"))
        .select($"event_id", $"range_id")
        .orderBy($"event_id", $"range_id")
    }
  )

  // ---------------------------------------------------------------- B17b
  /** Rolling 24 h anomaly score — the time-RANGE frame B17's row frames
    * don't cover. The frame orders by exact epoch microseconds (Spark's
    * DataFrame rangeBetween needs a numeric order key). µs keying over the
    * ns-precision `events.ts` is bit-stable (SURVEY §7.4 rule 3 audit):
    * Spark reads the ns long and floors with `div 1000` (Tables.events),
    * DuckDB's epoch_us floors the same way for the positive epochs all
    * fixtures carry — verified identical peer sets; and the fixture data is
    * µs-aligned anyway (0 rows with epoch_ns % 1000 != 0 at every SF,
    * checked 2026-08-12). The window accumulates
    * exact integer sums (cents, cents², count), and derives mean/z as one
    * fixed IEEE chain from those integers — the c4_outlier discipline on
    * a sliding window. One shuffle (event_type), window + sort reuse it.
    */
  private val b17b = QuerySpec(
    "b17b_rolling_z",
    "Rolling 24h z-score per event_type over a RANGE frame keyed on epoch microseconds; exact integer window sums, z derived in a replayed IEEE chain.",
    Some("""WITH t AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
              CAST(floor(value*100) AS BIGINT) AS cents FROM events),
            w AS (SELECT event_id, event_type, cents,
              CAST(SUM(cents) OVER win AS BIGINT) AS s1,
              CAST(SUM(cents*cents) OVER win AS BIGINT) AS s2,
              COUNT(*) OVER win AS n
              FROM t WINDOW win AS (PARTITION BY event_type ORDER BY ts_us
                RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW))
            SELECT event_id, event_type, cents, s1, s2, n,
              (CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE))
                / sqrt(greatest(CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE)
                    - (CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE))*(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE)),
                    1.0)) AS z
            FROM w ORDER BY event_id"""),
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"ts_us")
        .rangeBetween(-86400000000L, 0L)
      val mean = $"s1".cast(DoubleType) / $"n".cast(DoubleType)
      Tables.events(s, d)
        .select($"event_id", $"event_type", unix_micros($"ts").as("ts_us"),
          floor($"value" * 100).cast(LongType).as("cents"))
        .withColumn("s1", sum($"cents").over(w))
        .withColumn("s2", sum($"cents" * $"cents").over(w))
        .withColumn("n", count(lit(1)).over(w))
        .select($"event_id", $"event_type", $"cents", $"s1", $"s2", $"n",
          (($"cents".cast(DoubleType) - mean) /
            sqrt(greatest($"s2".cast(DoubleType) / $"n".cast(DoubleType) - mean * mean,
              lit(1.0)))).as("z"))
        .orderBy($"event_id")
    }
  )

  // ----------------------------------------------------------------- B37
  /** Time-series gap-fill (the Timescale `time_bucket_gapfill` shape): a
    * per-group dense hourly grid from group min..max, left join of the real
    * aggregates, zeros for empty buckets plus last-observation-carried-
    * forward of the bucket count. Scale shape: grid generation is one
    * sequence/explode per GROUP (no driver loop), the join and the LOCF
    * window both partition on event_type — one shuffle key end to end.
    * Money stays exact: floor(value*100) cents, never a double→DECIMAL cast.
    */
  private val b37 = QuerySpec(
    "b37_gapfill",
    "Hourly gap-fill per event_type with zero-fill and LOCF of the bucket count; dense grid via sequence/explode, same-key join + window.",
    Some("""WITH b AS (SELECT event_type, date_trunc('hour', min(ts)) AS t0,
              date_trunc('hour', max(ts)) AS t1 FROM events GROUP BY 1),
            g AS (SELECT event_type, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS bucket FROM b),
            a AS (SELECT event_type, date_trunc('hour', ts) AS bucket, COUNT(*) AS cnt,
              CAST(SUM(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents
              FROM events GROUP BY 1, 2)
            SELECT g.event_type, g.bucket,
              COALESCE(a.cnt, 0) AS cnt, COALESCE(a.cents, 0) AS cents,
              last_value(a.cnt IGNORE NULLS) OVER (PARTITION BY g.event_type
                ORDER BY g.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_cnt
            FROM g LEFT JOIN a ON g.event_type = a.event_type AND g.bucket = a.bucket
            ORDER BY g.event_type, g.bucket"""),
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).select($"event_type",
        date_trunc("hour", $"ts").as("bucket"),
        floor($"value" * 100).cast(LongType).as("cents"))
      val agg = ev.groupBy($"event_type", $"bucket")
        .agg(count(lit(1)).as("cnt_raw"), sum($"cents").as("cents_raw"))
      val grid = ev.groupBy($"event_type")
        .agg(min($"bucket").as("t0"), max($"bucket").as("t1"))
        .select($"event_type",
          explode(sequence($"t0", $"t1", expr("interval 1 hour"))).as("bucket"))
      val w = Window.partitionBy($"event_type").orderBy($"bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(agg, Seq("event_type", "bucket"), "left")
        .select($"event_type", $"bucket",
          coalesce($"cnt_raw", lit(0L)).as("cnt"),
          coalesce($"cents_raw", lit(0L)).as("cents"),
          last($"cnt_raw", ignoreNulls = true).over(w).as("locf_cnt"))
        .orderBy($"event_type", $"bucket")
    }
  )

  // ----------------------------------------------------------------- B38
  /** Ordered funnel (view → click → purchase) per user: each stage's
    * timestamp is the min event time strictly after the previous stage.
    * Both windows partition on user_id, so Catalyst reuses one exchange;
    * at 100 TB this is a single hash-partition by user + two local window
    * passes — no self-joins, no row explosion.
    */
  private val b38 = QuerySpec(
    "b38_funnel",
    "Conversion funnel: users with a view, a click strictly after their first view, and a purchase strictly after that click — one row of stage counts.",
    Some("""WITH v AS (SELECT user_id, min(CASE WHEN event_type='view' THEN ts END) AS v_ts
              FROM events GROUP BY 1),
            c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
              JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1),
            p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
              JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1)
            SELECT (SELECT COUNT(v_ts) FROM v) AS n_view,
                   (SELECT COUNT(*) FROM c) AS n_click_after_view,
                   (SELECT COUNT(*) FROM p) AS n_purchase_after_click"""),
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
      Tables.events(s, d)
        .select($"user_id", $"event_type", $"ts")
        .withColumn("v_ts", min(when($"event_type" === "view", $"ts")).over(w))
        .withColumn("c_ts",
          min(when($"event_type" === "click" && $"ts" > $"v_ts", $"ts")).over(w))
        .withColumn("p_ts",
          min(when($"event_type" === "purchase" && $"ts" > $"c_ts", $"ts")).over(w))
        .agg(
          countDistinct(when($"v_ts".isNotNull, $"user_id")).as("n_view"),
          countDistinct(when($"c_ts".isNotNull, $"user_id")).as("n_click_after_view"),
          countDistinct(when($"p_ts".isNotNull, $"user_id")).as("n_purchase_after_click"))
    }
  )

  // ----------------------------------------------------------------- B39
  /** Cohort retention: users bucketed by first-seen day, activity counted
    * at day offsets from that cohort day. Day arithmetic stays in integer
    * datediff; DuckDB's date_trunc('day') returns DATE, so the oracle
    * casts it back to TIMESTAMP to match Spark's type.
    */
  private val b39 = QuerySpec(
    "b39_cohort",
    "Cohort retention matrix: first-seen-day cohorts x day offset -> distinct active users.",
    Some("""WITH f AS (SELECT user_id, CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS cohort
              FROM events GROUP BY 1)
            SELECT f.cohort,
              date_diff('day', f.cohort, CAST(date_trunc('day', e.ts) AS TIMESTAMP)) AS day_offset,
              COUNT(DISTINCT e.user_id) AS active_users
            FROM events e JOIN f ON e.user_id = f.user_id
            GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).select($"user_id", $"ts")
      val f = ev.groupBy($"user_id").agg(date_trunc("day", min($"ts")).as("cohort"))
      ev.join(f, Seq("user_id"))
        .groupBy($"cohort",
          datediff(date_trunc("day", $"ts"), $"cohort").cast(LongType).as("day_offset"))
        .agg(countDistinct($"user_id").as("active_users"))
        .orderBy($"cohort", $"day_offset")
    }
  )

  // ----------------------------------------------------------------- B40
  /** Event-sequence (Markov) transition matrix: per-user next-event via
    * `lead` over (ts, event_id) — the deterministic tiebreak — then a
    * global pair count. One shuffle on user_id for the window; the count
    * aggregates partially map-side. The path-analysis primitive funnels
    * and session flows build on.
    */
  private val b40 = QuerySpec(
    "b40_transitions",
    "Markov transition counts: per-user event sequences via lead over (ts, event_id), grouped into a src->dst transition matrix.",
    Some("""WITH o AS (SELECT user_id, event_type,
              lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
              FROM events)
            SELECT event_type AS src, nxt AS dst, COUNT(*) AS n
            FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"event_type", $"ts", $"event_id")
        .withColumn("nxt", lead($"event_type", 1).over(w))
        .filter($"nxt".isNotNull)
        .groupBy($"event_type".as("src"), $"nxt".as("dst"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"src", $"dst")
    }
  )

  // ----------------------------------------------------------------- B41
  /** Exact nearest-rank percentiles — the deterministic counterpart of
    * B13b's approx_quantile: value at row_number ceil(p·n) under a total
    * order with unique-key tiebreaks, so duplicated quantities can't make
    * the answer partition-dependent. One shuffle on the group key; the
    * window and the final aggregate reuse it. (At 100 TB a single group's
    * sort is the bottleneck — that is inherent to exact percentiles; the
    * approx sketch is the scale path, this is the auditable truth.)
    */
  private val b41 = QuerySpec(
    "b41_percentiles",
    "Exact nearest-rank median and p90 of l_quantity per returnflag via row_number = ceil(p*n) under a unique-key total order.",
    Some("""WITH r AS (SELECT l_returnflag, l_quantity,
              row_number() OVER (PARTITION BY l_returnflag
                ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
              COUNT(*) OVER (PARTITION BY l_returnflag) AS n
              FROM lineitem)
            SELECT l_returnflag,
              MAX(CASE WHEN rn = CAST(ceil(0.5*n) AS BIGINT) THEN l_quantity END) AS median_qty,
              MAX(CASE WHEN rn = CAST(ceil(0.9*n) AS BIGINT) THEN l_quantity END) AS p90_qty,
              CAST(MAX(n) AS BIGINT) AS n
            FROM r GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      import s.implicits._
      val wOrd = Window.partitionBy($"l_returnflag")
        .orderBy($"l_quantity", $"l_orderkey", $"l_linenumber")
      val wAll = Window.partitionBy($"l_returnflag")
      Tables.lineitem(s, d)
        .select($"l_returnflag", $"l_quantity", $"l_orderkey", $"l_linenumber")
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
        .groupBy($"l_returnflag")
        .agg(
          max(when($"rn" === ceil(lit(0.5) * $"n").cast(LongType), $"l_quantity"))
            .as("median_qty"),
          max(when($"rn" === ceil(lit(0.9) * $"n").cast(LongType), $"l_quantity"))
            .as("p90_qty"),
          max($"n").cast(LongType).as("n"))
        .orderBy($"l_returnflag")
    }
  )

  // ---------------------------------------------------------------- B42
  /** Skew-salted join ([[Skew.saltedJoin]]) pinned output-equal to the
    * plain join. A manufactured hot key (~80% of events fold onto `'hot'`)
    * joins its per-key dim; the large side scatters over 8 deterministic
    * salts (hash of `event_id`, no RNG — retries land identically) and
    * the dim replicates once per salt, so the hot key's probe rows spread
    * over 8 reducers instead of piling onto one. The oracle IS the
    * unsalted formulation — hash-match proves salting never changes
    * semantics. At 100 TB this is the tool when one key dominates so hard
    * even AQE's skew split hot-spots, or when the dim side exceeds the
    * broadcast threshold (small dims should broadcast instead — b7).
    * The post-join re-agg on the bare key is safe: partial aggregation
    * combines the hot key map-side before the second exchange.
    */
  private val b42 = QuerySpec(
    "b42_salted_join",
    "Skew-salted join pinned equal to the plain join: manufactured hot key (~80% of rows) scattered over 8 deterministic salts, dim replicated per salt; per-key count + exact cents.",
    Some("""WITH e AS (SELECT event_id, value,
              CASE WHEN user_id % 10 < 8 THEN 'hot' ELSE event_type END AS skey
              FROM events),
            dim AS (SELECT skey AS dkey, COUNT(*) AS key_n FROM e GROUP BY 1)
            SELECT e.skey, CAST(dim.key_n AS BIGINT) AS key_n, COUNT(*) AS n,
              CAST(SUM(CAST(floor(e.value * 100.0) AS BIGINT)) AS BIGINT) AS cents
            FROM e JOIN dim ON e.skey = dim.dkey
            GROUP BY e.skey, dim.key_n ORDER BY e.skey"""),
    (s, d) => {
      import s.implicits._
      val skey = when($"user_id" % 10 < 8, "hot").otherwise($"event_type")
      val e = graft.CacheRegistry.persist(Tables.events(s, d)
        .select($"event_id", $"value", skey.as("skey")))
      val dim = e.groupBy($"skey".as("dkey")).agg(count(lit(1)).as("key_n"))
      Skew.saltedJoin(e, dim, "skey", "dkey", salts = 8, scatterCol = "event_id")
        .groupBy($"skey", $"key_n")
        .agg(count(lit(1)).as("n"),
          sum(floor($"value" * 100.0).cast(LongType)).cast(LongType).as("cents"))
        .select($"skey", $"key_n".cast(LongType).as("key_n"), $"n", $"cents")
        .orderBy($"skey")
    }
  )

  /** The UNSALTED twin of [[b42]] — identical semantics (same oracle
    * SQL), plain equi-join, no scatter. Exists so the skew soak can
    * MEASURE what salting buys on a Zipf-headed key instead of asserting
    * it: ScaleBench times b42_salted_join and b42b_plain_join on the
    * same skewed tables (r15 directive #4). On uniform fixtures the two
    * should track ~equal (salting costs one extra small exchange); under
    * a hot key the plain join's single reducer becomes the straggler
    * unless AQE's skew split catches it — either way the pair is the
    * measurement.
    */
  private val b42b = QuerySpec(
    "b42b_plain_join",
    "Unsalted twin of b42_salted_join: the identical hot-key aggregation through a plain equi-join — the skew soak's control arm (same oracle, hash-equal by construction).",
    Some("""WITH e AS (SELECT event_id, value,
              CASE WHEN user_id % 10 < 8 THEN 'hot' ELSE event_type END AS skey
              FROM events),
            dim AS (SELECT skey AS dkey, COUNT(*) AS key_n FROM e GROUP BY 1)
            SELECT e.skey, CAST(dim.key_n AS BIGINT) AS key_n, COUNT(*) AS n,
              CAST(SUM(CAST(floor(e.value * 100.0) AS BIGINT)) AS BIGINT) AS cents
            FROM e JOIN dim ON e.skey = dim.dkey
            GROUP BY e.skey, dim.key_n ORDER BY e.skey"""),
    (s, d) => {
      import s.implicits._
      val skey = when($"user_id" % 10 < 8, "hot").otherwise($"event_type")
      val e = graft.CacheRegistry.persist(Tables.events(s, d)
        .select($"event_id", $"value", skey.as("skey")))
      val dim = e.groupBy($"skey".as("dkey")).agg(count(lit(1)).as("key_n"))
      e.join(dim, $"skey" === $"dkey")
        .groupBy($"skey", $"key_n")
        .agg(count(lit(1)).as("n"),
          sum(floor($"value" * 100.0).cast(LongType)).cast(LongType).as("cents"))
        .select($"skey", $"key_n".cast(LongType).as("key_n"), $"n", $"cents")
        .orderBy($"skey")
    }
  )

  // ----------------------------------------------------------------- B43
  /** Full TPC-H composites — the integration rows proving the Tier B
    * operators COMPOSE into the multi-join analytics queries users
    * actually run (the per-operator rows each pin one shape; these pin
    * the planner across 3- and 6-table joins: dimension broadcasts, one
    * fact shuffle, partial aggregation, TakeOrdered top-k — audited in
    * PlanAuditSpec). Revenue follows b11's decimal discipline: exact
    * DECIMAL products summed (order-insensitive), ONE cast to DOUBLE at
    * the natural scale. Q3's o_shippriority column does not exist in the
    * synthetic schema; o_orderpriority stands in (same shape).
    */
  private val b43 = QuerySpec(
    "b43_tpch_q3",
    "TPC-H Q3 shape (shipping-priority top-10): BUILDING segment, orders before / lineitems shipped after the cutoff, 3-table join, decimal revenue, top-10 by (revenue desc, orderkey).",
    Some("""SELECT l_orderkey,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
            o_orderdate, o_orderpriority
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1996-06-15 00:00:00'
              AND l_shipdate > TIMESTAMP '1996-06-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    (s, d) => {
      import s.implicits._
      val cust = Tables.customer(s, d)
        .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
      val ord = Tables.orders(s, d)
        .filter($"o_orderdate" < ts("1996-06-15 00:00:00"))
        .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_orderpriority")
      Tables.lineitem(s, d)
        .filter($"l_shipdate" > ts("1996-06-15 00:00:00"))
        .select($"l_orderkey",
          (dec($"l_extendedprice", 12, 2) * (dec(lit(1), 3, 2) - dec($"l_discount", 3, 2)))
            .as("rev"))
        .join(ord, $"l_orderkey" === $"o_orderkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
        .agg(sum($"rev").cast(DoubleType).as("revenue"))
        .select($"l_orderkey", $"revenue", $"o_orderdate", $"o_orderpriority")
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    }
  )

  // ----------------------------------------------------------------- B44
  private val b44 = QuerySpec(
    "b44_tpch_q5",
    "TPC-H Q5 (local-supplier volume): 6-table join (customer-orders-lineitem-supplier-nation-region), ASIA + one order-year window, customer and supplier nation must match, decimal revenue per nation.",
    Some("""SELECT n_name,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY n_name ORDER BY revenue DESC, n_name"""),
    (s, d) => {
      import s.implicits._
      val asiaNations = Tables.nation(s, d)
        .join(Tables.region(s, d).filter($"r_name" === "ASIA"),
          $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name")
      val supp = Tables.supplier(s, d)
        .join(broadcast(asiaNations), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_nationkey", $"n_name")
      val custOrd = Tables.orders(s, d)
        .filter($"o_orderdate" >= ts("1997-01-01 00:00:00") &&
          $"o_orderdate" < ts("1998-01-01 00:00:00"))
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"c_nationkey")
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_suppkey",
          (dec($"l_extendedprice", 12, 2) * (dec(lit(1), 3, 2) - dec($"l_discount", 3, 2)))
            .as("rev"))
        .join(custOrd, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(supp),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .groupBy($"n_name")
        .agg(sum($"rev").cast(DoubleType).as("revenue"))
        .orderBy($"revenue".desc, $"n_name")
    }
  )

  // ----------------------------------------------------------------- B45
  /** UNPIVOT/melt — the inverse of b14c's pivot: wide per-row measures to
    * long (key, measure, value) triples via the typed `Dataset.unpivot`
    * API (compiles to a single Expand node — one pass, row count × 4, no
    * shuffle until the presentation sort). Values stay RAW doubles (no
    * arithmetic), so the oracle is the plain four-arm UNION ALL.
    */
  private val b45 = QuerySpec(
    "b45_unpivot",
    "Unpivot/melt: lineitem's four measure columns to long (orderkey, linenumber, measure, value) via Dataset.unpivot (single Expand, no shuffle); oracle is the UNION ALL expansion.",
    Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, measure, value
            FROM (
              SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
              UNION ALL
              SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
            ORDER BY l_orderkey, l_linenumber, measure"""),
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber".cast(LongType).as("l_linenumber"),
          $"l_quantity".cast(DoubleType), $"l_extendedprice".cast(DoubleType),
          $"l_discount".cast(DoubleType), $"l_tax".cast(DoubleType))
        .unpivot(Array($"l_orderkey", $"l_linenumber"),
          Array($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax"),
          "measure", "value")
        .orderBy($"l_orderkey", $"l_linenumber", $"measure")
    }
  )

  // ----------------------------------------------------------------- B46
  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — the join B4–B6
    * deliberately leave out: NULL keys MATCH each other instead of
    * dropping. The dim side is the per-key count table including the NULL
    * group, so every probe row (null-keyed included) finds exactly one
    * dim row. Catalyst plans `<=>` as an ordinary hash-join key (null-safe
    * equality is still an equi-join — no nested loop), which the spec's
    * join assertion pins.
    */
  private val b46 = QuerySpec(
    "b46_nullsafe_join",
    "Null-safe equi-join: events joined to their per-key count dim on kval <=> dkey (JSON key absent => NULL; NULL matches the NULL dim group); per-key row counts prove no NULL row was dropped.",
    Some("""WITH e AS (SELECT event_id,
              CASE WHEN event_type = 'click' THEN NULL
                   ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) END AS kval
              FROM events),
            dim AS (SELECT kval AS dkey, COUNT(*) AS key_n FROM e GROUP BY 1)
            SELECT COALESCE(CAST(e.kval AS VARCHAR), 'NULL') AS kgroup,
              CAST(MIN(dim.key_n) AS BIGINT) AS key_n, COUNT(*) AS n
            FROM e JOIN dim ON e.kval IS NOT DISTINCT FROM dim.dkey
            GROUP BY 1 ORDER BY kgroup"""),
    (s, d) => {
      import s.implicits._
      val e = graft.CacheRegistry.persist(Tables.events(s, d)
        .select($"event_id",
          when($"event_type" === "click", lit(null).cast(LongType))
            .otherwise(get_json_object($"props", "$.k").cast(LongType)).as("kval")))
      val dim = e.groupBy($"kval".as("dkey")).agg(count(lit(1)).as("key_n"))
      e.join(dim, $"kval" <=> $"dkey")
        .groupBy(coalesce($"kval".cast(StringType), lit("NULL")).as("kgroup"))
        .agg(min($"key_n").cast(LongType).as("key_n"), count(lit(1)).as("n"))
        .orderBy($"kgroup")
    }
  )

  // ----------------------------------------------------------------- B47
  /** SCD2 interval compression — the warehouse "history table" build:
    * each user's event_type stream collapses to validity intervals
    * [valid_from, valid_to) over CONSECUTIVE equal values (islands), the
    * shape a slowly-changing-dimension merge writes. Classic two-window
    * gaps-and-islands: a change flag via lag, a running SUM of flags as
    * the island id (cast at the window per the OracleLint HUGEINT rule),
    * then one group per island with lead() fetching the next island's
    * start as the exclusive end (NULL = still current). Both windows and
    * the final lead partition on user_id — ONE shuffle key end to end,
    * the b37 discipline. Timestamps are exact microsecond values carried
    * through untouched. The island id is emitted as `version_no` (the
    * SCD2 version column), which also makes the presentation sort a
    * TOTAL order even when timestamp ties straddle island boundaries.
    */
  private val b47 = QuerySpec(
    "b47_scd2",
    "SCD2 history build: per-user event_type islands compressed to [valid_from, valid_to) validity intervals via lag-flag + running-sum island ids + lead() exclusive ends; one user_id shuffle key end to end.",
    Some("""WITH o AS (SELECT user_id, event_type, ts, event_id,
              CASE WHEN lag(event_type) OVER w IS NULL
                     OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            isl AS (SELECT user_id, event_type, ts,
              CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
              FROM o),
            g AS (SELECT user_id, island, MIN(event_type) AS event_type,
              MIN(ts) AS valid_from, COUNT(*) AS n_events
              FROM isl GROUP BY user_id, island)
            SELECT user_id, island AS version_no, event_type, valid_from,
              lead(valid_from) OVER (PARTITION BY user_id ORDER BY island) AS valid_to,
              n_events
            FROM g ORDER BY user_id, version_no"""),
    (s, d) => scd2Intervals(s, d).orderBy(col("user_id"), col("version_no"))
  )

  /** The b47 SCD2 interval build as a reusable frame (also the dimension
    * side of [[b54]]): (user_id, version_no, event_type, valid_from,
    * valid_to, n_events), valid_to NULL on the open current version.
    */
  private def scd2Intervals(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val isl = Tables.events(s, d)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("chg",
        when(lag($"event_type", 1).over(w).isNull ||
          lag($"event_type", 1).over(w) =!= $"event_type", 1L).otherwise(0L))
      .withColumn("island",
        sum($"chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val g = isl.groupBy($"user_id", $"island")
      .agg(min($"event_type").as("event_type"), min($"ts").as("valid_from"),
        count(lit(1)).as("n_events"))
    g.select($"user_id", $"island".as("version_no"), $"event_type", $"valid_from",
      lead($"valid_from", 1)
        .over(Window.partitionBy($"user_id").orderBy($"island")).as("valid_to"),
      $"n_events")
  }

  // ----------------------------------------------------------------- B54
  /** Point-in-time (AS-OF) join against the SCD2 dimension — the
    * feature-store correctness primitive: every probe reads the attribute
    * version valid AT its timestamp, never a later one (no label
    * leakage). Probes are the events themselves shifted +3 h ("what was
    * this user's state three hours after each event"), so probes cross
    * version boundaries and the open current interval both.
    *
    * Shape: ONE equi-join on the user key with the half-open interval
    * refine in the join condition — correct and cheap because an SCD2
    * dimension's versions-per-key is small BY DEFINITION (slowly
    * changing); per-key candidate fan-out = |versions|, and the interval
    * partition guarantees ≤ 1 survivor per probe. For fast-changing
    * per-key history the windowed as-of formulation (b9) is the scale
    * path; this is the dimension-join shape warehouses run.
    */
  private val b54 = QuerySpec(
    "b54_pit_join",
    "Point-in-time join: each event probes the SCD2 state (b47 intervals) as of ts+3h — equi-join on user_id with the half-open [valid_from, valid_to) refine, open current version via NULL valid_to; exactly one version per probe by interval partition.",
    Some("""WITH o AS (SELECT user_id, event_type, ts, event_id,
              CASE WHEN lag(event_type) OVER w IS NULL
                     OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            isl AS (SELECT user_id, event_type, ts,
              CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
              FROM o),
            g AS (SELECT user_id, island, MIN(event_type) AS event_type,
              MIN(ts) AS valid_from FROM isl GROUP BY user_id, island),
            v AS (SELECT user_id, island AS version_no, event_type, valid_from,
              lead(valid_from) OVER (PARTITION BY user_id ORDER BY island) AS valid_to
              FROM g),
            p AS (SELECT event_id, user_id, ts + INTERVAL 3 HOUR AS probe_ts
              FROM events)
            SELECT p.event_id, p.user_id, p.probe_ts,
              v.version_no, v.event_type AS state_at_probe
            FROM p JOIN v ON v.user_id = p.user_id
              AND v.valid_from <= p.probe_ts
              AND (v.valid_to IS NULL OR p.probe_ts < v.valid_to)
            ORDER BY p.event_id"""),
    (s, d) => {
      import s.implicits._
      val v = scd2Intervals(s, d)
        .select($"user_id".as("v_user"), $"version_no", $"event_type",
          $"valid_from", $"valid_to")
      val probes = Tables.events(s, d)
        .select($"event_id", $"user_id",
          ($"ts" + expr("INTERVAL 3 HOUR")).as("probe_ts"))
      probes.join(v,
          $"user_id" === $"v_user" &&
          $"valid_from" <= $"probe_ts" &&
          ($"valid_to".isNull || $"probe_ts" < $"valid_to"))
        .select($"event_id", $"user_id", $"probe_ts",
          $"version_no", $"event_type".as("state_at_probe"))
        .orderBy($"event_id")
    }
  )

  // ----------------------------------------------------------------- B55
  /** Last-touch attribution — the product-analytics op downstream of
    * funnels (b38) and transitions (b40): each conversion (purchase)
    * attributes to the user's most recent touch (click/view) within a
    * 24 h lookback, else counts as unattributed. The carried state is a
    * windowed MAX over a (ts, event_id, type) STRUCT — lexicographic
    * struct order IS the "latest touch, ties to highest id" rule, and
    * both engines compare structs identically, so no packing tricks.
    * One user_id shuffle end to end (the b37/b47 window-sharing
    * discipline); outside-lookback touches null out, not just flag off.
    */
  private val b55 = QuerySpec(
    "b55_attribution",
    "Last-touch attribution: per purchase, the latest click/view touch carried forward by a windowed struct-max on (ts, event_id, type), attributed iff within the 24h lookback (else NULL columns + false); one user_id shuffle.",
    Some("""WITH w AS (SELECT user_id, event_id, ts, event_type,
              max(CASE WHEN event_type IN ('click','view')
                       THEN struct_pack(t := ts, eid := event_id, ty := event_type) END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
              FROM events)
            SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
              CASE WHEN lt.t IS NOT NULL AND lt.t >= ts - INTERVAL 24 HOUR
                   THEN lt.eid END AS touch_id,
              CASE WHEN lt.t IS NOT NULL AND lt.t >= ts - INTERVAL 24 HOUR
                   THEN lt.ty END AS touch_type,
              CASE WHEN lt.t IS NOT NULL AND lt.t >= ts - INTERVAL 24 HOUR
                   THEN lt.t END AS touch_ts,
              (lt.t IS NOT NULL AND lt.t >= ts - INTERVAL 24 HOUR) AS attributed
            FROM w WHERE event_type = 'purchase'
            ORDER BY purchase_id"""),
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val in24h = $"lt.t".isNotNull &&
        $"lt.t" >= $"ts" - expr("INTERVAL 24 HOUR")
      Tables.events(s, d)
        .select($"user_id", $"event_id", $"ts", $"event_type")
        .withColumn("lt",
          max(when($"event_type".isin("click", "view"),
            struct($"ts".as("t"), $"event_id".as("eid"), $"event_type".as("ty"))))
            .over(w))
        .filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("purchase_ts"),
          when(in24h, $"lt.eid").as("touch_id"),
          when(in24h, $"lt.ty").as("touch_type"),
          when(in24h, $"lt.t").as("touch_ts"),
          in24h.as("attributed"))
        .orderBy($"purchase_id")
    }
  )

  // ----------------------------------------------------------------- B56
  /** Mergeable top-k — b50's merge algebra for an ORDER statistic:
    * topk(A ∪ B) = topk(topk(A) ∪ topk(B)), so a standing "biggest
    * orders" board updates from a delta's local top-k without rescanning
    * the base. Computed per slice (pre/post-1997) as TakeOrdered top-5,
    * merged by re-sorting the ≤ 10 survivor rows; the oracle is the
    * direct whole-table top-5, so the hash-match PROVES the merge is
    * lossless. Total order (o_totalprice desc, o_orderkey) — no float
    * ties left to chance.
    */
  private val b56 = QuerySpec(
    "b56_topk_merge",
    "Mergeable top-k: per-slice (pre/post-1997) top-5 orders by (totalprice desc, orderkey), merged by re-sorting the <= 10 survivors; oracle is the direct whole-table top-5 — the merge identity topk(A∪B) = topk(topk(A)∪topk(B)) hash-proved.",
    Some("""SELECT o_orderkey,
              CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
              o_orderdate
            FROM orders
            ORDER BY price DESC, o_orderkey LIMIT 5"""),
    (s, d) => {
      import s.implicits._
      val cut = ts("1997-01-01")
      def sliceTopK(slice: DataFrame): DataFrame =
        slice.select($"o_orderkey", decDbl($"o_totalprice", 2).as("price"),
            $"o_orderdate")
          .orderBy($"price".desc, $"o_orderkey").limit(5)
      val orders = Tables.orders(s, d)
      sliceTopK(orders.filter($"o_orderdate" < cut))
        .unionByName(sliceTopK(orders.filter($"o_orderdate" >= cut)))
        .orderBy($"price".desc, $"o_orderkey").limit(5)
    }
  )

  // ----------------------------------------------------------------- B57
  /** Cumulative reach — "distinct users ever seen, by hour": the classic
    * growth-dashboard series that is WRONG as a naive windowed
    * count-distinct (distinct doesn't partial-aggregate across a running
    * frame; the naive window re-buckets every user every bucket =
    * users × buckets state). The scalable identity: a user contributes to
    * the cumulative count from their FIRST event on, so it is ONE
    * per-user min-aggregate (partial map-side, |users| rows), a
    * |hours|-row count per first-hour, and a running sum over the tiny hour
    * series — the corpus-sized frame is touched exactly once.
    */
  private val b57 = QuerySpec(
    "b57_cumulative_reach",
    "Cumulative distinct-user reach by hour: first-event hour per user (one min-agg over events), users-added per hour, running total over the hour series — never a running count-distinct window.",
    Some("""WITH f AS (SELECT user_id,
              CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) AS first_hour
              FROM events GROUP BY user_id),
            d AS (SELECT first_hour AS hour, COUNT(*) AS new_users
              FROM f GROUP BY first_hour)
            SELECT hour, new_users,
              CAST(SUM(new_users) OVER (ORDER BY hour
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS cumulative_reach
            FROM d ORDER BY hour"""),
    (s, d) => {
      import s.implicits._
      val firstDay = Tables.events(s, d)
        .groupBy($"user_id")
        .agg(date_trunc("hour", min($"ts")).as("first_hour"))
      val hourly = firstDay.groupBy($"first_hour".as("hour"))
        .agg(count(lit(1)).as("new_users"))
      // the running sum's window is over the |hours|-row series — a
      // single-task frame of ~hundreds of rows, not the corpus
      val w = Window.orderBy($"hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hourly
        .withColumn("cumulative_reach", sum($"new_users").over(w))
        .orderBy($"hour")
    }
  )

  // ----------------------------------------------------------------- B58
  /** TPC-H Q21 shape (suppliers-who-kept-the-order-waiting) — the classic
    * multi-self-join planner stress the Q3/Q5/Q18 trio doesn't cover: a
    * correlated EXISTS (another supplier touched the order) AND a
    * correlated NOT EXISTS (no OTHER supplier was late on it), both
    * against the fact table itself. The synthetic lineitem has no
    * commit/receipt dates, so "late" is `l_shipdate > cutoff` — the
    * predicate changes, the EXISTS/NOT-EXISTS self-join topology (the
    * thing Q21 stresses) does not.
    *
    * Spark-first shape: the naive plan is THREE lineitem scans (l1 +
    * semi-join l2 + anti-join l3), each a fact-fact shuffle join. This
    * engine rewrites both correlated arms into ONE per-order supplier
    * profile — `countDistinct(supplier)` ≥ 2 replaces EXISTS(l2),
    * `countDistinct(late supplier) = 1` replaces NOT EXISTS(l3) (l1 is
    * itself late, so the unique late supplier must be l1's) — then joins
    * the late lines back to the qualifying orders. Equivalence is exact,
    * not heuristic: for a late line l1, "no other supplier late" ⇔ "the
    * order's late-supplier set is exactly {l1.supplier}". Cost: one
    * shuffle on l_orderkey for the profile (partial-agg'd map-side) plus
    * one shuffle join back, vs two extra full fact shuffles — at 100 TB
    * the profile is |orders| rows, the EXISTS arms are |lineitem| each.
    * orders('F') and supplier⋈nation ride broadcasts; PlanAuditSpec pins
    * exactly two lineitem scans and zero cartesians. Unlike the spec
    * text's single-nation filter, the group is (nation, supplier) — the
    * join topology is identical and the query stays non-empty at the
    * sf0.001 smoke scale.
    */
  private val b58 = QuerySpec(
    "b58_tpch_q21",
    "TPC-H Q21 shape (waiting-supplier count): late lineitems whose order has >=2 distinct suppliers but exactly one late supplier, status-F orders, grouped per (nation, supplier); EXISTS/NOT-EXISTS arms rewritten to a single per-order countDistinct profile.",
    Some("""SELECT n_name, s_name, COUNT(*) AS numwait
            FROM supplier, lineitem l1, orders, nation
            WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
              AND o_orderstatus = 'F'
              AND l1.l_shipdate > TIMESTAMP '1997-06-15 00:00:00'
              AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                  AND l3.l_shipdate > TIMESTAMP '1997-06-15 00:00:00')
              AND s_nationkey = n_nationkey
            GROUP BY n_name, s_name ORDER BY numwait DESC, n_name, s_name LIMIT 100"""),
    (s, d) => {
      import s.implicits._
      val cutoff = ts("1997-06-15 00:00:00")
      val li = graft.CacheRegistry.persist(Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_suppkey", $"l_shipdate"))
      // Two-level aggregate instead of a double countDistinct: the
      // countDistinct pair planned an Expand that doubled every lineitem
      // row before the shuffle (guide §2.3 — shuffle fewer bytes). Level 1
      // collapses to (order, supplier) grain map-side with an any-late
      // flag; level 2 counts suppliers and late suppliers per order —
      // identical values (countDistinct(supp) = pair-grain row count;
      // countDistinct(when(late, supp)) = pair-grain any-late count).
      // Non-null FK assumption (ADVICE r17): countDistinct skips NULLs but
      // a NULL l_suppkey would form its own pair-grain group here; TPC-H
      // lineitem declares l_suppkey NOT NULL (FK to supplier), and the
      // generator never emits one, so the shapes agree. If this ever feeds
      // a nullable-FK table, add `.filter($"l_suppkey".isNotNull)`.
      val prof = li.groupBy($"l_orderkey".as("p_orderkey"), $"l_suppkey")
        .agg(max(when($"l_shipdate" > cutoff, 1L).otherwise(0L)).as("late"))
        .groupBy($"p_orderkey")
        .agg(count(lit(1)).as("n_supp"), sum($"late").as("n_late_supp"))
        .filter($"n_supp" >= 2 && $"n_late_supp" === 1)
        .select($"p_orderkey")
      val ordF = Tables.orders(s, d)
        .filter($"o_orderstatus" === "F").select($"o_orderkey")
      val supp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_name", $"n_name")
      li.filter($"l_shipdate" > cutoff)
        .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
        .join(prof, $"l_orderkey" === $"p_orderkey")
        .join(ordF, $"l_orderkey" === $"o_orderkey")
        .groupBy($"n_name", $"s_name").agg(count(lit(1)).as("numwait"))
        .orderBy($"numwait".desc, $"n_name", $"s_name")
        .limit(100)
    }
  )

  // ----------------------------------------------------------------- B48
  /** Arbitrary GROUPING SETS — the piece of the B14 family ROLLUP/CUBE
    * can't express: the set list {(rf,ls), (rf), (ls), ()} mixes two
    * independent single-column subtotals, which ROLLUP's prefix lattice
    * and CUBE's full lattice both over- or under-produce. Uses the
    * native `Dataset.groupingSets` (Spark 4.x) so Catalyst plans ONE
    * Expand + ONE hash aggregate — the same single-shuffle shape as
    * rollup/cube, not a UNION ALL of four scans (at 100 TB the Expand
    * costs 4× the agg input rows but reads the fact table once; the
    * UNION ALL alternative reads it four times). The grouping marker is
    * the real `grouping()` function; the oracle replays it as
    * `l_x IS NULL` (exact, because both columns are non-null in the
    * data, so a NULL slot can only come from aggregation).
    */
  private val b48 = QuerySpec(
    "b48_grouping_sets",
    "Arbitrary GROUPING SETS {(rf,ls),(rf),(ls),()} over lineitem via native Dataset.groupingSets — one Expand + one hash agg, not a 4-scan UNION ALL; grouping_id from the real grouping() function, decimal quantity sums.",
    Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
            CAST(CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
               + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END AS BIGINT) AS gid,
            CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
            COUNT(*) AS n
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
            ORDER BY rf, ls"""),
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"),
            Seq($"l_linestatus"), Seq.empty[Column]),
          $"l_returnflag", $"l_linestatus")
        .agg((grouping($"l_returnflag").cast(LongType) * 2 +
            grouping($"l_linestatus").cast(LongType)).as("gid"),
          decDbl(sum(dec($"l_quantity", 18, 2)), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
          coalesce($"l_linestatus", lit("ALL")).as("ls"),
          $"gid", $"sum_qty", $"n")
        .orderBy($"rf", $"ls")
    }
  )

  // ----------------------------------------------------------------- B51
  /** TPC-H Q18 shape (large-volume customers): the HAVING pre-aggregate
    * IS the semi-join — sum quantity per order first (partial-aggregated,
    * one shuffle on the key), keep the > 200 tail, and only those order
    * keys ever reach the orders/customer joins. At 100 TB the pre-agg
    * collapses the fact table to |orders| rows before any join, and the
    * surviving "big" set is tiny (Zipf tail), so both enrichment joins
    * probe with a frame 4–5 orders of magnitude smaller than lineitem.
    * Unlike textbook Q18 the quantity sum is reused from the pre-agg
    * instead of re-joining lineitem per group — same result, one fewer
    * fact-table pass.
    */
  private val b51 = QuerySpec(
    "b51_tpch_q18",
    "TPC-H Q18 (large-volume customers): per-order decimal quantity sums HAVING > 200 as the probe set, enriched through orders->customer, top-100 by (totalprice desc, orderdate, orderkey).",
    Some("""WITH big AS (SELECT l_orderkey,
                  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
                FROM lineitem GROUP BY 1
                HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 200)
            SELECT c.c_name, o.o_custkey, o.o_orderkey, o.o_orderdate,
              CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
              CAST(CAST(big.sq AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
            FROM big
            JOIN orders o ON o.o_orderkey = big.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            ORDER BY o_totalprice DESC, o.o_orderdate, o.o_orderkey
            LIMIT 100"""),
    (s, d) => {
      import s.implicits._
      val big = Tables.lineitem(s, d)
        .groupBy($"l_orderkey")
        .agg(sum(dec($"l_quantity", 18, 2)).as("sq"))
        .filter($"sq" > 200)
      big
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .select($"c_name", $"o_custkey", $"o_orderkey", $"o_orderdate",
          decDbl($"o_totalprice", 2).as("o_totalprice"),
          decDbl($"sq", 2).as("sum_qty"))
        .orderBy($"o_totalprice".desc, $"o_orderdate", $"o_orderkey")
        .limit(100)
    }
  )

  // ----------------------------------------------------------------- B52
  /** Hierarchy flattening (transitive ancestor closure) — the recursive-CTE
    * workload Spark has no native construct for, done as PATH DOUBLING:
    * round k composes the closure with itself (a.anc = b.node), so covered
    * path length doubles per round — 6 rounds reach depth 2⁶ = 64, enough
    * for any Long-keyed binary hierarchy (vs O(depth) rounds for the naive
    * parent-at-a-time walk; at depth 40 that is 6 shuffles instead of 40).
    * Each round persists its frame (CacheRegistry) so the self-join reads
    * a materialized closure — without it the plan tree doubles per round
    * (the 3^N star-contraction family in BENCH_NOTES).
    *
    * The hierarchy is synthetic-but-deterministic (parent = user div 2, the
    * binary-heap encoding) so the closure exercises real chain depths
    * (~log₂ n) from a flat events table. The DuckDB oracle is the genuine
    * recursive CTE over the same derivation.
    */
  private val b52 = QuerySpec(
    "b52_hierarchy_closure",
    "Transitive ancestor closure over the binary-heap hierarchy (parent = user div 2) for every distinct event user: (user, ancestor, depth) rows to the root, via 6 path-doubling self-joins (depth 64 coverage) with per-round persist; oracle is DuckDB's recursive CTE.",
    Some("""WITH RECURSIVE u AS (SELECT DISTINCT user_id FROM events WHERE user_id >= 2),
            anc(user_id, ancestor, depth) AS (
              SELECT user_id, user_id // 2, CAST(1 AS BIGINT) FROM u
              UNION ALL
              SELECT user_id, ancestor // 2, depth + 1 FROM anc WHERE ancestor >= 2)
            SELECT user_id, ancestor, depth FROM anc
            ORDER BY user_id, depth"""),
    (s, d) => {
      import s.implicits._
      val edges = Tables.events(s, d)
        .select($"user_id").distinct()
        .filter($"user_id" >= 2)
        .select($"user_id", expr("user_id div 2").as("ancestor"),
          lit(1L).as("depth"))
      // eager lineage barrier per round, NOT persist: the self-join
      // references the closure twice, so an un-truncated plan doubles per
      // round (measured as a 2.1 MiB task binary by round 6 with
      // persist-only — the starComponents lineage discipline)
      var clo = graft.Par.barrier(edges, eager = true)
      (1 to 6).foreach { _ =>
        val l = clo.select($"user_id", $"ancestor".as("mid"), $"depth".as("d1"))
        val r = clo.select($"user_id".as("mid_r"), $"ancestor", $"depth".as("d2"))
        val composed = l.join(r, $"mid" === $"mid_r")
          .select($"user_id", $"ancestor", ($"d1" + $"d2").as("depth"))
        clo = graft.Par.barrier(clo.unionByName(composed).distinct(), eager = true)
      }
      clo.orderBy($"user_id", $"depth")
    }
  )

  // ----------------------------------------------------------------- B53
  /** Per-key EWMA (exponentially weighted moving average) over each
    * user's event-time-ordered value sequence — the decayed-activity
    * sequence feature Spark has no built-in for (the recurrence
    * y ← y + α(x − y) is not a window aggregate). Done as the
    * sequence-feature pattern: collect the per-user history ONCE
    * (sort_array over a struct, so ordering is the exact (ts, event_id)
    * total order), then fold with the codegen'd `aggregate` higher-order
    * function — no UDF, no per-row state, one shuffle on the key.
    *
    * α = 1/4 exactly (a binary fraction, so α·d is exact IEEE); the fold
    * is the same left-to-right association DuckDB's `list_reduce` uses,
    * so the oracle replays the chain bit-for-bit; output is
    * floor-quantized e6.
    *
    * Scale: state per key = that key's history (the standard bound for
    * sequence features — same contract as session windows); a
    * pathological hot key is one task's array, mitigated upstream by
    * history truncation or time-bucketed pre-folds (the recurrence is
    * NOT associative, so a tree reduction would change the value —
    * truncation is the honest lever, not a silent re-association).
    */
  private val b53 = QuerySpec(
    "b53_ewma",
    "Per-user EWMA (alpha=1/4) over the (ts, event_id)-ordered value sequence via one collect + codegen'd aggregate() left fold — the decayed-activity sequence feature; floor-e6 quantized, exact IEEE replay of DuckDB list_reduce.",
    Some("""SELECT user_id, COUNT(*) AS n_events,
              CAST(floor(list_reduce(
                list(value ORDER BY ts, event_id),
                (acc, x) -> acc + (x - acc) * 0.25) * 1000000) AS BIGINT) AS ewma_e6
            FROM events GROUP BY user_id ORDER BY user_id"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(struct($"ts", $"event_id", $"value")))
            .as("seq"))
        .select($"user_id", $"n_events",
          floor(
            aggregate(
              expr("slice(transform(seq, e -> e.value), 2, size(seq) - 1)"),
              expr("seq[0].value"),
              (acc, x) => acc + (x - acc) * lit(0.25)
            ) * lit(1000000.0)
          ).cast(LongType).as("ewma_e6"))
        .orderBy($"user_id")
    }
  )

  // ----------------------------------------------------------------- B49
  /** Snapshot reconciliation (table diff): classify every key as
    * added / removed / changed / equal-and-dropped between two snapshot
    * frames — the anti-entropy primitive behind CDC validation, backfill
    * audits, and migration sign-off. Snapshots are derived
    * deterministically from `orders` (old = keys ∉ 13ℤ, new = keys ∉ 11ℤ
    * with a price bump on 7ℤ) so the diff exercises all three classes.
    *
    * Scale shape: ONE full-outer shuffle join on the snapshot key, then a
    * map-side CASE — never a collect or a per-column join. Value
    * comparison is on the raw stored doubles (bit equality, no epsilon):
    * both sides read the same parquet, so equality is exact; prices are
    * emitted through the decimal-quantize rule for the hash gate. With
    * both snapshots bucketed by key (ScaleSpec's bucketed-join shape)
    * the Exchange disappears entirely at 100 TB.
    */
  private val b49 = QuerySpec(
    "b49_snapshot_diff",
    "Snapshot diff via one full-outer join on the key: added/removed/changed classification with old/new prices (NULL-padded), equal rows dropped; derived old/new snapshots from orders (drop-13s vs drop-11s with a +1.00 price bump on 7s).",
    Some("""WITH olds AS (SELECT o_orderkey, o_totalprice FROM orders
                          WHERE o_orderkey % 13 <> 0),
            news AS (SELECT o_orderkey,
                       CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                            ELSE o_totalprice END AS o_totalprice
                     FROM orders WHERE o_orderkey % 11 <> 0)
            SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
              CASE WHEN o.o_orderkey IS NULL THEN 'added'
                   WHEN n.o_orderkey IS NULL THEN 'removed'
                   ELSE 'changed' END AS change,
              CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS old_price,
              CAST(CAST(n.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS new_price
            FROM olds o FULL OUTER JOIN news n ON n.o_orderkey = o.o_orderkey
            WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
               OR o.o_totalprice <> n.o_totalprice
            ORDER BY o_orderkey"""),
    (s, d) => {
      import s.implicits._
      val orders = Tables.orders(s, d)
      val olds = orders.filter($"o_orderkey" % 13 =!= 0)
        .select($"o_orderkey".as("k_old"), $"o_totalprice".as("p_old"))
      val news = orders.filter($"o_orderkey" % 11 =!= 0)
        .select($"o_orderkey".as("k_new"),
          when($"o_orderkey" % 7 === 0, $"o_totalprice" + 1.0)
            .otherwise($"o_totalprice").as("p_new"))
      olds.join(news, $"k_old" === $"k_new", "full_outer")
        .filter($"k_old".isNull || $"k_new".isNull || $"p_old" =!= $"p_new")
        .select(coalesce($"k_old", $"k_new").as("o_orderkey"),
          when($"k_old".isNull, "added")
            .when($"k_new".isNull, "removed")
            .otherwise("changed").as("change"),
          decDbl($"p_old", 2).as("old_price"),
          decDbl($"p_new", 2).as("new_price"))
        .orderBy($"o_orderkey")
    }
  )

  // ----------------------------------------------------------------- B50
  /** Algebraic aggregate-state MERGE — the incremental-view-maintenance
    * primitive: partial states (count, decimal sum, min, max) computed
    * independently over two disjoint slices of lineitem, then merged by
    * the state algebra (counts/sums add, min/max fold), with the oracle
    * asserting merged(partials) ≡ aggregate(whole table). At 100 TB this
    * is the shape that lets a daily batch update a year-rolled summary by
    * aggregating ONLY the delta and merging — never rescanning the base;
    * the merge agg is over |groups| rows, not |rows|.
    */
  private val b50 = QuerySpec(
    "b50_agg_merge",
    "Partial-aggregate state merge: (count, decimal sum(qty), min/max shipdate) per (returnflag, linestatus) computed separately over pre/post-1995 lineitem slices, merged by the state algebra; oracle is the direct whole-table aggregate — proving the merge is lossless.",
    Some("""SELECT l_returnflag AS rf, l_linestatus AS ls,
              COUNT(*) AS n,
              CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
              MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship
            FROM lineitem
            GROUP BY 1, 2 ORDER BY rf, ls"""),
    (s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
      def partialState(slice: DataFrame): DataFrame =
        slice.groupBy($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum(dec($"l_quantity", 18, 2)).as("sum_qty_d"),
            min($"l_shipdate").as("first_ship"),
            max($"l_shipdate").as("last_ship"))
      val cut = ts("1995-01-01")
      val merged = partialState(li.filter($"l_shipdate" < cut))
        .unionByName(partialState(li.filter($"l_shipdate" >= cut)))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"n").as("n"),
          sum($"sum_qty_d").as("sum_qty_d"),
          min($"first_ship").as("first_ship"),
          max($"last_ship").as("last_ship"))
      merged.select($"l_returnflag".as("rf"), $"l_linestatus".as("ls"),
          $"n", decDbl($"sum_qty_d", 2).as("sum_qty"),
          $"first_ship", $"last_ship")
        .orderBy($"rf", $"ls")
    }
  )

  // ----------------------------------------------------------------- B59
  /** Time-series resample + gap fill (LOCF — last observation carried
    * forward): the feature-engineering primitive that turns an irregular
    * event stream into a dense per-entity daily series. Differs from
    * [[b37]] in the key cardinality, which flips the binding constraint:
    * b37's spine is per event_type (a handful of keys, each spanning the
    * whole clock — the per-key window is the data), while here the
    * entity key is high-cardinality (users), so the spine build and the
    * fill window must both shard BY ENTITY or a 100 TB run funnels
    * through a few tasks. The spine is
    * generated WITH `sequence()` inside each entity's own row (per-user
    * min/max day → explode), so spine construction is embarrassingly
    * parallel — no driver-side calendar, no cross join against a global
    * date dimension (which at 100 TB would broadcast fine but would also
    * emit spine rows for (user × days-before-first-event), inflating the
    * fill window's input for no information). The carry-forward is
    * `last(value, ignoreNulls)` over a per-user ordered window — at scale
    * the window is partitioned by the entity key, so state never exceeds
    * one user's day range per task, and AQE handles entity skew.
    * Exactness: day sums aggregate in DECIMAL; the first spine day per
    * user is always observed (it IS the user's min), so the fill is
    * never null.
    */
  private val b59 = QuerySpec(
    "b59_gap_fill",
    "Resample events to a dense per-user daily series (per-user sequence() spine, no global calendar cross join) and gap-fill missing days by carrying the last observed decimal day-sum forward; is_gap marks filled rows.",
    Some("""WITH obs AS (SELECT user_id, date_trunc('day', ts) AS day,
              SUM(CAST(value AS DECIMAL(18,4))) AS day_value
            FROM events GROUP BY user_id, day),
            spine AS (SELECT user_id,
              unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day
            FROM obs GROUP BY user_id),
            j AS (SELECT s.user_id, s.day, o.day_value
                  FROM spine s LEFT JOIN obs o USING (user_id, day))
            SELECT user_id, day,
              CAST(CAST(LAST_VALUE(day_value IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(18,4)) AS DOUBLE) AS filled,
              CAST(day_value IS NULL AS BIGINT) AS is_gap
            FROM j ORDER BY user_id, day"""),
    (s, d) => {
      import s.implicits._
      val obs = Tables.events(s, d)
        .select($"user_id", date_trunc("day", $"ts").as("day"),
          dec($"value", 18, 4).as("v"))
        .groupBy($"user_id", $"day").agg(sum($"v").as("day_value"))
      val spine = obs.groupBy($"user_id")
        .agg(min($"day").as("d0"), max($"day").as("d1"))
        .select($"user_id",
          explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
      val w = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(obs, Seq("user_id", "day"), "left")
        .select($"user_id", $"day",
          decDbl(last($"day_value", ignoreNulls = true).over(w), 4).as("filled"),
          $"day_value".isNull.cast(LongType).as("is_gap"))
        .orderBy($"user_id", $"day")
    }
  )

  // ----------------------------------------------------------------- B60
  /** Batch MERGE INTO (CDC apply): base snapshot + a changes feed with
    * U(psert)/D(elete) ops → merged snapshot. The naive relational shape
    * is a FULL OUTER join on the key — which shuffles the ENTIRE base
    * table even when the day's changes are 0.01 % of it. This plan uses
    * the production shape instead: base LEFT JOIN broadcast(changes)
    * (keep / update / delete decided row-local, base never shuffles) ∪
    * changes ANTI JOIN broadcast(matched keys) for the inserts, where the
    * matched-key set is itself produced by streaming base past broadcast
    * changes (≤ |changes| rows out) — so base is scanned, never exchanged.
    * At 100 TB that is the difference between rewriting the table and
    * touching only matched files (the core trick of Delta/Iceberg
    * MERGE with file-level pruning on top). The oracle replays the
    * same semantics as the textbook FULL-JOIN CASE — proving the
    * broadcast decomposition is exactly MERGE.
    */
  private val b60 = QuerySpec(
    "b60_merge_upsert",
    "CDC MERGE apply: base (orders with key%4!=0) merged with a U/D changes feed (key%3==0, price doubled, %9==0 deleted) via base LEFT JOIN broadcast(changes) + changes ANTI JOIN broadcast(matched keys) — base is scanned twice but never exchanged; oracle replays MERGE semantics with plain joins.",
    Some("""WITH base AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
              FROM orders WHERE o_orderkey % 4 <> 0),
            chg AS (SELECT o_orderkey,
              CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS op,
              CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS new_price
              FROM orders WHERE o_orderkey % 3 = 0)
            SELECT o_orderkey, src, CAST(CAST(price AS DECIMAL(18,2)) AS DOUBLE) AS price
            FROM (
              SELECT b.o_orderkey AS o_orderkey,
                CASE WHEN c.op IS NULL THEN 'keep' ELSE 'update' END AS src,
                CASE WHEN c.op IS NULL THEN b.price ELSE c.new_price END AS price
              FROM base b LEFT JOIN chg c ON b.o_orderkey = c.o_orderkey
              WHERE c.op IS NULL OR c.op = 'U'
              UNION ALL
              SELECT c.o_orderkey, 'insert' AS src, c.new_price AS price
              FROM chg c LEFT JOIN base b ON c.o_orderkey = b.o_orderkey
              WHERE c.op = 'U' AND b.o_orderkey IS NULL
            ) ORDER BY o_orderkey"""),
    (s, d) => {
      import s.implicits._
      val orders = Tables.orders(s, d)
      val base = orders.filter($"o_orderkey" % 4 =!= 0)
        .select($"o_orderkey", dec($"o_totalprice", 18, 2).as("price"))
      val chg = orders.filter($"o_orderkey" % 3 === 0)
        .select($"o_orderkey".as("c_orderkey"),
          when($"o_orderkey" % 9 === 0, "D").otherwise("U").as("op"),
          (dec($"o_totalprice", 18, 2) * 2).as("new_price"))
      val kept = base.join(broadcast(chg), $"o_orderkey" === $"c_orderkey", "left")
        .filter($"op".isNull || $"op" === "U")
        .select($"o_orderkey",
          when($"op".isNull, "keep").otherwise("update").as("src"),
          when($"op".isNull, $"price").otherwise($"new_price").as("price"))
      // inserts = changes whose key is absent from base. `chg ANTI base`
      // directly would shuffle the ENTIRE base (anti joins can only build
      // on the right side, and base is the right side) — instead derive
      // the matched-key set the same way the kept arm does (base streams
      // past broadcast chg; output ≤ |chg| rows) and anti-join chg against
      // THAT, which broadcasts too. Base is scanned twice, exchanged never.
      val matched = base.join(broadcast(chg.select($"c_orderkey")),
        $"o_orderkey" === $"c_orderkey").select($"c_orderkey".as("m_orderkey"))
      val inserts = chg.filter($"op" === "U")
        .join(broadcast(matched), $"c_orderkey" === $"m_orderkey", "left_anti")
        .select($"c_orderkey".as("o_orderkey"), lit("insert").as("src"),
          $"new_price".as("price"))
      kept.unionByName(inserts)
        .select($"o_orderkey", $"src", decDbl($"price", 2).as("price"))
        .orderBy($"o_orderkey")
    }
  )

  // ----------------------------------------------------------------- B61
  /** Column profiling — the data-quality primitive every warehouse runs
    * before trusting a new drop: per column of `orders`, row/null/distinct
    * counts plus a typed min/max (numeric columns report doubles, string
    * columns report the strings, the timestamp reports epoch micros — no
    * cross-engine float/timestamp FORMATTING ever enters the output,
    * which is what makes the row hash-replayable).
    *
    * Scale shape: ONE pass over the table, not one scan per column — the
    * six `countDistinct`s compile to a single Expand (rows × 6 before
    * partial aggregation), which is the textbook profiler trade: 6× the
    * scan rows through map-side combine vs 6 scans of a 100 TB table.
    * The Expand rows are narrow (one column's value each), partial agg
    * collapses them before the single exchange, and the final frame is
    * six rows. For hundreds of columns the same plan shape holds — you
    * batch columns per pass so Expand width stays bounded.
    */
  private val b61 = QuerySpec(
    "b61_profile",
    "Single-pass column profile of orders (6 columns): row/null/distinct counts + typed min/max (numeric as double, string as string, timestamp as epoch micros) via one Expand-based multi-countDistinct scan — never a per-column pass.",
    Some("""WITH a AS (SELECT COUNT(*) AS n_rows,
              COUNT(o_orderkey) AS nn1, COUNT(DISTINCT o_orderkey) AS nd1,
                CAST(MIN(o_orderkey) AS DOUBLE) AS mn1, CAST(MAX(o_orderkey) AS DOUBLE) AS mx1,
              COUNT(o_custkey) AS nn2, COUNT(DISTINCT o_custkey) AS nd2,
                CAST(MIN(o_custkey) AS DOUBLE) AS mn2, CAST(MAX(o_custkey) AS DOUBLE) AS mx2,
              COUNT(o_orderstatus) AS nn3, COUNT(DISTINCT o_orderstatus) AS nd3,
                MIN(o_orderstatus) AS smn3, MAX(o_orderstatus) AS smx3,
              COUNT(o_totalprice) AS nn4, COUNT(DISTINCT o_totalprice) AS nd4,
                MIN(o_totalprice) AS mn4, MAX(o_totalprice) AS mx4,
              COUNT(o_orderdate) AS nn5, COUNT(DISTINCT o_orderdate) AS nd5,
                CAST(epoch_us(MIN(o_orderdate)) AS DOUBLE) AS mn5,
                CAST(epoch_us(MAX(o_orderdate)) AS DOUBLE) AS mx5,
              COUNT(o_orderpriority) AS nn6, COUNT(DISTINCT o_orderpriority) AS nd6,
                MIN(o_orderpriority) AS smn6, MAX(o_orderpriority) AS smx6
              FROM orders)
            SELECT col_name, n_rows, n_null, n_distinct, min_num, max_num, min_str, max_str
            FROM (
              SELECT 'o_orderkey' AS col_name, n_rows, n_rows - nn1 AS n_null, nd1 AS n_distinct,
                mn1 AS min_num, mx1 AS max_num, CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM a
              UNION ALL SELECT 'o_custkey', n_rows, n_rows - nn2, nd2, mn2, mx2, NULL, NULL FROM a
              UNION ALL SELECT 'o_orderstatus', n_rows, n_rows - nn3, nd3, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), smn3, smx3 FROM a
              UNION ALL SELECT 'o_totalprice', n_rows, n_rows - nn4, nd4, mn4, mx4, NULL, NULL FROM a
              UNION ALL SELECT 'o_orderdate', n_rows, n_rows - nn5, nd5, mn5, mx5, NULL, NULL FROM a
              UNION ALL SELECT 'o_orderpriority', n_rows, n_rows - nn6, nd6, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), smn6, smx6 FROM a
            ) ORDER BY col_name"""),
    (s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
      val a = o.agg(
        count(lit(1)).as("n_rows"),
        count($"o_orderkey").as("nn1"), countDistinct($"o_orderkey").as("nd1"),
        min($"o_orderkey").cast(DoubleType).as("mn1"), max($"o_orderkey").cast(DoubleType).as("mx1"),
        count($"o_custkey").as("nn2"), countDistinct($"o_custkey").as("nd2"),
        min($"o_custkey").cast(DoubleType).as("mn2"), max($"o_custkey").cast(DoubleType).as("mx2"),
        count($"o_orderstatus").as("nn3"), countDistinct($"o_orderstatus").as("nd3"),
        min($"o_orderstatus").as("smn3"), max($"o_orderstatus").as("smx3"),
        count($"o_totalprice").as("nn4"), countDistinct($"o_totalprice").as("nd4"),
        min($"o_totalprice").as("mn4"), max($"o_totalprice").as("mx4"),
        count($"o_orderdate").as("nn5"), countDistinct($"o_orderdate").as("nd5"),
        unix_micros(min($"o_orderdate").cast(TimestampType)).cast(DoubleType).as("mn5"),
        unix_micros(max($"o_orderdate").cast(TimestampType)).cast(DoubleType).as("mx5"),
        count($"o_orderpriority").as("nn6"), countDistinct($"o_orderpriority").as("nd6"),
        min($"o_orderpriority").as("smn6"), max($"o_orderpriority").as("smx6"))
      val nullD = lit(null).cast(DoubleType)
      val nullS = lit(null).cast(StringType)
      def row(name: String, nn: String, nd: String,
              mn: Column, mx: Column, smn: Column, smx: Column) =
        struct(lit(name).as("col_name"), $"n_rows",
          ($"n_rows" - col(nn)).as("n_null"), col(nd).as("n_distinct"),
          mn.as("min_num"), mx.as("max_num"), smn.as("min_str"), smx.as("max_str"))
      a.select(explode(array(
          row("o_orderkey", "nn1", "nd1", $"mn1", $"mx1", nullS, nullS),
          row("o_custkey", "nn2", "nd2", $"mn2", $"mx2", nullS, nullS),
          row("o_orderstatus", "nn3", "nd3", nullD, nullD, $"smn3", $"smx3"),
          row("o_totalprice", "nn4", "nd4", $"mn4", $"mx4", nullS, nullS),
          row("o_orderdate", "nn5", "nd5", $"mn5", $"mx5", nullS, nullS),
          row("o_orderpriority", "nn6", "nd6", nullD, nullD, $"smn6", $"smx6"))).as("r"))
        .select($"r.*")
        .orderBy($"col_name")
    }
  )

  // ----------------------------------------------------------------- B62
  /** Groupwise argmin across joins — the TPC-H Q2 planner shape (this
    * testdata has no partsupp, so lineitem plays the offer table):
    * "cheapest supplier per part" with a total tie order. The textbook
    * spelling is a correlated scalar subquery (`WHERE price = (SELECT
    * MIN(price) ... WHERE partkey = outer.partkey)`), which a naive
    * engine runs as a per-row rescan; the declared plan is ONE partial-
    * aggregated `min(struct(price, suppkey))` over the fact — structs
    * order lexicographically, so (price ASC, suppkey ASC) IS the min,
    * and the fact is scanned once with no self-join, no window, no
    * subquery re-evaluation. Supplier→nation enrichment broadcasts; the
    * part join is key-to-key on the already-part-sized aggregate.
    *
    * Exactness: price enters as DECIMAL(18,2) (the b11 discipline) and
    * leaves through the shared decDbl presentation cast.
    */
  private val b62 = QuerySpec(
    "b62_groupwise_min",
    "TPC-H Q2 shape (groupwise argmin): cheapest supplier per part as one partial-agged min(struct(price, suppkey)) over lineitem — no correlated rescan, no self-join, no window; broadcast supplier+nation enrichment.",
    Some("""WITH o AS (SELECT l_partkey, l_suppkey,
              CAST(l_extendedprice AS DECIMAL(18,2)) AS price
              FROM lineitem),
            mp AS (SELECT l_partkey, MIN(price) AS min_price
              FROM o GROUP BY l_partkey),
            m AS (SELECT o.l_partkey, MIN(o.l_suppkey) AS best_supp, mp.min_price
              FROM o JOIN mp ON o.l_partkey = mp.l_partkey AND o.price = mp.min_price
              GROUP BY o.l_partkey, mp.min_price),
            j AS (SELECT p.p_partkey, p.p_brand, m.best_supp, m.min_price,
              s.s_name, n.n_name
              FROM m JOIN part p ON m.l_partkey = p.p_partkey
              JOIN supplier s ON m.best_supp = s.s_suppkey
              JOIN nation n ON s.s_nationkey = n.n_nationkey)
            SELECT p_partkey, p_brand, best_supp, s_name, n_name,
              CAST(CAST(min_price AS DECIMAL(18,2)) AS DOUBLE) AS min_price
            FROM j ORDER BY p_partkey"""),
    (s, d) => {
      import s.implicits._
      val offers = Tables.lineitem(s, d)
        .select($"l_partkey", $"l_suppkey", dec($"l_extendedprice", 18, 2).as("price"))
      val best = offers.groupBy($"l_partkey")
        .agg(min(struct($"price", $"l_suppkey")).as("best"))
        .select($"l_partkey", $"best.l_suppkey".as("best_supp"),
          $"best.price".as("min_price"))
      val supp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_name", $"n_name")
      best
        .join(Tables.part(s, d), $"l_partkey" === $"p_partkey")
        .join(broadcast(supp), $"best_supp" === $"s_suppkey")
        .select($"p_partkey", $"p_brand", $"best_supp", $"s_name", $"n_name",
          decDbl($"min_price", 2).as("min_price"))
        .orderBy($"p_partkey")
    }
  )

  // ----------------------------------------------------------------- B63
  /** OHLC bar resample — the time-series rollup finance/metrics stores
    * run constantly: per (event_type, hour), open = value of the
    * earliest event, high/low = extrema, close = value of the latest,
    * volume = count. Open/close are ARGMIN/ARGMAX with a total tie order
    * ((ts, event_id) — event_id is unique, so bars are deterministic),
    * which in Spark is `min_by`/`max_by` with a struct ordering key
    * inside ONE partial-aggregated hash agg — argmin/argmax are
    * associative, so map-side combine applies and the bar build is one
    * shuffle on the bar key, no window, no self-join. The oracle can't
    * use a struct min_by (DuckDB rejects struct ordering keys), so it
    * replays the argmin as min-ts → min-event-id-at-min-ts → value — two
    * tie-break joins proving the same row wins.
    */
  private val b63 = QuerySpec(
    "b63_ohlc",
    "OHLC bar resample per (event_type, hour): open/close via min_by/max_by on the (ts, event_id) total order inside one partial-agged hash agg — no window, no self-join; high/low/volume ride the same pass; oracle replays argmin/argmax with tie-break joins.",
    Some("""WITH e AS (SELECT event_id, event_type, ts, value,
              date_trunc('hour', ts) AS bar FROM events),
            ext AS (SELECT event_type, bar, MIN(ts) AS ts0, MAX(ts) AS ts1,
              MIN(value) AS low, MAX(value) AS high, COUNT(*) AS volume
              FROM e GROUP BY event_type, bar),
            o1 AS (SELECT e.event_type, e.bar, MIN(e.event_id) AS open_id
              FROM e JOIN ext ON e.event_type = ext.event_type
                AND e.bar = ext.bar AND e.ts = ext.ts0
              GROUP BY e.event_type, e.bar),
            c1 AS (SELECT e.event_type, e.bar, MAX(e.event_id) AS close_id
              FROM e JOIN ext ON e.event_type = ext.event_type
                AND e.bar = ext.bar AND e.ts = ext.ts1
              GROUP BY e.event_type, e.bar)
            SELECT ext.event_type, ext.bar,
              eo.value AS open, ext.high, ext.low, ec.value AS close,
              ext.volume
            FROM ext
            JOIN o1 ON ext.event_type = o1.event_type AND ext.bar = o1.bar
            JOIN c1 ON ext.event_type = c1.event_type AND ext.bar = c1.bar
            JOIN e eo ON o1.open_id = eo.event_id
            JOIN e ec ON c1.close_id = ec.event_id
            ORDER BY ext.event_type, ext.bar"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id", $"event_type", $"ts", $"value",
          date_trunc("hour", $"ts").as("bar"))
        .groupBy($"event_type", $"bar")
        .agg(
          min_by($"value", struct($"ts", $"event_id")).as("open"),
          max($"value").as("high"), min($"value").as("low"),
          max_by($"value", struct($"ts", $"event_id")).as("close"),
          count(lit(1)).as("volume"))
        .select($"event_type", $"bar", $"open", $"high", $"low", $"close", $"volume")
        .orderBy($"event_type", $"bar")
    }
  )

  // ----------------------------------------------------------------- B64
  /** Top user journeys — the product-analytics query behind every "top
    * paths" funnel dashboard: sessionize (6-hour gap, the b30 contract),
    * take each session's first four event types under the (ts, event_id)
    * total order, and count the most common paths. One step past
    * [[b40]]'s Markov transitions: paths are ordered PREFIXES, not edge
    * frequencies, so "view→click→purchase" and "click→view→purchase"
    * stay distinct.
    *
    * Scale shape: sessionization is per-user windows (the gaps-and-
    * islands machinery b30/b47 already ride — state per task is one
    * user's events); the per-session path is a bounded `slice(sort_array
    * (collect_list(...)), 1, 4)` inside a hash aggregate whose groups
    * are session-sized (collect_list is safe exactly because a session's
    * cardinality is bounded by the gap contract, unlike a per-user
    * collect); the path census is a partial-agged count and the top-20
    * is TakeOrdered. No global window anywhere.
    */
  private val b64 = QuerySpec(
    "b64_top_paths",
    "Top-20 user journeys: 6-hour-gap sessions, first 4 event types per session under the (ts, event_id) total order joined with '->', counted corpus-wide — per-user sessionization windows, session-bounded collect, TakeOrdered census.",
    Some("""WITH e AS (SELECT user_id, event_id, event_type,
              epoch_us(ts) AS us FROM events),
            o AS (SELECT user_id, event_id, event_type, us,
              CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                   < 21600000000 THEN 0 ELSE 1 END AS brk
              FROM e),
            s AS (SELECT user_id, event_id, event_type, us,
              CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
              FROM o),
            p AS (SELECT user_id, sid,
              array_to_string(list(event_type ORDER BY us, event_id)[1:4], '->') AS path,
              COUNT(*) AS session_len
              FROM s GROUP BY user_id, sid)
            SELECT path, COUNT(*) AS n_sessions,
              CAST(SUM(session_len) AS BIGINT) AS n_events
            FROM p GROUP BY path
            ORDER BY n_sessions DESC, path LIMIT 20"""),
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val e = Tables.events(s, d)
        .select($"user_id", $"event_id", $"event_type",
          unix_micros($"ts".cast(TimestampType)).as("us"))
      val sess = e
        .withColumn("brk",
          when($"us" - lag($"us", 1).over(w) < 21600000000L, 0L).otherwise(1L))
        .withColumn("sid", sum($"brk").over(wRun))
      sess.groupBy($"user_id", $"sid")
        .agg(
          array_join(slice(transform(
            sort_array(collect_list(struct($"us", $"event_id", $"event_type"))),
            x => x.getField("event_type")), 1, 4), "->").as("path"),
          count(lit(1)).as("session_len"))
        .groupBy($"path")
        .agg(count(lit(1)).as("n_sessions"), sum($"session_len").as("n_events"))
        .orderBy($"n_sessions".desc, $"path")
        .limit(20)
    }
  )

  // ----------------------------------------------------------------- B65
  /** TPC-H Q17 shape (small-quantity-order revenue): revenue locked in
    * lines whose quantity is below 20% of their part's average — the
    * classic correlated-scalar-subquery planner stress. The textbook form
    * re-aggregates lineitem once per probing row; this engine computes
    * the per-part (sum, count) profile ONCE (one shuffle on l_partkey,
    * partial-aggregated map-side, |part| output rows), narrows it to the
    * probed brands through a broadcast of the filtered part dim, and
    * broadcasts the resulting tiny threshold frame back into a second
    * lineitem scan — so the fact table is read twice but never shuffled
    * for the probe, and the correlated arm costs |part| rows, not
    * |lineitem| re-aggregations. At 100 TB: profile agg collapses to the
    * dimension cardinality before any join; the threshold frame is
    * (3/|brands|)·|part| rows and rides a broadcast.
    *
    * The correlated predicate `l_quantity < 0.2 * avg(...)` is replayed
    * EXACTLY, not in floats: avg = sum/cnt, so the filter is the
    * cross-multiplied `5·q·cnt < sum` in DECIMAL arithmetic (quantities
    * are ≤2-decimal, so DECIMAL(18,2) is lossless; both engines compare
    * scaled integers). The only float op is the final single division of
    * the DECIMAL→DOUBLE revenue by 7.0 — one IEEE op, bit-identical.
    */
  private val b65 = QuerySpec(
    "b65_tpch_q17",
    "TPC-H Q17 shape (small-quantity-order revenue): per-brand sum of extended price over lines with quantity < 20% of the part's average, correlated subquery rewritten to a once-computed per-part profile broadcast into a second fact scan; exact cross-multiplied DECIMAL threshold.",
    Some("""WITH prof AS (SELECT l_partkey AS pk,
              SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_q,
              COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey)
            SELECT p_brand,
              CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) / 7.0 AS avg_yearly,
              COUNT(*) AS n_small
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN prof ON pk = l_partkey
            WHERE p_brand IN ('Brand#12', 'Brand#23', 'Brand#3')
              AND CAST(l_quantity AS DECIMAL(18,2)) * cnt * 5 < sum_q
            GROUP BY p_brand ORDER BY p_brand"""),
    (s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
        .select($"l_partkey", $"l_quantity", $"l_extendedprice")
      val prof = li.groupBy($"l_partkey".as("pk"))
        .agg(sum(dec($"l_quantity", 18, 2)).as("sum_q"), count(lit(1)).as("cnt"))
      val brands = Tables.part(s, d)
        .filter($"p_brand".isin("Brand#12", "Brand#23", "Brand#3"))
        .select($"p_partkey", $"p_brand")
      val thr = prof.join(broadcast(brands), $"pk" === $"p_partkey")
        .select($"pk", $"p_brand", $"sum_q", $"cnt")
      li.join(broadcast(thr), $"l_partkey" === $"pk")
        .filter(dec($"l_quantity", 18, 2) * $"cnt" * 5 < $"sum_q")
        .groupBy($"p_brand")
        .agg((decDbl(sum(dec($"l_extendedprice", 18, 2)), 2) / 7.0).as("avg_yearly"),
          count(lit(1)).as("n_small"))
        .orderBy($"p_brand")
    }
  )

  // ----------------------------------------------------------------- B66
  /** TPC-H Q15 shape (top supplier by quarterly revenue): the CREATE
    * VIEW + correlated MAX the benchmark uses to stress scalar-subquery
    * decorrelation. The revenue "view" is computed ONCE (one partial-agged
    * shuffle on l_suppkey over the shipdate-pruned fact — the filter
    * reaches the parquet scan), its MAX is a single-row aggregate that
    * rides a broadcast back over the view (the b-tier single-row
    * precedent), and the surviving supplier keys join the supplier dim.
    * At 100 TB the view is |supplier| rows and everything after the one
    * fact shuffle is broadcast-sized.
    *
    * Tie-safety: revenue stays DECIMAL end-to-end, so the MAX-equality
    * filter compares exact scaled integers — any true tie yields BOTH
    * suppliers on both engines (the TPC-H spec's own tie semantics), and
    * the one DECIMAL→DOUBLE cast happens after the comparison.
    */
  private val b66 = QuerySpec(
    "b66_tpch_q15",
    "TPC-H Q15 shape (top supplier by quarterly revenue): revenue view computed once over the shipdate-pruned fact, single-row MAX broadcast back for an exact-DECIMAL equality filter (tie-safe), winner joined to the supplier dim.",
    Some("""WITH revenue AS (SELECT l_suppkey AS supplier_no,
              SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS total_rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
            FROM supplier JOIN revenue ON s_suppkey = supplier_no
            WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
            ORDER BY s_suppkey"""),
    (s, d) => {
      import s.implicits._
      val revenue = graft.CacheRegistry.persist(Tables.lineitem(s, d)
        .filter($"l_shipdate" >= ts("1996-01-01 00:00:00") &&
          $"l_shipdate" < ts("1996-04-01 00:00:00"))
        .groupBy($"l_suppkey".as("supplier_no"))
        .agg(sum(dec($"l_extendedprice", 12, 2) *
          (dec(lit(1), 3, 2) - dec($"l_discount", 3, 2))).as("total_rev")))
      val top = revenue.agg(max($"total_rev").as("max_rev"))
      revenue.crossJoin(broadcast(top))
        .filter($"total_rev" === $"max_rev")
        .join(broadcast(Tables.supplier(s, d).select($"s_suppkey", $"s_name")),
          $"supplier_no" === $"s_suppkey")
        .select($"s_suppkey", $"s_name", $"total_rev".cast(DoubleType).as("total_revenue"))
        .orderBy($"s_suppkey")
    }
  )

  // ----------------------------------------------------------------- B67
  /** TPC-H Q22 shape (global sales opportunity): customers with
    * above-average positive balances who never ordered, rolled up by
    * nation. (The synthetic customer table has no phone column, so
    * `c_nationkey` stands in for the phone country code — identical
    * planner shape: one scalar-aggregate subquery, one anti join, one
    * group-by.) The average-balance predicate is replayed EXACTLY, not in
    * floats: balances quantize to integer cents once (`floor(bal*100)` —
    * one IEEE op, bit-identical on both engines), and `bal > avg` becomes
    * the cross-multiplied `cents*cnt > sum` over BIGINTs. At 100 TB the
    * (sum, cnt) pair is a single broadcast row, the anti join shuffles on
    * the natural key with partial aggregation above it, and the orders
    * scan prunes to one column.
    */
  private val b67 = QuerySpec(
    "b67_tpch_q22",
    "TPC-H Q22 shape (customers with above-average positive balance and no 1-URGENT order, by nation; nationkey stands in for the phone country code, the priority predicate for the 'no orders in 7 years' window): single-row (sum,cnt) broadcast + cross-multiplied integer-cents comparison + left-anti join on the priority-pruned orders scan.",
    Some("""WITH pos AS (SELECT c_custkey, c_nationkey,
              CAST(floor(c_acctbal * 100.0) AS BIGINT) AS cents
              FROM customer WHERE c_acctbal > 0.0),
            avg_t AS (SELECT SUM(cents) AS s, COUNT(*) AS cnt FROM pos)
            SELECT c_nationkey, COUNT(*) AS numcust,
              CAST(SUM(cents) AS BIGINT) AS total_cents
            FROM pos CROSS JOIN avg_t
            WHERE cents * cnt > s
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderpriority = '1-URGENT')
            GROUP BY c_nationkey ORDER BY c_nationkey"""),
    (s, d) => {
      import s.implicits._
      val pos = graft.CacheRegistry.persist(Tables.customer(s, d)
        .filter($"c_acctbal" > 0.0)
        .select($"c_custkey", $"c_nationkey",
          floor($"c_acctbal" * 100.0).cast(LongType).as("cents")))
      val avgT = pos.agg(sum($"cents").as("s"), count(lit(1)).as("cnt"))
      pos.crossJoin(broadcast(avgT))
        .filter($"cents" * $"cnt" > $"s")
        .join(Tables.orders(s, d)
          .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("numcust"), sum($"cents").cast(LongType).as("total_cents"))
        .orderBy($"c_nationkey")
    }
  )

  // ----------------------------------------------------------------- B68
  /** Cohort retention matrix — the product-analytics staple the funnel/
    * path queries (b64) don't cover: users bucketed by their FIRST-seen
    * week, activity counted per (cohort, weeks-since-cohort) cell. The
    * week index is calendar-free integer arithmetic (`epoch-seconds div
    * 604800` after the engine-shared `date_trunc('second')`), so both
    * engines bucket identically with zero timezone/week-start semantics
    * in play. Scale shape: first-touch is one partial-agged min on
    * user_id; the join back is user_id⋈user_id (both sides shuffle on the
    * same key — co-partitioned, no replan); the distinct-user count
    * partial-aggregates per cell. No windows, no collect; at 100 TB the
    * matrix is |weeks|² cells regardless of event volume.
    */
  private val b68 = QuerySpec(
    "b68_retention",
    "Cohort retention matrix: users bucketed by first-seen week (epoch-seconds div 604800 — calendar-free), distinct active users per (cohort_week, week_offset) cell; one min-agg, one co-partitioned join back, one distinct agg.",
    Some("""WITH w AS (SELECT user_id,
              CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 604800 AS wk
              FROM events),
            first AS (SELECT user_id, MIN(wk) AS cohort_wk FROM w GROUP BY user_id)
            SELECT cohort_wk, wk - cohort_wk AS week_offset,
              COUNT(DISTINCT w.user_id) AS n_active
            FROM w JOIN first ON w.user_id = first.user_id
            GROUP BY cohort_wk, week_offset ORDER BY cohort_wk, week_offset"""),
    (s, d) => {
      import s.implicits._
      val w = graft.CacheRegistry.persist(Tables.events(s, d)
        .select($"user_id",
          (unix_timestamp(date_trunc("second", $"ts")) / 604800L)
            .cast(LongType).as("wk")))
      val first = w.groupBy($"user_id".as("fuid")).agg(min($"wk").as("cohort_wk"))
      w.join(first, $"user_id" === $"fuid")
        .groupBy($"cohort_wk", ($"wk" - $"cohort_wk").as("week_offset"))
        .agg(countDistinct($"user_id").as("n_active"))
        .orderBy($"cohort_wk", $"week_offset")
    }
  )

  // ----------------------------------------------------------------- B69
  /** TPC-H Q14 shape (promotion revenue share): one fact-dim join, two
    * conditional DECIMAL sums, ONE final double division. The ratio is
    * where float discipline matters: both sums stay exact DECIMAL through
    * the shuffle (order-free), each casts to DOUBLE once, and the division
    * is a single IEEE op — bit-identical on both engines. The part dim
    * broadcasts; the month filter reaches the fact scan.
    */
  private val b69 = QuerySpec(
    "b69_tpch_q14",
    "TPC-H Q14 shape (promo revenue share): month-pruned fact scan, broadcast part dim, conditional DECIMAL revenue sums, one final double division for the percentage.",
    Some("""SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
              THEN CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
              ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)
              / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
              AS DOUBLE) AS promo_share_pct,
            COUNT(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'"""),
    (s, d) => {
      import s.implicits._
      val rev = dec($"l_extendedprice", 12, 2) * (dec(lit(1), 3, 2) - dec($"l_discount", 3, 2))
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= ts("1996-03-01 00:00:00") &&
          $"l_shipdate" < ts("1996-04-01 00:00:00"))
        .join(broadcast(Tables.part(s, d).select($"p_partkey", $"p_type")),
          $"l_partkey" === $"p_partkey")
        .agg(
          (lit(100.0) * sum(when($"p_type" === "PROMO", rev)
            .otherwise(dec(lit(0), 16, 4))).cast(DoubleType) /
            sum(rev).cast(DoubleType)).cast(DoubleType).as("promo_share_pct"),
          count(lit(1)).as("n_lines"))
    }
  )

  // ----------------------------------------------------------------- B70
  /** TPC-H Q19 shape (discounted revenue, disjunctive predicates): the
    * classic OR-of-conjunctions planner stress. The three clauses share
    * the `l_partkey = p_partkey` equi-join, so Catalyst must extract the
    * common join key and keep the brand/size/quantity residue as a
    * post-join filter — a naive planner degenerates to a cartesian or
    * re-scans per clause. The per-clause quantity bounds also imply a
    * derivable `l_quantity <= 30` that prunes the fact scan. (The
    * synthetic part table has no container column; size stands alone.)
    */
  private val b70 = QuerySpec(
    "b70_tpch_q19",
    "TPC-H Q19 shape (OR-of-conjunctions over a shared equi-join): three brand/size/quantity clauses ORed post-join, one fact scan, broadcast part dim, exact DECIMAL revenue.",
    Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
            COUNT(*) AS n_lines
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity >= 1 AND l_quantity <= 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                   AND l_quantity >= 10 AND l_quantity <= 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                   AND l_quantity >= 20 AND l_quantity <= 30)"""),
    (s, d) => {
      import s.implicits._
      val rev = dec($"l_extendedprice", 12, 2) * (dec(lit(1), 3, 2) - dec($"l_discount", 3, 2))
      val clause =
        ($"p_brand" === "Brand#12" && $"p_size".between(1, 5) &&
          $"l_quantity" >= 1 && $"l_quantity" <= 11) ||
        ($"p_brand" === "Brand#23" && $"p_size".between(1, 10) &&
          $"l_quantity" >= 10 && $"l_quantity" <= 20) ||
        ($"p_brand" === "Brand#34" && $"p_size".between(1, 15) &&
          $"l_quantity" >= 20 && $"l_quantity" <= 30)
      Tables.lineitem(s, d)
        .select($"l_partkey", $"l_quantity", rev.as("rev"))
        .join(broadcast(Tables.part(s, d).select($"p_partkey", $"p_brand", $"p_size")),
          $"l_partkey" === $"p_partkey")
        .filter(clause)
        .agg(sum($"rev").cast(DoubleType).as("revenue"), count(lit(1)).as("n_lines"))
    }
  )

  // ----------------------------------------------------------------- B71
  /** TPC-H Q12 shape (late-shipment priority census): fact-fact join
    * (lineitem⋈orders on orderkey — both sides shuffle on the SAME key,
    * co-partitioned) with interval date arithmetic defining "late" and a
    * two-way conditional count per return flag. (The synthetic lineitem
    * has no shipmode/commitdate; l_returnflag stands in for the mode and
    * `shipdate > orderdate + 90 days` for the late predicate — identical
    * planner shape.) All outputs are integer counts, immune to order.
    */
  private val b71 = QuerySpec(
    "b71_tpch_q12",
    "TPC-H Q12 shape (late-shipment priority census): co-partitioned lineitem-orders join, interval arithmetic late predicate (shipdate > orderdate + 90 days), conditional high/low priority counts per return flag.",
    Some("""SELECT l_returnflag,
            CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
            CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
            GROUP BY l_returnflag ORDER BY l_returnflag"""),
    (s, d) => {
      import s.implicits._
      val hi = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_returnflag", $"l_shipdate")
        .join(Tables.orders(s, d).select($"o_orderkey", $"o_orderdate", $"o_orderpriority"),
          $"l_orderkey" === $"o_orderkey")
        .filter($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 90 DAY"))
        .groupBy($"l_returnflag")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy($"l_returnflag")
    }
  )

  // ----------------------------------------------------------------- B72
  /** Referential-integrity audit — the DQ gate next to b61's column
    * profiler: per FK relation, child rows/keys, orphaned child rows
    * (no parent), and childless parents (the reverse direction — the
    * synthetic corpus genuinely has 257 order keys with no lineitems at
    * sf0.01, so the signal is live, not a trivially-zero column). Scale
    * shape: each child side collapses to its key-grain (cnt) table FIRST
    * (one partial-agged shuffle, |keys| rows), both audit directions are
    * anti joins co-partitioned on that key, and the per-relation outputs
    * are single rows riding broadcast cross joins. The parent scans prune
    * to one column.
    */
  private val b72 = QuerySpec(
    "b72_fk_audit",
    "Referential-integrity audit over 4 FK relations: child rows/keys, orphaned child rows, childless parents — child collapsed to key grain first, both directions as co-partitioned anti joins, single-row outputs on broadcasts.",
    Some {
      val rels = Seq(
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"))
      rels.map { case (name, child, ck, parent, pk) =>
        s"""SELECT '$name' AS relation,
            CAST((SELECT SUM(cnt) FROM (SELECT COUNT(*) AS cnt FROM $child GROUP BY $ck)) AS BIGINT) AS n_child_rows,
            (SELECT COUNT(DISTINCT $ck) FROM $child) AS n_child_keys,
            CAST(COALESCE((SELECT SUM(cnt) FROM (SELECT $ck AS k, COUNT(*) AS cnt FROM $child GROUP BY 1) c
              WHERE NOT EXISTS (SELECT 1 FROM $parent WHERE $pk = c.k)), 0) AS BIGINT) AS n_orphan_rows,
            (SELECT COUNT(*) FROM $parent
              WHERE NOT EXISTS (SELECT 1 FROM $child WHERE $ck = $pk)) AS n_childless_parents"""
      }.mkString("\n            UNION ALL\n            ") + "\n            ORDER BY relation"
    },
    (s, d) => {
      import s.implicits._
      // One key-grain FULL OUTER join per relation feeds all four audit
      // numbers from a single conditional aggregate (guide §2.4/§1.2:
      // the r16 shape ran three separate single-row aggregates — totals,
      // orphan anti-join, childless anti-join — stitched by two broadcast
      // cross joins, 12+ tiny jobs per relation, 59 total; both sides are
      // key-grain so the 1:1 full join preserves every count exactly,
      // including duplicate-parent-key degeneracy via pcnt).
      def rel(name: String, child: DataFrame, ckey: String,
          parent: DataFrame, pkey: String): DataFrame = {
        val ck = child.groupBy(col(ckey).as("k")).agg(count(lit(1)).as("cnt"))
        val pk = parent.groupBy(col(pkey).as("pk")).agg(count(lit(1)).as("pcnt"))
        ck.join(pk, $"k" === $"pk", "full")
          .agg(
            coalesce(sum($"cnt"), lit(0L)).cast(LongType).as("n_child_rows"),
            count($"k").as("n_child_keys"),
            coalesce(sum(when($"pk".isNull, $"cnt")), lit(0L)).cast(LongType)
              .as("n_orphan_rows"),
            coalesce(sum(when($"k".isNull, $"pcnt")), lit(0L)).cast(LongType)
              .as("n_childless_parents"))
          .select(lit(name).as("relation"), $"n_child_rows", $"n_child_keys",
            $"n_orphan_rows", $"n_childless_parents")
      }
      val li = Tables.lineitem(s, d)
      rel("lineitem->orders", li, "l_orderkey", Tables.orders(s, d), "o_orderkey")
        .unionByName(rel("lineitem->part", li, "l_partkey", Tables.part(s, d), "p_partkey"))
        .unionByName(rel("lineitem->supplier", li, "l_suppkey", Tables.supplier(s, d), "s_suppkey"))
        .unionByName(rel("orders->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .orderBy($"relation")
    }
  )

  // ----------------------------------------------------------------- B73
  /** Peak concurrency (max overlapping intervals) — the ops/capacity
    * staple: each event holds a resource for `floor(value)+60` seconds;
    * the sweep-line (+1 at start, −1 at end, half-open so an end at
    * instant t releases BEFORE a start at t acquires — delta sorts
    * ascending) yields the running occupancy, and the answer is each
    * type's maximum plus the first instant it is reached.
    *
    * Scale shape — deliberately NOT `SUM() OVER (PARTITION BY type)`:
    * event_type has a handful of values, so a per-type window serializes
    * the whole corpus through ~5 tasks. Instead the c1o/c1h two-phase
    * running sum: range-repartition on the (type, t, delta, id) total
    * order, pid-LOCAL windows (each task scans only its own slice),
    * per-(type, pid) delta subtotals collected (|types|·|partitions|
    * rows — the only driver traffic), prefix offsets broadcast back.
    * The per-type argmax rides ONE hash agg via struct ordering
    * (max(struct(conc, −t)) = (peak, −first_t)) — no second pass.
    */
  private val b73 = QuerySpec(
    "b73_peak_concurrency",
    "Peak concurrency sweep-line: intervals [t, t+floor(value)+60) per event, +1/-1 deltas under the (t, delta, id) half-open total order, per-type running occupancy via the two-phase range-partition prefix-offset sum (never one window task per type), peak + first instant reached.",
    Some("""WITH ev AS (SELECT event_type,
              CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s,
              CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                + CAST(floor(value) AS BIGINT) + 60 AS e,
              event_id FROM events),
            sw AS (SELECT event_type, s AS t, CAST(1 AS BIGINT) AS delta, event_id FROM ev
              UNION ALL
              SELECT event_type, e, CAST(-1 AS BIGINT), event_id FROM ev),
            run AS (SELECT event_type, t,
              CAST(SUM(delta) OVER (PARTITION BY event_type
                ORDER BY t, delta, event_id) AS BIGINT) AS conc FROM sw),
            mx AS (SELECT event_type, MAX(conc) AS peak FROM run GROUP BY event_type)
            SELECT run.event_type, mx.peak, MIN(run.t) AS peak_t
            FROM run JOIN mx ON run.event_type = mx.event_type AND run.conc = mx.peak
            GROUP BY run.event_type, mx.peak ORDER BY run.event_type"""),
    (s, d) => {
      import s.implicits._
      val sec = unix_timestamp(date_trunc("second", $"ts"))
      val ev = Tables.events(s, d)
        .select($"event_type", sec.as("s"),
          (sec + floor($"value").cast(LongType) + 60L).as("e"), $"event_id")
      val sweep = ev.select($"event_type", $"s".as("t"), lit(1L).as("delta"), $"event_id")
        .unionByName(ev.select($"event_type", $"e".as("t"), lit(-1L).as("delta"), $"event_id"))
      val keyed = graft.CacheRegistry.persist(sweep
        .repartitionByRange($"event_type", $"t", $"delta", $"event_id")
        .withColumn("pid", spark_partition_id()))
      // per-(type, pid) delta subtotals -> prefix offset of all earlier pids
      val subs = keyed.groupBy($"event_type", $"pid")
        .agg(sum($"delta").as("dsum")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      val offsets: Map[String, Long] = subs.map { case (ty, pid, _) =>
        s"$ty|$pid" -> subs.collect { case (t2, p2, d2) if t2 == ty && p2 < pid => d2 }.sum
      }.toMap
      val w = Window.partitionBy($"pid", $"event_type")
        .orderBy($"t", $"delta", $"event_id")
      keyed
        .withColumn("conc",
          element_at(typedLit(offsets), concat($"event_type", lit("|"), $"pid"))
            + sum($"delta").over(w))
        .groupBy($"event_type")
        .agg(max(struct($"conc", (-$"t").as("negt"))).as("m"))
        .select($"event_type", $"m.conc".as("peak"), (-$"m.negt").as("peak_t"))
        .orderBy($"event_type")
    }
  )

  // ----------------------------------------------------------------- B74
  /** TPC-H Q10 shape (returned-item revenue): who cost us money on
    * returns last quarter — 4-table join (R-flag lineitems × quarter
    * orders × customer × broadcast nation), exact DECIMAL revenue per
    * customer, top-20 by (revenue DESC, custkey) compiling to
    * TakeOrdered. Both fact filters reach their scans; the
    * orders⋈lineitem join co-partitions on orderkey; customer enrichment
    * joins after the aggregate would be ideal at extreme scale but the
    * group key carries the customer columns here (the TPC-H shape) —
    * partial aggregation still collapses map-side because custkey
    * functionally determines them.
    */
  private val b74 = QuerySpec(
    "b74_tpch_q10",
    "TPC-H Q10 shape (returned-item revenue top-20): R-flag lineitems x one-quarter orders x customer x broadcast nation, exact DECIMAL revenue per customer, top-20 by (revenue desc, custkey) via TakeOrdered.",
    Some("""SELECT c_custkey, c_name,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
            c_acctbal, n_name
            FROM customer, orders, lineitem, nation
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
              AND l_returnflag = 'R' AND c_nationkey = n_nationkey
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    (s, d) => {
      import s.implicits._
      val ord = Tables.orders(s, d)
        .filter($"o_orderdate" >= ts("1996-01-01 00:00:00") &&
          $"o_orderdate" < ts("1996-04-01 00:00:00"))
        .select($"o_orderkey", $"o_custkey")
      val cust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d).select($"n_nationkey", $"n_name")),
          $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
      Tables.lineitem(s, d)
        .filter($"l_returnflag" === "R")
        .select($"l_orderkey",
          (dec($"l_extendedprice", 12, 2) * (dec(lit(1), 3, 2) - dec($"l_discount", 3, 2)))
            .as("rev"))
        .join(ord, $"l_orderkey" === $"o_orderkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
        .agg(sum($"rev").cast(DoubleType).as("revenue"))
        .select($"c_custkey", $"c_name", $"revenue", $"c_acctbal", $"n_name")
        .orderBy($"revenue".desc, $"c_custkey")
        .limit(20)
    }
  )

  // ----------------------------------------------------------------- B75
  /** Hourly rate-anomaly detector — the ops monitor downstream of b28's
    * tumbling counts: flag hours whose event count sits more than 3
    * population standard deviations from the type's hourly mean. The
    * z-test is replayed EXACTLY, never in floats: z² > 9 cross-multiplies
    * to (n·H − S)² > 9·(H·Σn² − S²) over pure BIGINTs (H = hours,
    * S = Σn), so both engines flag identical hours with zero epsilon. At
    * 100 TB the hourly rollup partial-aggregates map-side, the per-type
    * (H, S, Σn²) profile is |types| rows riding a broadcast back over
    * the |types·hours| frame — the corpus is touched exactly once.
    */
  private val b75 = QuerySpec(
    "b75_rate_anomaly",
    "Hourly rate anomaly (3-sigma): per-type hourly counts, per-type (hours, sum, sum-of-squares) profile broadcast back, spike test cross-multiplied to exact BIGINT (n*H - S)^2 > 9*(H*Sum(n^2) - S^2) — identical flags on both engines, no epsilon.",
    Some("""WITH h AS (SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
              COUNT(*) AS n FROM events GROUP BY event_type, hr),
            s AS (SELECT event_type AS ety, COUNT(*) AS hcnt,
              CAST(SUM(n) AS BIGINT) AS sn, CAST(SUM(n * n) AS BIGINT) AS sn2
              FROM h GROUP BY event_type)
            SELECT h.event_type, h.hr, h.n,
              CAST((h.n * s.hcnt - s.sn) * (h.n * s.hcnt - s.sn) AS BIGINT) AS dev2,
              CAST(9 * (s.hcnt * s.sn2 - s.sn * s.sn) AS BIGINT) AS thr2
            FROM h JOIN s ON h.event_type = s.ety
            WHERE (h.n * s.hcnt - s.sn) * (h.n * s.hcnt - s.sn)
                  > 9 * (s.hcnt * s.sn2 - s.sn * s.sn)
            ORDER BY h.event_type, h.hr"""),
    (s, d) => {
      import s.implicits._
      val h = graft.CacheRegistry.persist(Tables.events(s, d)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
        .agg(count(lit(1)).as("n")))
      val prof = h.groupBy($"event_type".as("ety"))
        .agg(count(lit(1)).as("hcnt"), sum($"n").cast(LongType).as("sn"),
          sum($"n" * $"n").cast(LongType).as("sn2"))
      h.join(broadcast(prof), $"event_type" === $"ety")
        .withColumn("dev2",
          (($"n" * $"hcnt" - $"sn") * ($"n" * $"hcnt" - $"sn")).cast(LongType))
        .withColumn("thr2", (lit(9L) * ($"hcnt" * $"sn2" - $"sn" * $"sn")).cast(LongType))
        .filter($"dev2" > $"thr2")
        .select($"event_type", $"hr", $"n", $"dev2", $"thr2")
        .orderBy($"event_type", $"hr")
    }
  )

  // ----------------------------------------------------------------- B76
  /** TPC-H Q6 (forecast revenue change) — the pure-scan stress: zero
    * joins, three range predicates (shipdate year, discount band,
    * quantity cap) that must ALL reach the parquet scan, one exact
    * DECIMAL product sum. At 100 TB this query is entirely I/O — row
    * groups prune on shipdate min/max stats, the residual predicates
    * vector-filter inside the scan, and the aggregate ships one partial
    * row per task. PlanAuditSpec pins the pushed-filter set.
    */
  private val b76 = QuerySpec(
    "b76_tpch_q6",
    "TPC-H Q6 (forecast revenue change): scan-only — shipdate year, discount band, quantity cap all pushed to parquet, exact DECIMAL sum(extendedprice*discount), one cast to double.",
    Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
            COUNT(*) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l_discount >= 0.03 AND l_discount <= 0.07
              AND l_quantity < 24"""),
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= ts("1997-01-01 00:00:00") &&
          $"l_shipdate" < ts("1998-01-01 00:00:00") &&
          $"l_discount" >= 0.03 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
        .agg(sum(dec($"l_extendedprice", 12, 2) * dec($"l_discount", 3, 2))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_lines"))
    }
  )

  // ----------------------------------------------------------------- B77
  /** TPC-H Q4 (order-priority checking) — the EXISTS→left-semi stress:
    * a quarter of orders kept only if at least one of their lines
    * matches, counted per priority. (The synthetic lineitem has no
    * commitdate/receiptdate; a returned line `l_returnflag = 'R'` stands
    * in for "late" — identical semi-join shape.) The semi join
    * deduplicates the probe side inside the join (no distinct), both
    * facts shuffle on orderkey (co-partitioned), and the date filter
    * prunes the orders scan.
    */
  private val b77 = QuerySpec(
    "b77_tpch_q4",
    "TPC-H Q4 shape (order-priority checking): one-quarter orders semi-joined (EXISTS) against returned lineitems on the co-partitioned orderkey, counted per priority — integer output, order-immune.",
    Some("""SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
            GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    (s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .filter($"o_orderdate" >= ts("1997-07-01 00:00:00") &&
          $"o_orderdate" < ts("1997-10-01 00:00:00"))
        .select($"o_orderkey", $"o_orderpriority")
        .join(Tables.lineitem(s, d).filter($"l_returnflag" === "R")
            .select($"l_orderkey"),
          $"o_orderkey" === $"l_orderkey", "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy($"o_orderpriority")
    }
  )

  // ----------------------------------------------------------------- B78
  /** TPC-H Q7 (volume shipping between two nations): the
    * dimension-role-duplication stress — nation joins the plan TWICE
    * (supplier side and customer side), and the disjunctive pair filter
    * can only resolve after both roles are bound. Both nation-tagged
    * dims ride broadcasts (supplier ⋈ n1 and customer ⋈ n2 are tiny
    * after the two-nation filter), so the only shuffle is
    * lineitem ⋈ orders on orderkey. Year extraction casts to BIGINT on
    * both engines (DuckDB `year()` is BIGINT, Spark `year` is INT).
    */
  private val b78 = QuerySpec(
    "b78_tpch_q7",
    "TPC-H Q7 (two-nation volume shipping): nation dim bound twice via broadcasts (supplier and customer roles), disjunctive nation-pair filter post-bind, one fact-fact shuffle on orderkey, decimal revenue per (supp_nation, cust_nation, year).",
    Some("""WITH v AS (
              SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     CAST(year(l_shipdate) AS BIGINT) AS l_year,
                     CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS volume
              FROM supplier, lineitem, orders, customer, nation n1, nation n2
              WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
                AND c_custkey = o_custkey
                AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
                AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
                  OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
                AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
            SELECT supp_nation, cust_nation, l_year,
              CAST(SUM(volume) AS DOUBLE) AS revenue
            FROM v GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year"""),
    (s, d) => {
      import s.implicits._
      val n = Tables.nation(s, d).select($"n_nationkey", $"n_name")
        .filter($"n_name".isin("NATION_3", "NATION_7"))
      val supp = Tables.supplier(s, d)
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("supp_nation"))
      val cust = Tables.customer(s, d)
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"n_name".as("cust_nation"))
      val ord = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"cust_nation")
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= ts("1996-01-01 00:00:00") &&
          $"l_shipdate" < ts("1998-01-01 00:00:00"))
        .select($"l_orderkey", $"l_suppkey",
          year($"l_shipdate").cast(LongType).as("l_year"),
          (dec($"l_extendedprice", 12, 2) * (dec(lit(1), 3, 2) - dec($"l_discount", 3, 2)))
            .as("volume"))
        .join(ord, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
        .filter(($"supp_nation" === "NATION_3" && $"cust_nation" === "NATION_7") ||
          ($"supp_nation" === "NATION_7" && $"cust_nation" === "NATION_3"))
        .groupBy($"supp_nation", $"cust_nation", $"l_year")
        .agg(sum($"volume").cast(DoubleType).as("revenue"))
        .orderBy($"supp_nation", $"cust_nation", $"l_year")
    }
  )

  // ----------------------------------------------------------------- B79
  /** TPC-H Q8 (national market share): an 8-relation join feeding a
    * conditional-sum ratio per order year — the share of ASIA-bound
    * ECONOMY-part revenue supplied by one nation. Float discipline as in
    * b69: both sums stay exact DECIMAL through the shuffle, each casts
    * to DOUBLE once, and the division is a single IEEE op — identical on
    * both engines. Every dimension broadcasts; the one shuffle is
    * lineitem ⋈ orders on orderkey.
    */
  private val b79 = QuerySpec(
    "b79_tpch_q8",
    "TPC-H Q8 shape (national market share): ECONOMY parts to ASIA customers, supplier nation tagged via broadcast, conditional DECIMAL volume sums per order year, one final double division for the share.",
    Some("""WITH v AS (
              SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                     CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS volume,
                     n1.n_name AS supp_nation
              FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
              WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
                AND l_orderkey = o_orderkey AND o_custkey = c_custkey
                AND c_nationkey = n2.n_nationkey AND n2.n_regionkey = r_regionkey
                AND r_name = 'ASIA' AND s_nationkey = n1.n_nationkey
                AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                AND p_type = 'ECONOMY')
            SELECT o_year,
              CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume
                                 ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)
                   / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share,
              COUNT(*) AS n_lines
            FROM v GROUP BY o_year ORDER BY o_year"""),
    (s, d) => {
      import s.implicits._
      val asiaCust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)
            .join(Tables.region(s, d).filter($"r_name" === "ASIA"),
              $"n_regionkey" === $"r_regionkey")
            .select($"n_nationkey")),
          $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey")
      val ord = Tables.orders(s, d)
        .filter($"o_orderdate" >= ts("1996-01-01 00:00:00") &&
          $"o_orderdate" < ts("1998-01-01 00:00:00"))
        .join(broadcast(asiaCust), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", year($"o_orderdate").cast(LongType).as("o_year"))
      val supp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).select($"n_nationkey", $"n_name")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("supp_nation"))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter($"p_type" === "ECONOMY")
            .select($"p_partkey")),
          $"l_partkey" === $"p_partkey")
        .select($"l_orderkey", $"l_suppkey",
          (dec($"l_extendedprice", 12, 2) * (dec(lit(1), 3, 2) - dec($"l_discount", 3, 2)))
            .as("volume"))
        .join(ord, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
        .groupBy($"o_year")
        .agg(
          (sum(when($"supp_nation" === "NATION_7", $"volume")
              .otherwise(dec(lit(0), 16, 4))).cast(DoubleType) /
            sum($"volume").cast(DoubleType)).cast(DoubleType).as("mkt_share"),
          count(lit(1)).as("n_lines"))
        .orderBy($"o_year")
    }
  )

  // ----------------------------------------------------------------- B80
  /** TPC-H Q9 shape (product-type profit): profit per nation per order
    * year over name-matched parts. The synthetic schema has no partsupp
    * supplycost, so `p_retailprice × l_quantity` stands in for the cost
    * leg — same join graph, same measure shape. Exactness: revenue and
    * cost are summed SEPARATELY in DECIMAL (order-free) and subtracted
    * once in DOUBLE — real Q9 subtracts per line, but per-line
    * subtraction then float summation would be partition-order
    * sensitive; the two-sum form is algebraically identical and exact.
    */
  private val b80 = QuerySpec(
    "b80_tpch_q9",
    "TPC-H Q9 shape (product-type profit by nation and year): name-LIKE parts, supplier nation via broadcast, revenue and cost summed separately in DECIMAL, one double subtraction at the end.",
    Some("""WITH pl AS (
              SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                     CAST(l_extendedprice AS DECIMAL(12,2))
                       * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS rev,
                     CAST(p_retailprice AS DECIMAL(12,2))
                       * CAST(l_quantity AS DECIMAL(12,2)) AS cost
              FROM part, supplier, lineitem, orders, nation
              WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
                AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
                AND p_name LIKE '%bolt%')
            SELECT nation, o_year,
              CAST(CAST(SUM(rev) AS DOUBLE) - CAST(SUM(cost) AS DOUBLE) AS DOUBLE) AS sum_profit,
              COUNT(*) AS n_lines
            FROM pl GROUP BY nation, o_year ORDER BY nation, o_year DESC"""),
    (s, d) => {
      import s.implicits._
      val supp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).select($"n_nationkey", $"n_name")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("nation"))
      val ord = Tables.orders(s, d)
        .select($"o_orderkey", year($"o_orderdate").cast(LongType).as("o_year"))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter($"p_name".like("%bolt%"))
            .select($"p_partkey", $"p_retailprice")),
          $"l_partkey" === $"p_partkey")
        .select($"l_orderkey", $"l_suppkey",
          (dec($"l_extendedprice", 12, 2) * (dec(lit(1), 3, 2) - dec($"l_discount", 3, 2)))
            .as("rev"),
          (dec($"p_retailprice", 12, 2) * dec($"l_quantity", 12, 2)).as("cost"))
        .join(ord, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
        .groupBy($"nation", $"o_year")
        .agg(
          (sum($"rev").cast(DoubleType) - sum($"cost").cast(DoubleType))
            .cast(DoubleType).as("sum_profit"),
          count(lit(1)).as("n_lines"))
        .orderBy($"nation", $"o_year".desc)
    }
  )

  // ----------------------------------------------------------------- B81
  /** TPC-H Q13 shape (customer order-count distribution): the
    * double-aggregation stress — a LEFT join that must keep
    * zero-order customers, COUNT over the nullable side, then a
    * histogram of those counts. (o_orderpriority stands in for the
    * comment NOT-LIKE filter — same shape: the predicate lives in the
    * JOIN condition, not a WHERE, or zero-order customers vanish.) The
    * first agg shuffles on custkey (partial-agged); the second input is
    * |customers| rows collapsing to a handful of histogram buckets.
    */
  private val b81 = QuerySpec(
    "b81_tpch_q13",
    "TPC-H Q13 shape (customer order-count distribution): left join keeping zero-order customers with the priority filter INSIDE the join condition, count per customer, histogram of counts ordered by (custdist desc, c_count desc).",
    Some("""SELECT c_count, COUNT(*) AS custdist FROM (
              SELECT c_custkey, COUNT(o_custkey) AS c_count
              FROM customer LEFT JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
              GROUP BY c_custkey) cc
            GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),
    (s, d) => {
      import s.implicits._
      Tables.customer(s, d).select($"c_custkey")
        .join(Tables.orders(s, d)
            .filter($"o_orderpriority" =!= "4-NOT SPECIFIED")
            .select($"o_custkey"),
          $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey")
        .agg(count($"o_custkey").as("c_count"))
        .groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
    }
  )

  // ----------------------------------------------------------------- B82
  /** TPC-H Q2 shape (minimum-cost supplier): the correlated-scalar-MIN
    * stress, rewritten the way a distributed planner wants it — per-part
    * minimum as a groupBy + join-back instead of a per-row subquery
    * re-scan. The synthetic schema has no partsupp, so the part×supplier
    * cost relation derives from lineitem: unit cost = centiprice
    * floor((extendedprice / quantity) · 100) (pure IEEE, replayable),
    * MIN'd per (part, supplier). floor is monotone, so MIN commutes with
    * the quantization — both engines compute the identical BIGINT.
    * Region-restricted suppliers ride a broadcast; ties on minimum cost
    * keep ALL minimal suppliers (real Q2 semantics); the top-20 order is
    * fully determined (s_name is unique per supplier).
    */
  private val b82 = QuerySpec(
    "b82_tpch_q2",
    "TPC-H Q2 shape (min-cost supplier): lineitem-derived part-supplier centiprice cost, per-part MIN via groupBy + join-back (no correlated re-scan), EUROPE suppliers broadcast, STANDARD small parts, top-20 by (acctbal desc, nation, supplier, part).",
    Some("""WITH ps AS (
              SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                     MIN(CAST(floor((l_extendedprice / l_quantity) * 100.0) AS BIGINT)) AS cost_c
              FROM lineitem GROUP BY l_partkey, l_suppkey),
            esupp AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier, nation, region
              WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
                AND r_name = 'EUROPE'),
            costs AS (
              SELECT ps_partkey, ps_suppkey, cost_c, s_name, s_acctbal, n_name
              FROM ps JOIN esupp ON ps_suppkey = s_suppkey),
            mins AS (SELECT ps_partkey AS mk, MIN(cost_c) AS mc
                     FROM costs GROUP BY ps_partkey)
            SELECT p_partkey, p_name, s_name, n_name, s_acctbal, cost_c
            FROM part
            JOIN costs ON p_partkey = ps_partkey
            JOIN mins ON ps_partkey = mk AND cost_c = mc
            WHERE p_size BETWEEN 1 AND 15 AND p_type = 'STANDARD'
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 20"""),
    (s, d) => {
      import s.implicits._
      val esupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .join(Tables.region(s, d).filter($"r_name" === "EUROPE"),
              $"n_regionkey" === $"r_regionkey")
            .select($"n_nationkey", $"n_name")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
      // costs feeds BOTH the per-part minimum and the winner join-back —
      // persist so the lineitem rollup runs once, not once per consumer
      val costs = graft.CacheRegistry.persist(Tables.lineitem(s, d)
        .groupBy($"l_partkey".as("ps_partkey"), $"l_suppkey".as("ps_suppkey"))
        .agg(min(floor(($"l_extendedprice" / $"l_quantity") * lit(100.0))
          .cast(LongType)).as("cost_c"))
        .join(broadcast(esupp), $"ps_suppkey" === $"s_suppkey"))
      val mins = costs.groupBy($"ps_partkey".as("mk"))
        .agg(min($"cost_c").as("mc"))
      costs
        .join(mins, $"ps_partkey" === $"mk" && $"cost_c" === $"mc")
        .join(broadcast(Tables.part(s, d)
            .filter($"p_size".between(1, 15) && $"p_type" === "STANDARD")
            .select($"p_partkey", $"p_name")),
          $"ps_partkey" === $"p_partkey")
        .select($"p_partkey", $"p_name", $"s_name", $"n_name", $"s_acctbal", $"cost_c")
        .orderBy($"s_acctbal".desc, $"n_name", $"s_name", $"p_partkey")
        .limit(20)
    }
  )

  // ----------------------------------------------------------------- B83
  /** TPC-H Q11 shape (important stock): the HAVING-against-global-scalar
    * stress — per-part value restricted to one nation's suppliers, kept
    * only if it exceeds a fraction of the nation's TOTAL value. The
    * threshold test is replayed exactly: line values quantize to
    * centi-units ONCE (floor(extendedprice·(1−discount)·100), pure
    * IEEE), so per-part and total sums are BIGINTs and the fraction
    * compares as `value·1000 > total` — zero epsilon, b75's
    * cross-multiply discipline. The global total is ONE row riding a
    * broadcast cross join back over the per-part frame.
    */
  private val b83 = QuerySpec(
    "b83_tpch_q11",
    "TPC-H Q11 shape (important stock): one nation's per-part centi-value sums (exact BIGINT), global total as a single broadcast row, HAVING replayed as value*1000 > total cross-multiply — no float threshold.",
    Some("""WITH lv AS (
              SELECT l_partkey AS pk,
                     CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT) AS v_c
              FROM lineitem, supplier, nation
              WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
                AND n_name = 'NATION_3'),
            agg AS (SELECT pk, CAST(SUM(v_c) AS BIGINT) AS value_c FROM lv GROUP BY pk),
            tot AS (SELECT CAST(SUM(value_c) AS BIGINT) AS total_c FROM agg)
            SELECT pk AS p_partkey, value_c
            FROM agg, tot WHERE value_c * 1000 > total_c
            ORDER BY value_c DESC, p_partkey"""),
    (s, d) => {
      import s.implicits._
      val supp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter($"n_name" === "NATION_3")
            .select($"n_nationkey")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey")
      val perPart = graft.CacheRegistry.persist(Tables.lineitem(s, d)
        .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
        .select($"l_partkey".as("pk"),
          floor($"l_extendedprice" * (lit(1.0) - $"l_discount") * lit(100.0))
            .cast(LongType).as("v_c"))
        .groupBy($"pk")
        .agg(sum($"v_c").cast(LongType).as("value_c")))
      val tot = perPart.agg(sum($"value_c").cast(LongType).as("total_c"))
      perPart.crossJoin(broadcast(tot))
        .filter($"value_c" * 1000 > $"total_c")
        .select($"pk".as("p_partkey"), $"value_c")
        .orderBy($"value_c".desc, $"p_partkey")
    }
  )

  // ----------------------------------------------------------------- B84
  /** TPC-H Q16 shape (supplier-count distribution): COUNT(DISTINCT)
    * under a NOT-IN anti-join — how many distinct suppliers serve each
    * surviving (brand, type, size) bucket, excluding blacklisted
    * suppliers. (lineitem is the part↔supplier bridge standing in for
    * partsupp; negative account balance stands in for the complaint
    * comment.) The anti-join rides a broadcast (blacklist is tiny by
    * construction); the distinct-count expands (keys × suppkey)
    * partial-aggregated before the final count — Spark's two-phase
    * distinct rewrite, no row explosion past the first shuffle.
    */
  private val b84 = QuerySpec(
    "b84_tpch_q16",
    "TPC-H Q16 shape (supplier-count distribution): broadcast NOT-IN blacklist anti-join, brand/type/size bucket filter, two-phase COUNT(DISTINCT supplier) per bucket, ordered by (count desc, brand, type, size).",
    Some("""SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
              COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#4' AND p_type <> 'PROMO'
              AND p_size IN (1, 5, 9, 13, 17, 21)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).select($"l_partkey", $"l_suppkey")
        .join(broadcast(Tables.supplier(s, d).filter($"s_acctbal" < 0)
            .select($"s_suppkey")),
          $"l_suppkey" === $"s_suppkey", "left_anti")
        .join(broadcast(Tables.part(s, d)
            .filter($"p_brand" =!= "Brand#4" && $"p_type" =!= "PROMO" &&
              $"p_size".isin(1, 5, 9, 13, 17, 21))
            .select($"p_partkey", $"p_brand", $"p_type",
              $"p_size".cast(LongType).as("p_size"))),
          $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand", $"p_type", $"p_size")
        .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
        .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
    }
  )

  // ----------------------------------------------------------------- B85
  /** TPC-H Q20 shape (potential part promotion): the nested semi-join
    * chain — suppliers who shipped MORE THAN HALF of a name-matched
    * part's one-year volume. (partsupp availqty is absent; "half of the
    * part's total shipped quantity" stands in for "half the availqty" —
    * identical IN(IN(HAVING-vs-correlated-scalar)) shape.) Quantities
    * floor to BIGINT (integral by generation, floor for cast-rounding
    * immunity), the share test cross-multiplies (sq·2 > tq, exact), the
    * part name filter rides a broadcast semi, and the final supplier
    * lookup is a broadcast semi-join into the 100-row dim.
    */
  private val b85 = QuerySpec(
    "b85_tpch_q20",
    "TPC-H Q20 shape (part promotion): per-(part,supplier) one-year shipped quantity, per-part total via groupBy + join-back, share test as exact sq*2 > tq cross-multiply, name-matched parts broadcast-semi, supplier dim resolved last.",
    Some("""WITH pq AS (
              SELECT l_partkey AS pk, l_suppkey AS sk,
                     CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sq
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
              GROUP BY l_partkey, l_suppkey),
            tot AS (SELECT pk AS tk, CAST(SUM(sq) AS BIGINT) AS tq FROM pq GROUP BY pk),
            sel AS (SELECT DISTINCT sk FROM pq JOIN tot ON pq.pk = tot.tk
                    WHERE pq.pk IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
                      AND pq.sq * 2 > tot.tq)
            SELECT s_suppkey, s_name, n_name
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE s_suppkey IN (SELECT sk FROM sel)
            ORDER BY s_suppkey"""),
    (s, d) => {
      import s.implicits._
      val pq = graft.CacheRegistry.persist(Tables.lineitem(s, d)
        .filter($"l_shipdate" >= ts("1997-01-01 00:00:00") &&
          $"l_shipdate" < ts("1998-01-01 00:00:00"))
        .join(broadcast(Tables.part(s, d).filter($"p_name".like("small%"))
            .select($"p_partkey")),
          $"l_partkey" === $"p_partkey", "left_semi")
        .groupBy($"l_partkey".as("pk"), $"l_suppkey".as("sk"))
        .agg(sum(floor($"l_quantity").cast(LongType)).cast(LongType).as("sq")))
      val tot = pq.groupBy($"pk".as("tk")).agg(sum($"sq").cast(LongType).as("tq"))
      val sel = pq.join(tot, $"pk" === $"tk")
        .filter($"sq" * 2 > $"tq")
        .select($"sk").distinct()
      Tables.supplier(s, d)
        .join(broadcast(sel), $"s_suppkey" === $"sk", "left_semi")
        .join(broadcast(Tables.nation(s, d).select($"n_nationkey", $"n_name")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_name", $"n_name")
        .orderBy($"s_suppkey")
    }
  )

  // ----------------------------------------------------------------- B86
  /** Robust outlier detection via median/MAD — the heavy-tail-safe
    * sibling of b75's 3σ z-test (one planted spike can drag a mean; it
    * cannot drag a median). Everything is exact: values quantize to e6
    * integers ONCE, both medians are nearest-rank order statistics
    * (k = (n+1) div 2, a SELECTED value — no float interpolation), and
    * the outlier test is |v6−med6| > 3·mad6 over pure BIGINTs.
    *
    * Scale shape — medians over the HISTOGRAM, not the corpus: the
    * corpus collapses to per-(type, v6) counts in one partial-agged
    * shuffle; the cumulative-count windows that select med/MAD run over
    * |distinct values| rows (bounded by quantization, orders of
    * magnitude below row count), and the MAD histogram derives from the
    * value histogram by a broadcast join + re-agg — the raw corpus is
    * scanned exactly once.
    */
  private val b86 = QuerySpec(
    "b86_mad_outlier",
    "Median/MAD robust outliers per event type: e6-quantized value histogram (corpus scanned once), nearest-rank median + MAD selected by cumulative-count windows over the histogram, exact BIGINT |v-med| > 3*MAD test.",
    Some("""WITH h AS (SELECT event_type, CAST(floor(value * 1000000.0) AS BIGINT) AS v6,
              COUNT(*) AS cnt FROM events GROUP BY event_type, v6),
            n AS (SELECT event_type AS nty, CAST(SUM(cnt) AS BIGINT) AS n,
              CAST((SUM(cnt) + 1) // 2 AS BIGINT) AS k FROM h GROUP BY event_type),
            c AS (SELECT event_type, v6, cnt,
              CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY v6) AS BIGINT) AS cum FROM h),
            med AS (SELECT c.event_type, MIN(v6) AS med6
              FROM c JOIN n ON c.event_type = n.nty WHERE c.cum >= n.k GROUP BY c.event_type),
            dh AS (SELECT h.event_type, abs(h.v6 - med.med6) AS d6,
              CAST(SUM(cnt) AS BIGINT) AS dc
              FROM h JOIN med ON h.event_type = med.event_type GROUP BY h.event_type, d6),
            dc2 AS (SELECT event_type, d6, dc,
              CAST(SUM(dc) OVER (PARTITION BY event_type ORDER BY d6) AS BIGINT) AS cum FROM dh),
            mad AS (SELECT dc2.event_type, MIN(d6) AS mad6
              FROM dc2 JOIN n ON dc2.event_type = n.nty WHERE dc2.cum >= n.k GROUP BY dc2.event_type),
            o AS (SELECT h.event_type,
              CAST(COALESCE(SUM(CASE WHEN abs(h.v6 - med.med6) > 3 * mad.mad6
                                     THEN h.cnt END), 0) AS BIGINT) AS n_outliers
              FROM h JOIN med ON h.event_type = med.event_type
                     JOIN mad ON h.event_type = mad.event_type GROUP BY h.event_type)
            SELECT n.nty AS event_type, n.n, med.med6, mad.mad6, o.n_outliers
            FROM n JOIN med ON n.nty = med.event_type
                   JOIN mad ON n.nty = mad.event_type
                   JOIN o ON n.nty = o.event_type
            ORDER BY event_type"""),
    (s, d) => {
      import s.implicits._
      val h = graft.CacheRegistry.persist(Tables.events(s, d)
        .groupBy($"event_type", floor($"value" * 1000000.0).cast(LongType).as("v6"))
        .agg(count(lit(1)).as("cnt")))
      val n = h.groupBy($"event_type".as("nty"))
        .agg(sum($"cnt").cast(LongType).as("n"),
          expr("(sum(cnt) + 1) div 2").cast(LongType).as("k"))
      // The rank threshold k rides the SAME window exchange as the
      // cumulative count (an unbounded-frame sum over the identical
      // partition key adds no exchange and no extra pass), instead of a
      // separate groupBy + broadcast join: one aggregate job and two
      // broadcast builds removed per median (guide §2.4 — two operations
      // keyed the same way share one exchange). k is the identical
      // integer ((sum cnt + 1) div 2), so med/mad are value-identical.
      val wCum = Window.partitionBy($"event_type").orderBy($"v6")
      // med/mad persisted (r18): med is referenced 3x (the MAD histogram,
      // the outlier agg, the final stitch) and mad 2x — each broadcast
      // build re-executed the whole window+agg chain over the histogram
      // cache. The frames are |event_type| rows; pinning them collapses
      // the rebuilds to cache scans.
      val med = graft.CacheRegistry.persist(h.withColumn("cum", sum($"cnt").over(wCum))
        .withColumn("k", expr("(sum(cnt) over (partition by event_type) + 1) div 2"))
        .filter($"cum" >= $"k")
        .groupBy($"event_type").agg(min($"v6").as("med6")))
      val dh = h.join(broadcast(med.withColumnRenamed("event_type", "mty")),
          $"event_type" === $"mty")
        .groupBy($"event_type", abs($"v6" - $"med6").as("d6"))
        .agg(sum($"cnt").cast(LongType).as("dc"))
      val wDum = Window.partitionBy($"event_type").orderBy($"d6")
      val mad = graft.CacheRegistry.persist(dh.withColumn("cum", sum($"dc").over(wDum))
        .withColumn("k", expr("(sum(dc) over (partition by event_type) + 1) div 2"))
        .filter($"cum" >= $"k")
        .groupBy($"event_type").agg(min($"d6").as("mad6")))
      val o = h.join(broadcast(med.withColumnRenamed("event_type", "mty")),
          $"event_type" === $"mty")
        .join(broadcast(mad.withColumnRenamed("event_type", "dty")),
          $"event_type" === $"dty")
        .groupBy($"event_type")
        .agg(coalesce(sum(when(abs($"v6" - $"med6") > lit(3L) * $"mad6", $"cnt")), lit(0L))
          .cast(LongType).as("n_outliers"))
      n.join(med, $"nty" === med("event_type")).drop(med("event_type"))
        .join(mad, $"nty" === mad("event_type")).drop(mad("event_type"))
        .join(o, $"nty" === o("event_type")).drop(o("event_type"))
        .select($"nty".as("event_type"), $"n", $"med6", $"mad6", $"n_outliers")
        .orderBy($"event_type")
    }
  )

  // ----------------------------------------------------------------- B87
  /** Benford first-digit audit — the forensic-accounting DQ staple: the
    * leading-digit census of order totals with each digit's exact ppm
    * share (a fabricated or truncated feed shows up as a digit
    * histogram that can't happen naturally). Digit extraction is string
    * arithmetic over floor()'d BIGINTs — no logarithms anywhere, so both
    * engines agree bit-for-bit; shares are integer divisions against a
    * single-row total riding a broadcast. Map-side digit, one
    * partial-agged shuffle of ≤10 groups.
    */
  private val b87 = QuerySpec(
    "b87_benford",
    "Benford first-digit audit of order totals: leading digit via floor->BIGINT->string (no logs), exact counts + ppm share by integer division against a broadcast single-row total.",
    Some("""WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
              FROM orders),
            c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
            t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
            SELECT digit, n, CAST(n * 1000000 // t.total AS BIGINT) AS share_ppm
            FROM c, t ORDER BY digit"""),
    (s, d) => {
      import s.implicits._
      val c = graft.CacheRegistry.persist(Tables.orders(s, d)
        .select(substring(floor($"o_totalprice").cast(LongType).cast(StringType), 1, 1)
          .cast(LongType).as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n")))
      val t = c.agg(sum($"n").cast(LongType).as("total"))
      c.crossJoin(broadcast(t))
        .select($"digit", $"n",
          expr("n * 1000000 div total").cast(LongType).as("share_ppm"))
        .orderBy($"digit")
    }
  )

  // ----------------------------------------------------------------- B88
  /** Gini concentration of customer spend per market segment — the
    * revenue-concentration KPI. Formula: with per-customer cent totals
    * x₁ ≤ … ≤ xₙ (ties broken by custkey — a TOTAL order),
    * G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx). Numerator and denominator stay
    * exact BIGINTs; only the final ratio is one IEEE multiply+divide
    * chain (floor at 1e6), written identically in both engines.
    *
    * Scale shape — NO per-segment single-task window (the b73 lesson):
    * ranks come from the c1h two-phase machinery — repartitionByRange on
    * (segment, spend, custkey) spreads the total order contiguously,
    * pid-local windows rank each slice, and per-(segment, pid) counts
    * (a bounded |segments·partitions|-row collect) provide the prefix
    * offsets broadcast back as a literal map.
    */
  private val b88 = QuerySpec(
    "b88_gini",
    "Gini concentration of customer spend per mktsegment: exact cent totals, rank under the (spend, custkey) total order via range partitioning + per-(segment,pid) prefix offsets (never one window task per segment), BIGINT numerator/denominator, one final IEEE ratio at 1e-6.",
    Some("""WITH s AS (SELECT o_custkey, CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS spend_c
              FROM orders GROUP BY o_custkey),
            cs AS (SELECT c_mktsegment AS seg, c_custkey, spend_c
              FROM customer JOIN s ON c_custkey = o_custkey),
            r AS (SELECT seg, spend_c,
              ROW_NUMBER() OVER (PARTITION BY seg ORDER BY spend_c, c_custkey) AS i FROM cs),
            g AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_cust,
              CAST(SUM(spend_c) AS BIGINT) AS sum_c,
              CAST(SUM(i * spend_c) AS BIGINT) AS sum_ixi FROM r GROUP BY seg)
            SELECT seg, n_cust, sum_c, sum_ixi,
              CAST(floor((CAST(2 * sum_ixi - (n_cust + 1) * sum_c AS DOUBLE) * 1000000.0)
                / CAST(n_cust * sum_c AS DOUBLE)) AS BIGINT) AS gini_e6
            FROM g ORDER BY seg"""),
    (s, d) => {
      import s.implicits._
      val nPart = s.sparkContext.defaultParallelism
      val spend = Tables.orders(s, d)
        .groupBy($"o_custkey")
        .agg(sum(floor($"o_totalprice" * 100.0).cast(LongType)).cast(LongType).as("spend_c"))
      val keyed = graft.CacheRegistry.persist(Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment".as("seg"))
        .join(spend, $"c_custkey" === $"o_custkey")
        .select($"seg", $"c_custkey", $"spend_c")
        .repartitionByRange(nPart, $"seg", $"spend_c", $"c_custkey")
        .withColumn("pid", spark_partition_id()))
      // prefix offsets per (segment, pid): |segments·partitions| rows to
      // the driver, broadcast back as a literal map — never a corpus collect
      val counts = keyed.groupBy($"seg", $"pid").agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      val offsets: Map[String, Long] = counts.keys.groupBy(_._1).flatMap {
        case (seg, ks) =>
          val pids = ks.map(_._2).toSeq.sorted
          pids.zip(pids.scanLeft(0L)((acc, p) => acc + counts((seg, p))).init)
            .map { case (p, off) => s"$seg|$p" -> off }
      }
      val wp = Window.partitionBy($"seg", $"pid").orderBy($"spend_c", $"c_custkey")
      keyed
        .withColumn("lrn", row_number().over(wp).cast(LongType))
        .withColumn("i",
          element_at(typedLit(offsets), concat($"seg", lit("|"), $"pid")) + $"lrn")
        .groupBy($"seg")
        .agg(count(lit(1)).cast(LongType).as("n_cust"),
          sum($"spend_c").cast(LongType).as("sum_c"),
          sum($"i" * $"spend_c").cast(LongType).as("sum_ixi"))
        .select($"seg", $"n_cust", $"sum_c", $"sum_ixi",
          floor(((lit(2L) * $"sum_ixi" - ($"n_cust" + 1) * $"sum_c").cast(DoubleType)
              * 1000000.0) / ($"n_cust" * $"sum_c").cast(DoubleType))
            .cast(LongType).as("gini_e6"))
        .orderBy($"seg")
    }
  )

  // ----------------------------------------------------------------- B89
  /** Lag-1 autocorrelation of hourly event rates — the seasonality probe
    * next to b75's spike detector: per type, Pearson r between each
    * hour's count and the NEXT CALENDAR hour's (pairs form by an
    * equi-join on hr+1h, so a gap in the feed breaks the pair — lag-
    * over-observed-rows would silently bridge it). All five moment sums
    * (m, Σx, Σy, Σxy, Σx², Σy²) are exact BIGINTs over the hourly
    * rollup; only the final r is one IEEE chain (two correctly-rounded
    * sqrts + one division + floor at 1e-6), written identically in both
    * engines. Degenerate series (zero variance on either side) are
    * filtered exactly, not NaN'd.
    *
    * Scale shape: the corpus collapses to the per-(type, hour) rollup in
    * one partial-agged shuffle (the b75 cached frame pattern); the pair
    * join is the rollup joined to itself on the co-partitioned
    * (type, hour) key — histogram-sized, never corpus-sized.
    */
  private val b89 = QuerySpec(
    "b89_autocorr",
    "Lag-1 autocorrelation of hourly rates per type: cached hourly rollup, calendar-adjacent pairs via a co-partitioned hr+1h equi-join, exact BIGINT moment sums, one IEEE sqrt/div chain for r at 1e-6; zero-variance series filtered exactly.",
    Some("""WITH h AS (SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
              CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY event_type, hr),
            p AS (SELECT a.event_type, a.n AS x, b.n AS y
              FROM h a JOIN h b ON a.event_type = b.event_type
                AND b.hr = a.hr + INTERVAL 1 HOUR),
            s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
              CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
              CAST(SUM(x * y) AS BIGINT) AS sxy,
              CAST(SUM(x * x) AS BIGINT) AS sx2, CAST(SUM(y * y) AS BIGINT) AS sy2
              FROM p GROUP BY event_type)
            SELECT event_type, m, sx, sy, sxy,
              CAST(floor(CAST(m * sxy - sx * sy AS DOUBLE) * 1000000.0
                / (sqrt(CAST(m * sx2 - sx * sx AS DOUBLE))
                   * sqrt(CAST(m * sy2 - sy * sy AS DOUBLE)))) AS BIGINT) AS r_e6
            FROM s
            WHERE m * sx2 - sx * sx > 0 AND m * sy2 - sy * sy > 0
            ORDER BY event_type"""),
    (s, d) => {
      import s.implicits._
      val h = graft.CacheRegistry.persist(Tables.events(s, d)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
        .agg(count(lit(1)).cast(LongType).as("n")))
      val pairs = h.join(
        h.select($"event_type".as("ety"), $"hr".as("hr2"), $"n".as("y")),
        $"event_type" === $"ety" && $"hr2" === $"hr" + expr("INTERVAL 1 HOUR"))
        .select($"event_type", $"n".as("x"), $"y")
      pairs.groupBy($"event_type")
        .agg(count(lit(1)).cast(LongType).as("m"),
          sum($"x").cast(LongType).as("sx"), sum($"y").cast(LongType).as("sy"),
          sum($"x" * $"y").cast(LongType).as("sxy"),
          sum($"x" * $"x").cast(LongType).as("sx2"),
          sum($"y" * $"y").cast(LongType).as("sy2"))
        .filter($"m" * $"sx2" - $"sx" * $"sx" > 0 && $"m" * $"sy2" - $"sy" * $"sy" > 0)
        .select($"event_type", $"m", $"sx", $"sy", $"sxy",
          floor(($"m" * $"sxy" - $"sx" * $"sy").cast(DoubleType) * 1000000.0
            / (sqrt(($"m" * $"sx2" - $"sx" * $"sx").cast(DoubleType))
               * sqrt(($"m" * $"sy2" - $"sy" * $"sy").cast(DoubleType))))
            .cast(LongType).as("r_e6"))
        .orderBy($"event_type")
    }
  )

  // ----------------------------------------------------------------- B90
  /** Strict-sequence conversion funnel view → click → purchase — the
    * product-analytics companion to b64's path census. STRICT means each
    * step must happen after the user's first completion of the previous
    * step (a click before the first view does not convert), which is the
    * semantics ad-hoc `COUNT(DISTINCT CASE ...)` funnels get wrong. Step
    * anchors are first-occurrence minima, so the whole funnel is three
    * per-user min-aggregations chained by `ts >` filters; conversion is
    * exact ppm by integer division against the step-1 census.
    *
    * Scale shape: events shuffle on user_id ONCE per step, and each
    * step's join keys the same user_id the previous groupBy hashed on —
    * co-partitioned, no re-exchange; the step censuses are single-row
    * aggregates folded into one 3-row `stack()`. No windows, no
    * per-user collect.
    */
  private val b90 = QuerySpec(
    "b90_funnel",
    "Strict-sequence funnel view->click->purchase: per-user first-view anchor, first click AFTER it, first purchase after that, chained co-partitioned min-agg joins; 3-row output with exact ppm conversion by integer division.",
    Some("""WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY user_id),
            c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
              JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
            p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
              JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id),
            n AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n1,
                         (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n2,
                         (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n3)
            SELECT step, step_name, n_users,
              CAST(n_users * 1000000 // n1 AS BIGINT) AS conv_ppm
            FROM (SELECT CAST(1 AS INT) AS step, 'view' AS step_name, n1 AS n_users, n1 FROM n
                  UNION ALL SELECT 2, 'click', n2, n1 FROM n
                  UNION ALL SELECT 3, 'purchase', n3, n1 FROM n)
            ORDER BY step"""),
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .filter($"event_type".isin("view", "click", "purchase"))
        .select($"user_id", $"ts", $"event_type")
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("t1"))
      val c = ev.filter($"event_type" === "click")
        .select($"user_id".as("cu"), $"ts")
        .join(v, $"cu" === $"user_id" && $"ts" > $"t1")
        .groupBy($"cu").agg(min($"ts").as("t2"))
      val p = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("pu"), $"ts")
        .join(c, $"pu" === $"cu" && $"ts" > $"t2")
        .groupBy($"pu").agg(min($"ts").as("t3"))
      val n1 = v.agg(count(lit(1)).cast(LongType).as("n1"))
      val n2 = c.agg(count(lit(1)).cast(LongType).as("n2"))
      val n3 = p.agg(count(lit(1)).cast(LongType).as("n3"))
      n1.crossJoin(broadcast(n2)).crossJoin(broadcast(n3))
        .select(expr(
          "stack(3, 1, 'view', n1, 2, 'click', n2, 3, 'purchase', n3)")
          .as(Seq("step", "step_name", "n_users")), $"n1")
        .select($"step", $"step_name", $"n_users".cast(LongType).as("n_users"),
          expr("n_users * 1000000 div n1").cast(LongType).as("conv_ppm"))
        .orderBy($"step")
    }
  )

  // ----------------------------------------------------------------- B91
  /** Offline CUSUM change-point scan of hourly event rates — WHEN did
    * the rate shift, the question b75's spike detector (which hour is
    * anomalous) and b89's autocorrelation (is there seasonality) don't
    * answer. The statistic is the classic max cumulative deviation: with
    * hourly counts x₁..x_H and total S, D_k = H·(Σ_{i≤k} xᵢ) − k·S
    * (the CUSUM against the series mean, scaled by H to stay an exact
    * BIGINT — no division anywhere), and the change point is the hour
    * maximizing |D_k|, ties broken to the EARLIEST hour by a total-order
    * window. The e6 share D_max·1e6/(H·S) normalizes across types with
    * one final integer division.
    *
    * Scale shape: the corpus collapses to the cached per-(type, hour)
    * rollup in one partial-agged shuffle (the b75/b89 frame); the
    * running sums are windows over ROLLUP rows partitioned by type —
    * hours-sized, never corpus-sized (the b86 histogram-window
    * justification).
    */
  private val b91 = QuerySpec(
    "b91_cusum",
    "Offline CUSUM change-point per type: cached hourly rollup, exact BIGINT D_k = H*cum_k - k*S running deviation via type-partitioned windows over rollup rows, argmax |D_k| with earliest-hour tie-break, e6 share by integer division.",
    Some("""WITH h AS (SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
              CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY event_type, hr),
            s AS (SELECT event_type AS sty, CAST(COUNT(*) AS BIGINT) AS hh,
              CAST(SUM(n) AS BIGINT) AS tot FROM h GROUP BY event_type),
            w AS (SELECT h.event_type, hr, hh, tot,
              CAST(SUM(n) OVER (PARTITION BY h.event_type ORDER BY hr) AS BIGINT) AS cum,
              CAST(ROW_NUMBER() OVER (PARTITION BY h.event_type ORDER BY hr) AS BIGINT) AS k
              FROM h JOIN s ON h.event_type = s.sty),
            dev AS (SELECT event_type, hh, tot,
              abs(hh * cum - k * tot) AS d, CAST(epoch(hr) AS BIGINT) AS hr_epoch,
              ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY abs(hh * cum - k * tot) DESC, hr) AS rn
              FROM w)
            SELECT event_type, hh AS n_hours, tot AS total,
              CAST(d AS BIGINT) AS max_dev, hr_epoch AS dev_hr_epoch,
              CAST(d * 1000000 // (hh * tot) AS BIGINT) AS dev_share_e6
            FROM dev WHERE rn = 1 ORDER BY event_type"""),
    (s, d) => {
      import s.implicits._
      val h = graft.CacheRegistry.persist(Tables.events(s, d)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
        .agg(count(lit(1)).cast(LongType).as("n")))
      val tot = h.groupBy($"event_type".as("sty"))
        .agg(count(lit(1)).cast(LongType).as("hh"),
          sum($"n").cast(LongType).as("tot"))
      val ord = Window.partitionBy($"event_type").orderBy($"hr")
      val dev = h
        .withColumn("cum", sum($"n").over(ord).cast(LongType))
        .withColumn("k", row_number().over(ord).cast(LongType))
        .join(broadcast(tot), $"event_type" === $"sty")
        .select($"event_type", $"hh", $"tot",
          abs($"hh" * $"cum" - $"k" * $"tot").as("d"),
          unix_timestamp($"hr").cast(LongType).as("hr_epoch"))
      val pick = Window.partitionBy($"event_type").orderBy($"d".desc, $"hr_epoch")
      dev.withColumn("rn", row_number().over(pick))
        .filter($"rn" === 1)
        .select($"event_type", $"hh".as("n_hours"), $"tot".as("total"),
          $"d".cast(LongType).as("max_dev"), $"hr_epoch".as("dev_hr_epoch"),
          expr("d * 1000000 div (hh * tot)").cast(LongType).as("dev_share_e6"))
        .orderBy($"event_type")
    }
  )

  // ----------------------------------------------------------------- B92
  /** First-order Markov transition matrix between event types — the
    * aggregate-grain sibling of b64's top-journeys census: for each
    * (src, dst) pair of CONSECUTIVE events in a user's (ts, event_id)
    * total order, the pair count and the row-normalized transition
    * probability in exact ppm. The per-user lead() gives each event its
    * successor; ties on ts break by event_id so the order is total and
    * both engines walk identical sequences.
    *
    * Scale shape: ONE user-partitioned window over the corpus (the same
    * shuffle a sessionization needs anyway), then the pair census
    * partial-aggregates to ≤|types|² rows; the pair frame is cached so
    * the row-normalizing totals don't re-scan the corpus, and the
    * ≤|types|-row total table rides a broadcast.
    */
  private val b92 = QuerySpec(
    "b92_transition",
    "Markov transition matrix over event types: per-user lead() under the (ts, event_id) total order, pair census partial-agged to types^2 rows (cached), row-normalized exact-ppm probabilities via a broadcast total table.",
    Some("""WITH p AS (SELECT event_type AS src_type,
              lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
              FROM events),
            c AS (SELECT src_type, dst_type, CAST(COUNT(*) AS BIGINT) AS n_pairs
              FROM p WHERE dst_type IS NOT NULL GROUP BY src_type, dst_type),
            t AS (SELECT src_type AS tsrc, CAST(SUM(n_pairs) AS BIGINT) AS tot
              FROM c GROUP BY src_type)
            SELECT src_type, dst_type, n_pairs,
              CAST(n_pairs * 1000000 // tot AS BIGINT) AS ppm
            FROM c JOIN t ON src_type = tsrc
            ORDER BY src_type, dst_type"""),
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val pairs = graft.CacheRegistry.persist(Tables.events(s, d)
        .select($"user_id", $"ts", $"event_id", $"event_type".as("src_type"))
        .withColumn("dst_type", lead($"src_type", 1).over(w))
        .filter($"dst_type".isNotNull)
        .groupBy($"src_type", $"dst_type")
        .agg(count(lit(1)).cast(LongType).as("n_pairs")))
      val tot = pairs.groupBy($"src_type".as("tsrc"))
        .agg(sum($"n_pairs").cast(LongType).as("tot"))
      pairs.join(broadcast(tot), $"src_type" === $"tsrc")
        .select($"src_type", $"dst_type", $"n_pairs",
          expr("n_pairs * 1000000 div tot").cast(LongType).as("ppm"))
        .orderBy($"src_type", $"dst_type")
    }
  )

  // ----------------------------------------------------------------- B93
  /** Daily active / new / cumulative-distinct users — the growth
    * dashboard's first page. `new_users` counts users whose FIRST-ever
    * active day is that day (a min-aggregation, not a window over the
    * corpus), and `cum_users` — distinct users to date — is exactly the
    * running sum of new_users, so the cumulative-distinct problem
    * collapses to a window over the DAYS-sized rollup (the b86
    * bounded-frame discipline: the unpartitioned window runs over
    * calendar rows, never corpus rows).
    *
    * Scale shape: the distinct (day, user) frame is computed once
    * (cached) and feeds both the DAU census and the first-seen min; the
    * days-sized new-user table rides a broadcast back onto the DAU
    * frame.
    */
  private val b93 = QuerySpec(
    "b93_active_users",
    "Daily active/new/cumulative users: cached distinct (day, user) frame feeds DAU and first-seen min; cumulative distinct = running sum of new_users over the DAYS-sized rollup (bounded unpartitioned window), new-user table broadcast.",
    Some("""WITH act AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
            dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM act GROUP BY day),
            fst AS (SELECT user_id, MIN(day) AS fday FROM act GROUP BY user_id),
            nu AS (SELECT fday AS day, CAST(COUNT(*) AS BIGINT) AS new_users
              FROM fst GROUP BY fday)
            SELECT d.day, d.dau,
              CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
              CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day) AS BIGINT) AS cum_users
            FROM dau d LEFT JOIN nu n ON d.day = n.day
            ORDER BY d.day"""),
    (s, d) => {
      import s.implicits._
      val act = graft.CacheRegistry.persist(Tables.events(s, d)
        .select(to_date($"ts").as("day"), $"user_id").distinct())
      val dau = act.groupBy($"day").agg(count(lit(1)).cast(LongType).as("dau"))
      val nu = act.groupBy($"user_id").agg(min($"day").as("fday"))
        .groupBy($"fday".as("nday"))
        .agg(count(lit(1)).cast(LongType).as("new_users"))
      // unpartitioned running sum over DAYS rows only (calendar-bounded)
      val cum = Window.orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dau.join(broadcast(nu), $"day" === $"nday", "left")
        .select($"day", $"dau",
          coalesce($"new_users", lit(0L)).cast(LongType).as("new_users"))
        .withColumn("cum_users", sum($"new_users").over(cum).cast(LongType))
        .orderBy($"day")
    }
  )

  // ----------------------------------------------------------------- B94
  /** Weekly churn: of the users active in week w, how many are absent in
    * week w+1. Weeks are calendar-free epoch-microsecond buckets (the
    * b68 discipline — `epoch_us div 604800e6` — so both engines bucket
    * identically with zero timezone/calendar edge cases), and the final
    * week is excluded because its successor is unobserved, not churned.
    *
    * Scale shape: the distinct (user, week) activity frame is computed
    * once (cached) and self-joined on (user, week+1) — both sides
    * shuffle-hash on the same composite key from the same cache; the
    * single-row max-week guard rides a broadcast.
    */
  private val b94 = QuerySpec(
    "b94_churn",
    "Weekly churn ppm: cached distinct (user, epoch-week) frame left-self-joined on (user, week+1) — co-keyed, both sides from one cache; last (successor-unobserved) week excluded via a broadcast single-row max; exact integer ppm.",
    Some("""WITH am AS (SELECT DISTINCT user_id,
              epoch_us(ts) // 604800000000 AS wk FROM events),
            mx AS (SELECT MAX(wk) AS m FROM am),
            j AS (SELECT a.wk, CAST(COUNT(*) AS BIGINT) AS n_active,
              CAST(COUNT(b.user_id) AS BIGINT) AS n_retained
              FROM am a LEFT JOIN am b
                ON b.user_id = a.user_id AND b.wk = a.wk + 1
              GROUP BY a.wk)
            SELECT CAST(wk AS BIGINT) AS week_idx, n_active, n_retained,
              CAST((n_active - n_retained) * 1000000 // n_active AS BIGINT) AS churn_ppm
            FROM j, mx WHERE wk < m ORDER BY week_idx"""),
    (s, d) => {
      import s.implicits._
      val am = graft.CacheRegistry.persist(Tables.events(s, d)
        .select($"user_id",
          expr("unix_micros(ts) div 604800000000").as("wk")).distinct())
      val nxt = am.select($"user_id".as("nu"), ($"wk" - 1).as("pwk"))
      val mx = am.agg(max($"wk").as("m"))
      am.join(nxt, $"user_id" === $"nu" && $"wk" === $"pwk", "left")
        .groupBy($"wk")
        .agg(count(lit(1)).cast(LongType).as("n_active"),
          count($"nu").cast(LongType).as("n_retained"))
        .crossJoin(broadcast(mx)).filter($"wk" < $"m")
        .select($"wk".cast(LongType).as("week_idx"), $"n_active", $"n_retained",
          expr("(n_active - n_retained) * 1000000 div n_active")
            .cast(LongType).as("churn_ppm"))
        .orderBy($"week_idx")
    }
  )

  // ----------------------------------------------------------------- B95
  /** Funnel time-to-convert distribution — the "how long" companion to
    * b90's "how many": for every user who completes the strict
    * view→click→purchase sequence, the first-view→first-valid-purchase
    * latency, summarized as exact min/max/mean (µs-derived integer
    * seconds) plus nearest-rank median and p90 at MINUTE resolution.
    * The quantile selection uses the b86 histogram discipline: durations
    * quantize to minutes, whose domain is bounded by the corpus TIMESPAN
    * (not by the converter count), so the cumulative window runs over a
    * calendar-bounded histogram; nearest-rank is the cross-multiplied
    * integer test 2·cum ≥ n (resp. 10·cum ≥ 9n) — a SELECTED value, no
    * interpolation.
    *
    * Scale shape: the b90 chain (per-user MINs joined forward), the
    * converter-duration frame cached, and every summary consumer — the
    * histogram, the totals row — reads that cache; the single-row totals
    * ride broadcasts.
    */
  private val b95 = QuerySpec(
    "b95_funnel_latency",
    "Strict-funnel time-to-convert: b90 chain -> cached per-converter duration frame; exact integer min/max/mean(e3) seconds + nearest-rank median/p90 selected from a minute-resolution histogram (timespan-bounded window, cross-multiplied rank tests).",
    Some("""WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY user_id),
            c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
              JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
            p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
              JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id),
            dur AS (SELECT (epoch_us(p.t3) - epoch_us(v.t1)) // 1000000 AS dur_sec,
              (epoch_us(p.t3) - epoch_us(v.t1)) // 60000000 AS dur_min
              FROM p JOIN v ON p.user_id = v.user_id),
            h AS (SELECT dur_min, CAST(COUNT(*) AS BIGINT) AS cnt FROM dur GROUP BY dur_min),
            cumh AS (SELECT dur_min,
              CAST(SUM(cnt) OVER (ORDER BY dur_min) AS BIGINT) AS cum FROM h),
            tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(MIN(dur_sec) AS BIGINT) AS min_sec,
              CAST(MAX(dur_sec) AS BIGINT) AS max_sec,
              CAST(SUM(dur_sec) * 1000 // COUNT(*) AS BIGINT) AS mean_sec_e3 FROM dur)
            SELECT n AS n_conv,
              CAST((SELECT MIN(dur_min) FROM cumh, tot WHERE 2 * cum >= n) AS BIGINT) AS med_min,
              CAST((SELECT MIN(dur_min) FROM cumh, tot WHERE 10 * cum >= 9 * n) AS BIGINT) AS p90_min,
              min_sec, max_sec, mean_sec_e3 FROM tot"""),
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .filter($"event_type".isin("view", "click", "purchase"))
        .select($"user_id", $"ts", $"event_type")
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("t1"))
      val c = ev.filter($"event_type" === "click")
        .select($"user_id".as("cu"), $"ts")
        .join(v, $"cu" === $"user_id" && $"ts" > $"t1")
        .groupBy($"cu").agg(min($"ts").as("t2"))
      val p = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("pu"), $"ts")
        .join(c, $"pu" === $"cu" && $"ts" > $"t2")
        .groupBy($"pu").agg(min($"ts").as("t3"))
      val dur = graft.CacheRegistry.persist(
        p.join(v.select($"user_id".as("vu"), $"t1"), $"pu" === $"vu")
          .select((unix_micros($"t3") - unix_micros($"t1")).as("dur_us"))
          .select(expr("dur_us div 1000000").cast(LongType).as("dur_sec"),
            expr("dur_us div 60000000").cast(LongType).as("dur_min")))
      val h = dur.groupBy($"dur_min").agg(count(lit(1)).cast(LongType).as("cnt"))
      // histogram window: minute-resolution, bounded by corpus timespan
      val cumW = Window.orderBy($"dur_min")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumh = h.withColumn("cum", sum($"cnt").over(cumW).cast(LongType))
      val tot = dur.agg(count(lit(1)).cast(LongType).as("n"),
        min($"dur_sec").cast(LongType).as("min_sec"),
        max($"dur_sec").cast(LongType).as("max_sec"),
        expr("sum(dur_sec) * 1000 div count(1)").cast(LongType).as("mean_sec_e3"))
      val sel = cumh.crossJoin(broadcast(tot))
        .agg(min(when(lit(2) * $"cum" >= $"n", $"dur_min"))
            .cast(LongType).as("med_min"),
          min(when(lit(10) * $"cum" >= lit(9) * $"n", $"dur_min"))
            .cast(LongType).as("p90_min"))
      tot.crossJoin(broadcast(sel))
        .select($"n".as("n_conv"), $"med_min", $"p90_min",
          $"min_sec", $"max_sec", $"mean_sec_e3")
    }
  )

  // ----------------------------------------------------------------- B96
  /** EWMA-smoothed hourly rates (α = 1/2) — the streaming-dashboard
    * smoother next to b75/b89/b91. The recurrence s_k = (x_k·1e6 +
    * s_{k−1}) div 2 is EXACT integer arithmetic (truncating division
    * each step), so the full smoothed trace replays bit-for-bit in a
    * DuckDB RECURSIVE CTE — the engine's first recursive-oracle query.
    * A linear recurrence is inherently sequential per series; built-in
    * window functions cannot express it (running SUM is associative,
    * EWMA with truncation is not), so the scan runs in a UDF over the
    * per-type hour array — the documented only-when-built-ins-can't UDF
    * criterion.
    *
    * Scale shape: the corpus collapses to the cached hourly rollup
    * first; collect_list then builds ONE hours-sized array per type
    * (bounded by timespan — 8.8k elements/year — never corpus-sized),
    * the UDF scan is O(hours), and the result explodes back to rollup
    * grain. Parallelism is across series (types), exactly how a
    * cluster-scale per-entity smoother shards.
    */
  private val b96 = QuerySpec(
    "b96_ewma",
    "Exact integer EWMA (alpha=1/2) per type over hourly rates: cached rollup -> one timespan-bounded array per type -> O(hours) UDF recurrence s_k=(x_k*1e6+s_{k-1}) div 2 -> explode; replays bit-for-bit in a DuckDB RECURSIVE CTE.",
    Some("""WITH RECURSIVE h AS (SELECT event_type,
              CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr_epoch,
              CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
            k AS (SELECT event_type, hr_epoch, n,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr_epoch) AS rk FROM h),
            r AS (SELECT event_type, hr_epoch, n, rk, n * 1000000 AS s
              FROM k WHERE rk = 1
              UNION ALL
              SELECT k.event_type, k.hr_epoch, k.n, k.rk, (k.n * 1000000 + r.s) // 2 AS s
              FROM k JOIN r ON k.event_type = r.event_type AND k.rk = r.rk + 1)
            SELECT event_type, hr_epoch, n, CAST(s AS BIGINT) AS s_e6
            FROM r ORDER BY event_type, hr_epoch"""),
    (s, d) => {
      import s.implicits._
      val h = graft.CacheRegistry.persist(Tables.events(s, d)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
        .agg(count(lit(1)).cast(LongType).as("n"))
        .select($"event_type",
          unix_timestamp($"hr").cast(LongType).as("hr_epoch"), $"n"))
      // linear recurrence: sequential per series, inexpressible as an
      // associative window — the only-when-built-ins-can't UDF criterion
      val smooth = udf { (ns: Seq[Long]) =>
        val out = new Array[Long](ns.length)
        var s = 0L; var i = 0
        while (i < ns.length) {
          s = if (i == 0) ns(i) * 1000000L else (ns(i) * 1000000L + s) / 2L
          out(i) = s; i += 1
        }
        out.toSeq
      }
      h.groupBy($"event_type")
        .agg(sort_array(collect_list(struct($"hr_epoch", $"n"))).as("hn"))
        .select($"event_type",
          expr("transform(hn, x -> x.hr_epoch)").as("hrs"),
          expr("transform(hn, x -> x.n)").as("ns"))
        .withColumn("ss", smooth($"ns"))
        .select($"event_type", explode(arrays_zip($"hrs", $"ns", $"ss")).as("z"))
        .select($"event_type", $"z.hrs".as("hr_epoch"),
          $"z.ns".as("n"), $"z.ss".as("s_e6"))
        .orderBy($"event_type", $"hr_epoch")
    }
  )

  // ----------------------------------------------------------------- B97
  /** Join-key skew audit — the C7 posture check promoted to a declared
    * query: for each candidate join/shuffle key, the key cardinality,
    * the heaviest key's exact ppm share of the rows, and how many keys
    * exceed 2× the mean frequency (the cross-multiplied integer test
    * cnt·n_keys > 2·n_rows — no division, no epsilon). This is the
    * number an operator reads before choosing salting vs AQE skew-join
    * for a 100 TB shuffle.
    *
    * Scale shape: each column's census is one partial-agged groupBy; the
    * per-key frame is cached so the stats row and the heavy-key count
    * both reuse it, and the ≤3-row stats table rides broadcasts.
    */
  private val b97 = QuerySpec(
    "b97_skew_audit",
    "Join-key skew audit over l_partkey/l_suppkey/o_custkey: cached per-key census, exact top-1 ppm share, heavy-key count via the cross-multiplied cnt*n_keys > 2*n_rows test; stats rows ride broadcasts.",
    Some("""WITH k AS (
              SELECT 'lineitem.l_partkey' AS col_name, l_partkey AS key FROM lineitem
              UNION ALL SELECT 'lineitem.l_suppkey', l_suppkey FROM lineitem
              UNION ALL SELECT 'orders.o_custkey', o_custkey FROM orders),
            c AS (SELECT col_name, key, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM k GROUP BY col_name, key),
            s AS (SELECT col_name, CAST(SUM(cnt) AS BIGINT) AS n_rows,
              CAST(COUNT(*) AS BIGINT) AS n_keys, CAST(MAX(cnt) AS BIGINT) AS max_cnt
              FROM c GROUP BY col_name)
            SELECT s.col_name, n_rows, n_keys, max_cnt,
              CAST(max_cnt * 1000000 // n_rows AS BIGINT) AS top1_share_e6,
              CAST((SELECT COUNT(*) FROM c
                WHERE c.col_name = s.col_name
                  AND c.cnt * s.n_keys > 2 * s.n_rows) AS BIGINT) AS n_heavy
            FROM s ORDER BY col_name"""),
    (s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
      val or = Tables.orders(s, d)
      def keyed(name: String, df: DataFrame, colName: String): DataFrame =
        df.select(lit(name).as("col_name"), df(colName).cast(LongType).as("key"))
      val k = keyed("lineitem.l_partkey", li, "l_partkey")
        .union(keyed("lineitem.l_suppkey", li, "l_suppkey"))
        .union(keyed("orders.o_custkey", or, "o_custkey"))
      val c = graft.CacheRegistry.persist(
        k.groupBy($"col_name", $"key").agg(count(lit(1)).cast(LongType).as("cnt")))
      val st = c.groupBy($"col_name".as("sc"))
        .agg(sum($"cnt").cast(LongType).as("n_rows"),
          count(lit(1)).cast(LongType).as("n_keys"),
          max($"cnt").cast(LongType).as("max_cnt"))
      val heavy = c.join(broadcast(st), $"col_name" === $"sc")
        .filter($"cnt" * $"n_keys" > lit(2) * $"n_rows")
        .groupBy($"col_name".as("hc"))
        .agg(count(lit(1)).cast(LongType).as("n_heavy"))
      st.join(broadcast(heavy), $"sc" === $"hc", "left")
        .select($"sc".as("col_name"), $"n_rows", $"n_keys", $"max_cnt",
          expr("max_cnt * 1000000 div n_rows").cast(LongType).as("top1_share_e6"),
          coalesce($"n_heavy", lit(0L)).cast(LongType).as("n_heavy"))
        .orderBy($"col_name")
    }
  )

  // ----------------------------------------------------------------- B98
  /** Sessionization census — the corpus-level view over [[b30]]'s
    * per-session rows: distribution of session LENGTH (events/session,
    * capped at 10+) with per-bucket session counts, total events, and
    * total in-session dwell seconds. The product question b30 can't
    * answer directly ("are users one-shot or multi-event?") and the
    * sanity gate before any per-session model. Identical session
    * definition to b30 (6-hour gap, second-truncated timestamps) via the
    * same session_window call, so the two queries can never disagree on
    * what a session is.
    *
    * Scale shape: aggregation-of-aggregation — the first agg shuffles on
    * (user_id, session) exactly like b30, the second groups the
    * per-session rows into ≤10 buckets (tiny, partial-agg absorbs it).
    * Dwell seconds are exact BIGINT unix-timestamp differences summed as
    * integers — order-free, no float anywhere.
    */
  private val b98 = QuerySpec(
    "b98_session_hist",
    "Sessionization census: histogram of session lengths (events per 6-hour-gap session, bucket capped at 10+) with session counts, event totals, and exact dwell-second sums — the corpus-level companion to b30.",
    Some("""WITH x AS (SELECT user_id, date_trunc('second', ts) AS tsec FROM events),
            o AS (SELECT user_id, tsec,
                    CASE WHEN tsec - LAG(tsec) OVER (PARTITION BY user_id ORDER BY tsec) < INTERVAL 6 HOUR
                         THEN 0 ELSE 1 END AS brk
                  FROM x),
            s AS (SELECT user_id, tsec,
                    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tsec
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
                  FROM o),
            sess AS (SELECT user_id, sid, COUNT(*) AS n,
                       date_diff('second', MIN(tsec), MAX(tsec)) AS dur_sec
                     FROM s GROUP BY user_id, sid)
            SELECT LEAST(n, 10) AS len_bucket,
              COUNT(*) AS n_sessions,
              CAST(SUM(n) AS BIGINT) AS n_events,
              CAST(SUM(dur_sec) AS BIGINT) AS dwell_sec
            FROM sess GROUP BY 1 ORDER BY len_bucket"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"user_id", date_trunc("second", $"ts").as("tsec"))
        .groupBy(session_window($"tsec", "6 hours"), $"user_id")
        .agg(count(lit(1)).as("n"),
          (unix_timestamp(max($"tsec")) - unix_timestamp(min($"tsec"))).as("dur_sec"))
        .groupBy(least($"n", lit(10L)).as("len_bucket"))
        .agg(count(lit(1)).as("n_sessions"),
          sum($"n").cast(LongType).as("n_events"),
          sum($"dur_sec").cast(LongType).as("dwell_sec"))
        .orderBy($"len_bucket")
    }
  )

  // ----------------------------------------------------------------- B99
  /** RFM (recency/frequency/monetary) customer segmentation — the classic
    * CRM warehouse operator. Scores are QUANTIZED QUINTILES computed
    * without any corpus-scale sort or unpartitioned window (a global
    * ntile(5) over customers is exactly the scale-killer this engine
    * bans): each metric is quantized to a bounded integer bin domain
    * (recency days / order count / \$10k monetary bins — all value-bounded,
    * independent of row count), bins are counted, the cumulative-below
    * prefix runs over the BIN table (hundreds of rows, the b57/b93
    * bounded-window precedent), and each customer's score is
    * `1 + (5·cum_lower) div n` via three broadcast bin joins. Ties share
    * a bin and therefore a score — deterministic under any partitioning,
    * no order-dependent rank anywhere. Monetary is exact cents
    * (`floor(price·100)` per order, BIGINT sums — never a raw
    * double→DECIMAL cast, the c3_centroid ulp trap).
    *
    * Scale shape: one partial-agg shuffle on o_custkey builds the metric
    * table (cached — three bin builders and the probe all read it); bin
    * tables and the single-row n ride broadcasts; the final census groups
    * ≤125 score cells. Recency is calendar-free epoch-microsecond
    * arithmetic (the b68 discipline).
    */
  private val b99 = QuerySpec(
    "b99_rfm",
    "RFM segmentation census: exact quantized-quintile R/F/M scores (bounded bin domains + cumulative-below prefix + broadcast bin joins — no global sort/ntile), per-cell customer counts and exact monetary cents.",
    Some("""WITH mx AS (SELECT MAX(epoch_us(o_orderdate)) AS mxus FROM orders),
            cust AS (SELECT o_custkey AS ck,
                (mx.mxus - MAX(epoch_us(o_orderdate))) // 86400000000 AS rec_days,
                COUNT(*) AS freq,
                CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS mon_e2
              FROM orders, mx GROUP BY o_custkey, mx.mxus),
            n AS (SELECT COUNT(*) AS nc FROM cust),
            rb AS (SELECT -rec_days AS bin, COUNT(*) AS c FROM cust GROUP BY 1),
            rc AS (SELECT bin, COALESCE(CAST(SUM(c) OVER (ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cl FROM rb),
            fb AS (SELECT freq AS bin, COUNT(*) AS c FROM cust GROUP BY 1),
            fc AS (SELECT bin, COALESCE(CAST(SUM(c) OVER (ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cl FROM fb),
            mb AS (SELECT mon_e2 // 1000000 AS bin, COUNT(*) AS c FROM cust GROUP BY 1),
            mc AS (SELECT bin, COALESCE(CAST(SUM(c) OVER (ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cl FROM mb),
            sc AS (SELECT c.mon_e2,
                LEAST(1 + (5 * rc.cl) // n.nc, 5) AS r_score,
                LEAST(1 + (5 * fc.cl) // n.nc, 5) AS f_score,
                LEAST(1 + (5 * mc.cl) // n.nc, 5) AS m_score
              FROM cust c
              JOIN rc ON -c.rec_days = rc.bin
              JOIN fc ON c.freq = fc.bin
              JOIN mc ON c.mon_e2 // 1000000 = mc.bin
              CROSS JOIN n)
            SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
              CAST(SUM(mon_e2) AS BIGINT) AS monetary_e2
            FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    (s, d) => {
      import s.implicits._
      val cust = graft.CacheRegistry.persist(Tables.orders(s, d)
        .select($"o_custkey",
          unix_micros($"o_orderdate".cast(TimestampType)).as("ous"),
          floor($"o_totalprice" * 100.0).cast(LongType).as("p_e2"))
        .groupBy($"o_custkey".as("ck"))
        .agg(max($"ous").as("cus"), count(lit(1)).as("freq"),
          sum($"p_e2").cast(LongType).as("mon_e2")))
      // corpus max orderdate == max over per-customer maxes: reuse the cache
      val mx = cust.agg(max($"cus").as("mxus"))
      val cm = cust.crossJoin(broadcast(mx))
        .select($"ck", $"freq", $"mon_e2",
          expr("(mxus - cus) div 86400000000L").as("rec_days"))
      // ONE exploded (metric, bin) pass replaces the three per-metric bin
      // builders (r18, guide §2.4 shared exchange): each customer emits its
      // r/f/m bin tagged by metric, one partial-agg shuffle counts all
      // three bin domains together, and one per-metric window derives the
      // cumulative-below prefix AND the customer total (nc = Σc within any
      // metric — every customer has exactly one bin per metric, so this
      // equals the old separate COUNT(*) frame). Collapses 3 bin-agg jobs
      // + 1 count job + 4 broadcast builds into 1 agg + 3 tiny cache-scan
      // broadcasts; per-bin values are identical, so the three join keys
      // and every score are bit-for-bit unchanged.
      val binW = Window.partitionBy($"metric").orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bins = graft.CacheRegistry.persist(cm
        .select(explode(array(
          struct(lit("r").as("metric"), (-$"rec_days").as("bin")),
          struct(lit("f").as("metric"), $"freq".as("bin")),
          struct(lit("m").as("metric"), expr("mon_e2 div 1000000").as("bin")))).as("mb"))
        .groupBy($"mb.metric".as("metric"), $"mb.bin".as("bin"))
        .agg(count(lit(1)).as("c"))
        .select($"metric", $"bin",
          coalesce(sum($"c").over(binW), lit(0L)).cast(LongType).as("cl"),
          sum($"c").over(Window.partitionBy($"metric")).cast(LongType).as("nc")))
      def side(m: String, nm: String): DataFrame =
        bins.filter($"metric" === m)
          .select($"bin".as(s"${nm}_bin"), $"cl".as(s"${nm}_cl"),
            $"nc".as(s"${nm}_nc"))
      cm.join(broadcast(side("r", "r")), -cm("rec_days") === $"r_bin")
        .join(broadcast(side("f", "f")), cm("freq") === $"f_bin")
        .join(broadcast(side("m", "m")), expr("mon_e2 div 1000000") === $"m_bin")
        .withColumn("nc", $"r_nc")
        .select($"mon_e2",
          least(lit(1L) + expr("(5 * r_cl) div nc"), lit(5L)).as("r_score"),
          least(lit(1L) + expr("(5 * f_cl) div nc"), lit(5L)).as("f_score"),
          least(lit(1L) + expr("(5 * m_cl) div nc"), lit(5L)).as("m_score"))
        .groupBy($"r_score", $"f_score", $"m_score")
        .agg(count(lit(1)).as("n_customers"), sum($"mon_e2").cast(LongType).as("monetary_e2"))
        .orderBy($"r_score", $"f_score", $"m_score")
    }
  )

  // ---------------------------------------------------------------- B100
  /** Activity heatmap — the day-of-week × hour-of-day census behind every
    * product-analytics dashboard. Both axes are CALENDAR-FREE epoch
    * arithmetic (the b68/b94 discipline): `dow = (epoch_days + 4) mod 7`
    * (0 = Sunday; 1970-01-01 was a Thursday) and
    * `hr = in-day microseconds div 3600e6`, so Spark and DuckDB can never
    * disagree on week rules, locales, or DST (both read UTC-normalized
    * timestamps). Exact distinct users per cell and exact value cents.
    *
    * Scale shape: one partial-agg shuffle into 168 cells; the distinct
    * count expands to (dow, hr, user) partials first — Spark's standard
    * two-phase distinct, partial-agg'd map-side; no window, no join.
    */
  private val b100 = QuerySpec(
    "b100_heatmap",
    "Day-of-week x hour activity heatmap: event counts, exact distinct users, exact value cents per cell — calendar-free epoch arithmetic (dow = (epoch_days+4) mod 7, 0=Sunday), one partial-agg shuffle into 168 cells.",
    Some("""WITH t AS (SELECT
              ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
              (epoch_us(ts) % 86400000000) // 3600000000 AS hr,
              user_id, value FROM events)
            SELECT dow, hr, COUNT(*) AS n_events,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
              CAST(SUM(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS value_e2
            FROM t GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select(unix_micros($"ts").as("us"), $"user_id",
          floor($"value" * 100.0).cast(LongType).as("v_e2"))
        .select(expr("((us div 86400000000L) + 4L) % 7L").as("dow"),
          expr("(us % 86400000000L) div 3600000000L").as("hr"),
          $"user_id", $"v_e2")
        .groupBy($"dow", $"hr")
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"user_id").cast(LongType).as("n_users"),
          sum($"v_e2").cast(LongType).as("value_e2"))
        .orderBy($"dow", $"hr")
    }
  )

  // ---------------------------------------------------------------- B109
  /** Basket-size census — the order-grain denominator behind
    * [[b105]]'s affinity mine: distinct parts per order, histogrammed,
    * with each size's exact share and its pair-mine cost contribution
    * sz·(sz−1)/2 (the within-order self-join fan-out b105 pays). The
    * c2_band_occupancy pricing discipline applied to the transactional
    * pair mine.
    *
    * Scale shape: one (order, part) distinct + order-keyed partial-agg,
    * then a bounded size-domain census. No joins.
    */
  private val b109 = QuerySpec(
    "b109_basket_hist",
    "Basket-size census: distinct parts per order histogrammed with exact-ppm share and the pair-mine cost contribution sz*(sz-1)/2 per bucket — prices b105's within-order fan-out before running it.",
    Some("""WITH i AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            b AS (SELECT ok, CAST(COUNT(*) AS BIGINT) AS sz FROM i GROUP BY ok),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM b)
            SELECT sz AS basket_size, COUNT(*) AS n_orders,
              CAST((COUNT(*) * 1000000) // (SELECT total FROM n) AS BIGINT) AS share_ppm,
              CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS pair_cost
            FROM b GROUP BY sz ORDER BY basket_size"""),
    (s, d) => {
      import s.implicits._
      val b = Tables.lineitem(s, d)
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
        .groupBy($"ok").agg(count(lit(1)).as("sz"))
      val n = b.agg(count(lit(1)).as("total"))
      b.groupBy($"sz".as("basket_size"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("sz * (sz - 1) div 2")).cast(LongType).as("pair_cost"))
        .crossJoin(broadcast(n))
        .select($"basket_size", $"n_orders",
          expr("(n_orders * 1000000L) div total").as("share_ppm"), $"pair_cost")
        .orderBy($"basket_size")
    }
  )

  // ---------------------------------------------------------------- B108
  /** Holt forecast backtest — the accuracy census over [[b102]]'s
    * smoother: at every hour k, compare the one-step-ahead forecast
    * (l_k + b_k, made BEFORE seeing hour k+1) against the actual
    * n_{k+1}·1e6, and report per type the exact MAE (e6) and bias. The
    * backtest is the number that decides whether the trend term earns
    * its keep vs plain EWMA — a smoother is only as good as its
    * holdout error, and this evaluates it with zero lookahead leakage
    * (forecast at k never sees k+1). Same recurrence, same truncating-
    * division discipline; the error pairing is one lead() over the
    * per-type trace.
    *
    * Scale shape: identical to b102 (cached rollup, per-type bounded
    * arrays, O(hours) UDF) plus a types-sized census fold.
    */
  private val b108 = QuerySpec(
    "b108_holt_backtest",
    "Holt one-step backtest per type: exact |forecast_k - actual_{k+1}| integer errors (zero lookahead), per-type n/MAE(e6)/bias(e6) — the holdout number that justifies (or rejects) the trend term; recursive-CTE oracle.",
    Some("""WITH RECURSIVE h AS (SELECT event_type,
              CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr_epoch,
              CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
            k AS (SELECT event_type, hr_epoch, n,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr_epoch) AS rk FROM h),
            r AS (SELECT event_type, hr_epoch, n, rk,
              n * 1000000 AS l, CAST(0 AS BIGINT) AS b
              FROM k WHERE rk = 1
              UNION ALL
              SELECT k.event_type, k.hr_epoch, k.n, k.rk,
                (k.n * 1000000 + (r.l + r.b)) // 2 AS l,
                (((k.n * 1000000 + (r.l + r.b)) // 2) - r.l + r.b) // 2 AS b
              FROM k JOIN r ON k.event_type = r.event_type AND k.rk = r.rk + 1),
            e AS (SELECT cur.event_type,
              nxt.n * 1000000 - (cur.l + cur.b) AS err
              FROM r cur JOIN r nxt
                ON nxt.event_type = cur.event_type AND nxt.rk = cur.rk + 1)
            SELECT event_type, COUNT(*) AS n_steps,
              CAST(SUM(abs(err)) // COUNT(*) AS BIGINT) AS mae_e6,
              CAST(SUM(err) // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS bias_e6
            FROM e GROUP BY event_type ORDER BY event_type"""),
    (s, d) => {
      import s.implicits._
      val h = graft.CacheRegistry.persist(Tables.events(s, d)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
        .agg(count(lit(1)).cast(LongType).as("n"))
        .select($"event_type",
          unix_timestamp($"hr").cast(LongType).as("hr_epoch"), $"n"))
      // per-type error array: forecast at k (l+b) vs actual at k+1 —
      // the same truncating-division recurrence as b102_holt
      val backtest = udf { (ns: Seq[Long]) =>
        var l = 0L; var b = 0L; var i = 0
        var sumAbs = 0L; var sumErr = 0L
        while (i < ns.length) {
          if (i > 0) {
            val err = ns(i) * 1000000L - (l + b)
            sumAbs += math.abs(err); sumErr += err
          }
          if (i == 0) { l = ns(0) * 1000000L; b = 0L }
          else {
            val lp = l
            l = (ns(i) * 1000000L + (l + b)) / 2L
            b = ((l - lp) + b) / 2L
          }
          i += 1
        }
        (math.max(ns.length - 1, 0).toLong, sumAbs, sumErr)
      }
      h.groupBy($"event_type")
        .agg(sort_array(collect_list(struct($"hr_epoch", $"n"))).as("hn"))
        .select($"event_type",
          backtest(expr("transform(hn, x -> x.n)")).as("r"))
        .select($"event_type", $"r._1".as("n_steps"),
          expr("r._2 div r._1").cast(LongType).as("mae_e6"),
          expr("r._3 div r._1").cast(LongType).as("bias_e6"))
        .orderBy($"event_type")
    }
  )

  // ---------------------------------------------------------------- B107
  /** Order→ship latency distribution — supply-chain SLA analytics over
    * the orders⋈lineitem latency in whole days (calendar-free
    * epoch-microsecond difference; the synthetic shipdates are not tied
    * to orderdates, so NEGATIVE latencies exist and the truncating
    * `div`/`//` agreement on negatives — the b102_holt finding — is
    * load-bearing here). Exact min/max/mean(e3) plus nearest-rank
    * median/p90 selected from the day-resolution histogram by the b95
    * cross-multiplied rank tests (2·cum ≥ n, 10·cum ≥ 9n) — no
    * interpolation, no corpus-scale sort.
    *
    * Scale shape: one co-keyed orderkey join (both sides shuffle once),
    * the latency frame cached for the histogram and the totals, the
    * cumulative window over the timespan-bounded day domain.
    */
  private val b107 = QuerySpec(
    "b107_ship_latency",
    "Order-to-ship latency: exact day-grain stats (min/max/mean e3) + nearest-rank median/p90 from the bounded day histogram (b95 rank tests); epoch-us day arithmetic with truncating division (negative latencies exist by design).",
    Some("""WITH l AS (SELECT (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)) // 86400000000 AS d
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
            h AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS cnt FROM l GROUP BY d),
            c AS (SELECT d, cnt, CAST(SUM(cnt) OVER (ORDER BY d) AS BIGINT) AS cum FROM h),
            t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(MIN(d) AS BIGINT) AS min_d, CAST(MAX(d) AS BIGINT) AS max_d,
              CAST(SUM(d) * 1000 // COUNT(*) AS BIGINT) AS mean_e3 FROM l)
            SELECT t.n, t.min_d, t.max_d, t.mean_e3,
              (SELECT CAST(MIN(d) AS BIGINT) FROM c, t WHERE 2 * cum >= t.n) AS med_d,
              (SELECT CAST(MIN(d) AS BIGINT) FROM c, t WHERE 10 * cum >= 9 * t.n) AS p90_d
            FROM t"""),
    (s, d) => {
      import s.implicits._
      val lat = graft.CacheRegistry.persist(
        Tables.lineitem(s, d).select($"l_orderkey",
            unix_micros($"l_shipdate".cast(TimestampType)).as("sus"))
          .join(Tables.orders(s, d).select($"o_orderkey",
            unix_micros($"o_orderdate".cast(TimestampType)).as("ous")),
            $"l_orderkey" === $"o_orderkey")
          .select(expr("(sus - ous) div 86400000000L").as("d")))
      val h = lat.groupBy($"d").agg(count(lit(1)).cast(LongType).as("cnt"))
      val cumW = Window.orderBy($"d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = h.withColumn("cum", sum($"cnt").over(cumW).cast(LongType))
      val t = lat.agg(count(lit(1)).cast(LongType).as("n"),
        min($"d").cast(LongType).as("min_d"), max($"d").cast(LongType).as("max_d"),
        expr("sum(d) * 1000 div count(1)").cast(LongType).as("mean_e3"))
      val sel = c.crossJoin(broadcast(t))
        .agg(min(when(lit(2) * $"cum" >= $"n", $"d")).cast(LongType).as("med_d"),
          min(when(lit(10) * $"cum" >= lit(9) * $"n", $"d")).cast(LongType).as("p90_d"))
      t.crossJoin(broadcast(sel))
        .select($"n", $"min_d", $"max_d", $"mean_e3", $"med_d", $"p90_d")
    }
  )

  // ---------------------------------------------------------------- B106
  /** Revenue concentration curve (Pareto deciles) — the curve view of
    * b88's single Gini number: customers deciled by total spend and each
    * decile's exact revenue share in ppm. Deciles use the b99_rfm
    * quantized-quantile machinery (value-bounded \$10k spend bins,
    * cumulative-below prefix over the BIN table, score = 1 + (10·cum)
    * div n via one broadcast bin join) — never a corpus-scale ntile.
    * Everything integer-exact: cents from floor(price·100), shares by
    * BIGINT division.
    *
    * Scale shape: one o_custkey partial-agg shuffle; bin table and the
    * single-row totals ride broadcasts; ≤10 output rows.
    */
  private val b106 = QuerySpec(
    "b106_pareto",
    "Revenue Pareto curve: customers deciled by exact-cents spend via quantized bins (no global sort/ntile — the b99 machinery at decile granularity), per-decile customer counts, revenue, and exact-ppm share.",
    Some("""WITH cust AS (SELECT o_custkey AS ck,
              CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS mon_e2
              FROM orders GROUP BY o_custkey),
            n AS (SELECT COUNT(*) AS nc, CAST(SUM(mon_e2) AS BIGINT) AS tot FROM cust),
            mb AS (SELECT mon_e2 // 1000000 AS bin, COUNT(*) AS c FROM cust GROUP BY 1),
            mc AS (SELECT bin, COALESCE(CAST(SUM(c) OVER (ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cl FROM mb),
            sc AS (SELECT c.mon_e2,
                LEAST(1 + (10 * mc.cl) // n.nc, 10) AS decile
              FROM cust c JOIN mc ON c.mon_e2 // 1000000 = mc.bin CROSS JOIN n)
            SELECT decile, COUNT(*) AS n_customers,
              CAST(SUM(mon_e2) AS BIGINT) AS rev_e2,
              CAST((SUM(mon_e2) * 1000000) // (SELECT tot FROM n) AS BIGINT) AS share_ppm
            FROM sc GROUP BY decile ORDER BY decile"""),
    (s, d) => {
      import s.implicits._
      val cust = graft.CacheRegistry.persist(Tables.orders(s, d)
        .select($"o_custkey".as("ck"), floor($"o_totalprice" * 100.0).cast(LongType).as("p_e2"))
        .groupBy($"ck").agg(sum($"p_e2").cast(LongType).as("mon_e2")))
      val n = cust.agg(count(lit(1)).as("nc"), sum($"mon_e2").cast(LongType).as("tot"))
      val mb = cust.groupBy(expr("mon_e2 div 1000000").as("bin")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy($"bin").rowsBetween(Window.unboundedPreceding, -1)
      val mc = mb.select($"bin".as("m_bin"),
        coalesce(sum($"c").over(w), lit(0L)).cast(LongType).as("cl"))
      cust.join(broadcast(mc), expr("mon_e2 div 1000000") === $"m_bin")
        .crossJoin(broadcast(n))
        .select($"mon_e2", $"tot",
          least(lit(1L) + expr("(10 * cl) div nc"), lit(10L)).as("decile"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_customers"),
          sum($"mon_e2").cast(LongType).as("rev_e2"),
          expr("(sum(mon_e2) * 1000000L) div first(tot)").cast(LongType).as("share_ppm"))
        .orderBy($"decile")
    }
  )

  // ---------------------------------------------------------------- B105
  /** Market-basket affinity ("frequently bought together") — the
    * transactional twin of `c4_pmi`'s text collocations, same exact
    * integer-lift discipline: part pairs co-occurring within an order,
    * min-support 2, ranked by lift = c_xy·1e9 div (c_x·c_y) (one BIGINT
    * multiply + integer divide — for a fixed order count the true lift
    * ratio is a monotone function of this, so the ranking needs no N and
    * no floats). Top-100 by (lift desc, part pair) via TakeOrdered.
    *
    * Scale shape: the pair mine self-joins WITHIN the order block —
    * baskets are bounded (≤ dozens of items), so fan-out is Σ|basket|²,
    * never |items|²; the support filter runs on the aggregated pair
    * table BEFORE the two part-support probe joins (the c4_pmi probe
    * discipline — candidates are support-bounded, the probes broadcast
    * at any scale where parts ≪ orders).
    */
  private val b105 = QuerySpec(
    "b105_basket_lift",
    "Market-basket affinity: within-order part pairs (bounded basket self-join), min-support 2, exact integer lift c_xy*1e9 div (c_x*c_y), top-100 TakeOrdered — frequently-bought-together with zero float ops.",
    Some("""WITH i AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            s AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS sup FROM i GROUP BY pk),
            p AS (SELECT a.pk AS pa, b.pk AS pb FROM i a JOIN i b
                  ON a.ok = b.ok AND a.pk < b.pk),
            c AS (SELECT pa, pb, CAST(COUNT(*) AS BIGINT) AS c_xy
                  FROM p GROUP BY pa, pb HAVING COUNT(*) >= 2)
            SELECT c.pa, c.pb, c.c_xy, sa.sup AS c_x, sb.sup AS c_y,
              CAST((c.c_xy * 1000000000) // (sa.sup * sb.sup) AS BIGINT) AS lift_e9
            FROM c JOIN s sa ON c.pa = sa.pk JOIN s sb ON c.pb = sb.pk
            ORDER BY lift_e9 DESC, pa, pb LIMIT 100"""),
    (s, d) => {
      import s.implicits._
      // Baskets as sorted arrays, pairs enumerated MAP-SIDE from each
      // basket row (guide §2.4 — remove the shuffle outright): the r16
      // shape materialized distinct (order, part) rows and self-joined
      // them on the order key, which re-exchanged both sides (the distinct
      // partitioning is (ok, pk), the join key is ok). One groupBy(ok)
      // collects each bounded basket once; pa < pb falls out of slicing
      // the sorted array past the anchor's position. Same Σ|basket|²
      // fan-out bound, one exchange fewer, no join. Values identical:
      // collect_set = the distinct, pair multiplicity per order is 1
      // either way.
      val baskets = graft.CacheRegistry.persist(Tables.lineitem(s, d)
        .groupBy($"l_orderkey".as("ok"))
        .agg(sort_array(collect_set($"l_partkey")).as("bs")))
      val sup = baskets.select(explode($"bs").as("pk"))
        .groupBy($"pk").agg(count(lit(1)).as("sup"))
      val c = baskets
        .select(posexplode($"bs").as(Seq("i", "pa")), $"bs")
        .select($"pa", explode(expr("slice(bs, i + 2, size(bs))")).as("pb"))
        .groupBy($"pa", $"pb").agg(count(lit(1)).as("c_xy"))
        .filter($"c_xy" >= 2)
      c.join(sup.select($"pk".as("pa"), $"sup".as("c_x")), Seq("pa"))
        .join(sup.select($"pk".as("pb"), $"sup".as("c_y")), Seq("pb"))
        .select($"pa", $"pb", $"c_xy", $"c_x", $"c_y",
          expr("c_xy * 1000000000L div (c_x * c_y)").cast(LongType).as("lift_e9"))
        .orderBy($"lift_e9".desc, $"pa", $"pb")
        .limit(100)
    }
  )

  // ---------------------------------------------------------------- B104
  /** A/B test scorecard — the experiment-analysis warehouse operator:
    * users deterministically assigned to variants by md5 hash (first hex
    * char < '8' ⇒ A, else B — the c1d split discipline, uniform, zero
    * RNG, identical on both engines with no numeric parsing), conversion
    * measured as view→purchase at USER grain (any purchase among users
    * who viewed), reported per variant with exact-ppm conversion. Grain
    * matters: event-grain "conversion" double-counts heavy users — the
    * classic A/B analysis bug this operator's per-user MAX aggregation
    * avoids by construction.
    *
    * Scale shape: one partial-agg groupBy on user_id computes both flags
    * and the assignment (map-side expression, no lookup join); the
    * scorecard folds to 2 rows.
    */
  private val b104 = QuerySpec(
    "b104_abtest",
    "A/B test scorecard: md5-deterministic user->variant assignment (first hex < '8'), user-grain view->purchase conversion per variant with exact-ppm rate — per-user MAX flags, no event-grain double counting; map-side assignment, one user shuffle, 2-row fold.",
    Some("""WITH u AS (SELECT user_id,
              CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                   THEN 'A' ELSE 'B' END AS variant,
              MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
              MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
              FROM events GROUP BY user_id)
            SELECT variant,
              CAST(COUNT(*) AS BIGINT) AS n_users,
              CAST(SUM(viewed) AS BIGINT) AS n_viewers,
              CAST(SUM(CASE WHEN viewed = 1 AND purchased = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
              CAST((SUM(CASE WHEN viewed = 1 AND purchased = 1 THEN 1 ELSE 0 END) * 1000000)
                // SUM(viewed) AS BIGINT) AS conv_ppm
            FROM u GROUP BY variant ORDER BY variant"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"user_id")
        .agg(max(when($"event_type" === "view", 1).otherwise(0)).as("viewed"),
          max(when($"event_type" === "purchase", 1).otherwise(0)).as("purchased"))
        .select(when(substring(md5($"user_id".cast(StringType)), 1, 1) < "8", "A")
            .otherwise("B").as("variant"),
          $"viewed", $"purchased")
        .groupBy($"variant")
        .agg(count(lit(1)).cast(LongType).as("n_users"),
          sum($"viewed").cast(LongType).as("n_viewers"),
          sum(when($"viewed" === 1 && $"purchased" === 1, 1L).otherwise(0L))
            .cast(LongType).as("n_converted"))
        .select($"variant", $"n_users", $"n_viewers", $"n_converted",
          expr("(n_converted * 1000000L) div n_viewers").as("conv_ppm"))
        .orderBy($"variant")
    }
  )

  // ---------------------------------------------------------------- B103
  /** Cohort LTV curve — the revenue sibling of b39's retention matrix:
    * customers cohorted by FIRST-order month, revenue tracked by months
    * since acquisition, cumulative per cohort. Month indexes are
    * `year·12 + month − 1` (plain EXTRACT arithmetic, identical integers
    * on both engines — months_between-style fractional diffs never enter);
    * revenue is exact cents (floor(price·100) per order before any sum).
    *
    * Scale shape: one partial-agg groupBy on o_custkey finds cohorts; the
    * orders⋈cohort join is co-keyed on ck (both sides from the same
    * scan); the (cohort, k) census is ≤ months² rows, its cumulative
    * window runs over that bounded grid, and the per-cohort customer
    * counts ride a broadcast.
    */
  private val b103 = QuerySpec(
    "b103_ltv",
    "Cohort LTV: customers cohorted by first-order month (integer yr*12+mo index), exact-cents revenue by months-since-acquisition with per-cohort cumulative — the b39-retention revenue sibling; co-keyed cohort join, bounded-grid window, broadcast cohort sizes.",
    Some("""WITH o AS (SELECT o_custkey AS ck,
              (EXTRACT(year FROM o_orderdate) * 12 + EXTRACT(month FROM o_orderdate) - 1) AS mi,
              CAST(floor(o_totalprice * 100.0) AS BIGINT) AS p_e2
              FROM orders),
            c AS (SELECT ck, MIN(mi) AS cmi FROM o GROUP BY ck),
            cs AS (SELECT cmi AS scmi, CAST(COUNT(*) AS BIGINT) AS n_cust FROM c GROUP BY cmi),
            j AS (SELECT c.cmi, o.mi - c.cmi AS k, o.p_e2 FROM o JOIN c ON o.ck = c.ck),
            g AS (SELECT cmi, k, CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(p_e2) AS BIGINT) AS rev_e2 FROM j GROUP BY cmi, k),
            w AS (SELECT cmi, k, n_orders, rev_e2,
              CAST(SUM(rev_e2) OVER (PARTITION BY cmi ORDER BY k) AS BIGINT) AS cum_rev_e2
              FROM g)
            SELECT CAST(cmi AS BIGINT) AS cohort_mi, CAST(k AS BIGINT) AS month_k,
              n_cust, n_orders, rev_e2, cum_rev_e2
            FROM w JOIN cs ON w.cmi = cs.scmi ORDER BY cohort_mi, month_k"""),
    (s, d) => {
      import s.implicits._
      val o = graft.CacheRegistry.persist(Tables.orders(s, d)
        .select($"o_custkey".as("ck"),
          (year($"o_orderdate") * 12 + month($"o_orderdate") - 1).cast(LongType).as("mi"),
          floor($"o_totalprice" * 100.0).cast(LongType).as("p_e2")))
      val c = o.groupBy($"ck").agg(min($"mi").as("cmi"))
      val cs = c.groupBy($"cmi".as("scmi")).agg(count(lit(1)).cast(LongType).as("n_cust"))
      val g = o.join(c, "ck")
        .select($"cmi", ($"mi" - $"cmi").as("k"), $"p_e2")
        .groupBy($"cmi", $"k")
        .agg(count(lit(1)).cast(LongType).as("n_orders"),
          sum($"p_e2").cast(LongType).as("rev_e2"))
      // cumulative over the bounded (cohort, months) grid only
      val cum = Window.partitionBy($"cmi").orderBy($"k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("cum_rev_e2", sum($"rev_e2").over(cum).cast(LongType))
        .join(broadcast(cs), $"cmi" === $"scmi")
        .select($"cmi".cast(LongType).as("cohort_mi"), $"k".cast(LongType).as("month_k"),
          $"n_cust", $"n_orders", $"rev_e2", $"cum_rev_e2")
        .orderBy($"cohort_mi", $"month_k")
    }
  )

  // ---------------------------------------------------------------- B102
  /** Holt double-exponential smoothing (α = β = 1/2) — [[b96]]'s EWMA
    * with a TREND term, the standard next step for dashboard series that
    * drift: level l_k = ⌊(x_k·1e6 + (l_{k−1} + b_{k−1}))/2⌋, trend
    * b_k = ((l_k − l_{k−1}) + b_{k−1}) quot 2, one-step forecast l_k + b_k.
    * The trend can go NEGATIVE, so the division semantics on negatives
    * finally matter (b96's nonnegative recurrence never hits them):
    * BOTH engines truncate toward zero — DuckDB's `//` is C-style
    * (−7 // 2 = −3, probed), and Scala's Long `/` matches; `Math
    * .floorDiv` would disagree by one on every negative step. Everything
    * else is the b96 discipline: a
    * linear recurrence is inherently sequential per series (not
    * expressible as an associative window), so an O(hours) UDF scans one
    * timespan-bounded array per type and the trace replays bit-for-bit in
    * a recursive CTE.
    */
  private val b102 = QuerySpec(
    "b102_holt",
    "Holt double-exponential smoothing (alpha=beta=1/2) per type over hourly rates: exact integer level/trend recurrence with truncating division (matches DuckDB // on negative trends), one-step forecast l+b; cached rollup -> per-type array UDF -> explode; recursive-CTE oracle.",
    Some("""WITH RECURSIVE h AS (SELECT event_type,
              CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr_epoch,
              CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
            k AS (SELECT event_type, hr_epoch, n,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr_epoch) AS rk FROM h),
            r AS (SELECT event_type, hr_epoch, n, rk,
              n * 1000000 AS l, CAST(0 AS BIGINT) AS b
              FROM k WHERE rk = 1
              UNION ALL
              SELECT k.event_type, k.hr_epoch, k.n, k.rk,
                (k.n * 1000000 + (r.l + r.b)) // 2 AS l,
                (((k.n * 1000000 + (r.l + r.b)) // 2) - r.l + r.b) // 2 AS b
              FROM k JOIN r ON k.event_type = r.event_type AND k.rk = r.rk + 1)
            SELECT event_type, hr_epoch, n, CAST(l AS BIGINT) AS level_e6,
              CAST(b AS BIGINT) AS trend_e6, CAST(l + b AS BIGINT) AS forecast_e6
            FROM r ORDER BY event_type, hr_epoch"""),
    (s, d) => {
      import s.implicits._
      val h = graft.CacheRegistry.persist(Tables.events(s, d)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
        .agg(count(lit(1)).cast(LongType).as("n"))
        .select($"event_type",
          unix_timestamp($"hr").cast(LongType).as("hr_epoch"), $"n"))
      // sequential linear recurrence — the b96 only-when-built-ins-can't
      // UDF criterion; Scala Long `/` truncates toward zero exactly like
      // DuckDB's `//` (probed: -7 // 2 = -3), so negative trends replay
      val holt = udf { (ns: Seq[Long]) =>
        val out = new Array[(Long, Long)](ns.length)
        var l = 0L; var b = 0L; var i = 0
        while (i < ns.length) {
          if (i == 0) { l = ns(0) * 1000000L; b = 0L }
          else {
            val lp = l
            l = (ns(i) * 1000000L + (l + b)) / 2L
            b = ((l - lp) + b) / 2L
          }
          out(i) = (l, b); i += 1
        }
        out.toSeq
      }
      h.groupBy($"event_type")
        .agg(sort_array(collect_list(struct($"hr_epoch", $"n"))).as("hn"))
        .select($"event_type",
          expr("transform(hn, x -> x.hr_epoch)").as("hrs"),
          expr("transform(hn, x -> x.n)").as("ns"))
        .withColumn("lb", holt($"ns"))
        .select($"event_type", explode(arrays_zip($"hrs", $"ns", $"lb")).as("z"))
        .select($"event_type", $"z.hrs".as("hr_epoch"), $"z.ns".as("n"),
          $"z.lb._1".as("level_e6"), $"z.lb._2".as("trend_e6"),
          ($"z.lb._1" + $"z.lb._2").as("forecast_e6"))
        .orderBy($"event_type", $"hr_epoch")
    }
  )

  // ---------------------------------------------------------------- B101
  /** Maximum drawdown per event type — the peak-to-trough metric of
    * financial series analytics, run over the hourly cumulative value
    * series: cum_k = running sum of hourly value cents, peak_k = running
    * max of cum, drawdown_k = peak_k − cum_k, reported at its argmax with
    * the earliest-hour tie-break (the b91 WindowGroupLimit discipline).
    * Everything is exact BIGINT cents (floor(value·100) per event before
    * any sum), so the windows are order-free integer arithmetic.
    *
    * Scale shape: the corpus collapses to the cached hourly rollup first
    * (one partial-agg shuffle); all three windows run type-partitioned
    * over ROLLUP rows (timespan-bounded, never corpus-sized); the
    * per-type stats table rides a broadcast.
    */
  private val b101 = QuerySpec(
    "b101_drawdown",
    "Max drawdown per event type over the hourly cumulative value-cents series: exact BIGINT cum/peak/drawdown via type-partitioned windows on the cached hourly rollup, argmax with earliest-hour tie-break, per-type stats broadcast.",
    Some("""WITH h AS (SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
              CAST(SUM(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY event_type, hr),
            w AS (SELECT event_type, hr, v,
              CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY hr) AS BIGINT) AS cum
              FROM h),
            m AS (SELECT event_type, hr, cum,
              MAX(cum) OVER (PARTITION BY event_type ORDER BY hr) AS peak
              FROM w),
            dd AS (SELECT event_type, CAST(epoch(hr) AS BIGINT) AS hr_epoch,
              peak - cum AS dd,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY peak - cum DESC, hr) AS rn
              FROM m),
            st AS (SELECT event_type AS sty, CAST(COUNT(*) AS BIGINT) AS n_hours,
              CAST(SUM(v) AS BIGINT) AS total_e2 FROM h GROUP BY event_type)
            SELECT event_type, n_hours, total_e2,
              CAST(dd AS BIGINT) AS max_dd_e2, hr_epoch AS dd_hr_epoch
            FROM dd JOIN st ON event_type = sty WHERE rn = 1 ORDER BY event_type"""),
    (s, d) => {
      import s.implicits._
      val h = graft.CacheRegistry.persist(Tables.events(s, d)
        .select($"event_type", date_trunc("hour", $"ts").as("hr"),
          floor($"value" * 100.0).cast(LongType).as("p_e2"))
        .groupBy($"event_type", $"hr")
        .agg(sum($"p_e2").cast(LongType).as("v")))
      val st = h.groupBy($"event_type".as("sty"))
        .agg(count(lit(1)).cast(LongType).as("n_hours"),
          sum($"v").cast(LongType).as("total_e2"))
      val ord = Window.partitionBy($"event_type").orderBy($"hr")
      val m = h
        .withColumn("cum", sum($"v").over(ord).cast(LongType))
        .withColumn("peak", max($"cum").over(ord))
        .select($"event_type", unix_timestamp($"hr").cast(LongType).as("hr_epoch"),
          ($"peak" - $"cum").as("dd"))
      val pick = Window.partitionBy($"event_type").orderBy($"dd".desc, $"hr_epoch")
      m.withColumn("rn", row_number().over(pick))
        .filter($"rn" === 1)
        .join(broadcast(st), $"event_type" === $"sty")
        .select($"event_type", $"n_hours", $"total_e2",
          $"dd".cast(LongType).as("max_dd_e2"), $"hr_epoch".as("dd_hr_epoch"))
        .orderBy($"event_type")
    }
  )

  // ---------------------------------------------------------------- B110
  /** Time-constrained funnel (the windowFunnel operator product analytics
    * tools ship): [[b38]]'s greedy view→click→purchase chain with the
    * product-question constraint b38 cannot ask — each step must land
    * within 24 h of the PREVIOUS step, because a purchase three weeks
    * after the click is a different campaign, not a conversion. Emits the
    * per-level histogram (how far did users get under the deadline) plus
    * exact total/max conversion seconds for full converters — the numbers
    * behind "median time-to-convert" dashboards.
    *
    * Exactness: timestamps compare directly; the deadline and the
    * conversion durations are BIGINT epoch-microsecond arithmetic
    * (`unix_micros`/`epoch_us`) — no interval rounding on either engine.
    * Strict `>` chaining excludes ties identically.
    *
    * Scale shape: identical to b38 — one hash partition by user, three
    * conditional-min window passes over the SAME exchange (Catalyst
    * reuses it), then a bounded 3-row histogram agg. No self-joins, no
    * explosion; the 24 h predicate is a per-row scalar inside the window
    * condition.
    */
  private val FunnelWindowUs = 24L * 3600 * 1000000
  private val b110 = QuerySpec(
    "b110_window_funnel",
    "Windowed funnel (view->click->purchase, each step within 24h of the previous): per-level user histogram + exact conversion-second totals for full converters — b38's window-pass plan with an epoch-microsecond deadline in the step condition.",
    Some(s"""WITH v AS (SELECT user_id, min(CASE WHEN event_type='view' THEN ts END) AS v_ts
            |  FROM events GROUP BY 1),
            |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
            |  JOIN v ON e.user_id = v.user_id
            |  WHERE e.event_type = 'click' AND e.ts > v.v_ts
            |    AND epoch_us(e.ts) - epoch_us(v.v_ts) <= $FunnelWindowUs GROUP BY 1),
            |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
            |  JOIN c ON e.user_id = c.user_id
            |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
            |    AND epoch_us(e.ts) - epoch_us(c.c_ts) <= $FunnelWindowUs GROUP BY 1),
            |lvl AS (SELECT v.user_id,
            |    CASE WHEN p.p_ts IS NOT NULL THEN 3
            |         WHEN c.c_ts IS NOT NULL THEN 2 ELSE 1 END AS level,
            |    CASE WHEN p.p_ts IS NOT NULL
            |         THEN (epoch_us(p.p_ts) - epoch_us(v.v_ts)) // 1000000 ELSE 0 END AS conv_s
            |  FROM v LEFT JOIN c ON c.user_id = v.user_id
            |  LEFT JOIN p ON p.user_id = v.user_id
            |  WHERE v.v_ts IS NOT NULL)
            |SELECT CAST(level AS BIGINT) AS level, CAST(COUNT(*) AS BIGINT) AS n_users,
            |  CAST(SUM(conv_s) AS BIGINT) AS sum_conv_s,
            |  CAST(MAX(conv_s) AS BIGINT) AS max_conv_s
            |FROM lvl GROUP BY level ORDER BY level""".stripMargin),
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
      Tables.events(s, d)
        .select($"user_id", $"event_type", $"ts")
        .withColumn("v_ts", min(when($"event_type" === "view", $"ts")).over(w))
        .withColumn("c_ts", min(when($"event_type" === "click" && $"ts" > $"v_ts"
          && unix_micros($"ts") - unix_micros($"v_ts") <= FunnelWindowUs, $"ts")).over(w))
        .withColumn("p_ts", min(when($"event_type" === "purchase" && $"ts" > $"c_ts"
          && unix_micros($"ts") - unix_micros($"c_ts") <= FunnelWindowUs, $"ts")).over(w))
        .filter($"v_ts".isNotNull)
        .groupBy($"user_id")
        .agg(max(when($"p_ts".isNotNull, 3L).otherwise(when($"c_ts".isNotNull, 2L)
            .otherwise(1L))).as("level"),
          max(when($"p_ts".isNotNull,
            expr(s"(unix_micros(p_ts) - unix_micros(v_ts)) div 1000000"))
            .otherwise(0L)).as("conv_s"))
        .groupBy($"level")
        .agg(count(lit(1)).as("n_users"),
          sum($"conv_s").cast(LongType).as("sum_conv_s"),
          max($"conv_s").as("max_conv_s"))
        .orderBy($"level")
    }
  )

  // ---------------------------------------------------------------- B111
  /** Benford first-digit audit — the forensic data-quality screen
    * auditors and data-ingest monitors run on any money/measurement
    * column: the leading-digit histogram of exact cents against Benford's
    * law P(d) = log10(1 + 1/d), with per-digit deviation. TPC-H's
    * uniform-ish price generator is NOT Benford — which is exactly what
    * the audit should surface (a synthetic or manipulated column shows
    * up as fat mid-digit mass; the per-digit dev_ppm rows are the
    * evidence table).
    *
    * Exactness: cents via the one floor(×100) IEEE step every money
    * query uses; the leading digit by decimal-string head (identical
    * rendering of a positive BIGINT on both engines); shares and the
    * Benford expectation ln(1+1/d)/ln(10) quantized at 1e-6 with
    * identical chains (the c4u ln discipline).
    *
    * Scale shape: ONE map-side digit key + partial-agged count into a
    * 9-row table; the total rides a broadcast. Nothing else moves.
    */
  private val b111 = QuerySpec(
    "b111_benford",
    "Benford first-digit audit of order totals: exact-cents leading-digit histogram vs floor(ln(1+1/d)/ln(10)*1e6) expectation, per-digit observed/expected/deviation ppm — one map-side key, one 9-row partial-agged count, broadcast total.",
    Some("""WITH c AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100.0) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
              FROM orders),
            h AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY digit),
            t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM h)
            SELECT digit, n,
              CAST(n * 1000000 // t.total AS BIGINT) AS obs_ppm,
              CAST(floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1000000.0) AS BIGINT) AS exp_ppm,
              CAST(n * 1000000 // t.total
                - CAST(floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1000000.0) AS BIGINT) AS BIGINT) AS dev_ppm
            FROM h CROSS JOIN t ORDER BY digit"""),
    (s, d) => {
      import s.implicits._
      val h = Tables.orders(s, d)
        .select(substring(floor($"o_totalprice" * 100.0).cast(LongType)
          .cast(StringType), 1, 1).cast(LongType).as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n"))
      val t = h.agg(sum($"n").as("total"))
      h.crossJoin(broadcast(t))
        .select($"digit", $"n",
          expr("CAST(n * 1000000 div total AS BIGINT)").as("obs_ppm"),
          expr("CAST(floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1000000.0) AS BIGINT)").as("exp_ppm"),
          expr("""CAST(n * 1000000 div total
            - CAST(floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1000000.0) AS BIGINT) AS BIGINT)""").as("dev_ppm"))
        .orderBy($"digit")
    }
  )

  // ---------------------------------------------------------------- B112
  /** Interval-coverage / uptime rollup — the SLA question every device or
    * service monitor answers: each event opens a busy interval
    * [ts, ts + 60 + floor(value) % 540 s); per user, OVERLAPS MERGE
    * (being busy twice at once is not twice as busy), and the report is
    * merged busy seconds, interval vs island counts, and the longest
    * continuous busy stretch. The 1D time twin of the a11ah slab sweep's
    * y-interval merge — same gaps-and-islands, same running-max window,
    * keyed on user.
    *
    * Exactness: all epoch-microsecond BIGINT arithmetic; the running max
    * orders by (start, end) with ties permutation-safe (the a11ah
    * argument); half-open intervals merge on touch via strict `>`.
    * busy_s sums merged-span MICROSECONDS across islands and floors once
    * (per-island flooring would shave a sub-second remainder per island);
    * longest_s is a single island's span, floored.
    *
    * Scale shape: ONE hash partition by user feeds both window passes and
    * the rollup (Catalyst reuses the exchange); user keys grow with the
    * data — never a global window.
    */
  private val b112 = QuerySpec(
    "b112_uptime",
    "Interval-coverage uptime: per-event busy intervals [ts, ts+60+floor(value)%540 s) merged per user via gaps-and-islands (running-max window), exact merged busy seconds, interval/island counts, longest stretch — all epoch-us BIGINT, one user-keyed exchange end-to-end.",
    Some("""WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
              epoch_us(ts) + (60 + CAST(floor(value) AS BIGINT) % 540) * 1000000 AS e
              FROM events),
            mx AS (SELECT user_id, s, e,
              MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
              FROM iv),
            isl AS (SELECT user_id, s, e,
              CAST(SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
              FROM mx),
            per AS (SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS n_iv,
              MIN(s) AS is0, MAX(e) AS ie1
              FROM isl GROUP BY user_id, island)
            SELECT user_id,
              CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
              CAST(COUNT(*) AS BIGINT) AS n_islands,
              CAST(SUM(ie1 - is0) // 1000000 AS BIGINT) AS busy_s,
              CAST(MAX((ie1 - is0) // 1000000) AS BIGINT) AS longest_s
            FROM per GROUP BY user_id ORDER BY user_id"""),
    (s, d) => {
      import s.implicits._
      val iv = Tables.events(s, d)
        .select($"user_id", unix_micros($"ts").as("s"),
          (unix_micros($"ts")
            + (lit(60L) + floor($"value").cast(LongType) % 540) * 1000000L).as("e"))
      val wPrev = Window.partitionBy($"user_id").orderBy($"s", $"e")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy($"user_id").orderBy($"s", $"e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      iv.withColumn("pmax", max($"e").over(wPrev))
        .withColumn("island",
          sum(when($"pmax".isNull || $"s" > $"pmax", 1L).otherwise(0L)).over(wRun))
        .groupBy($"user_id", $"island")
        .agg(count(lit(1)).as("n_iv"), min($"s").as("is0"), max($"e").as("ie1"))
        .groupBy($"user_id")
        .agg(sum($"n_iv").cast(LongType).as("n_intervals"),
          count(lit(1)).as("n_islands"),
          // sum merged microseconds FIRST, floor once: per-island floor
          // would drop a sub-second remainder per island, making busy_s
          // less than the exact merged-span total the report claims
          expr("sum(ie1 - is0) div 1000000").cast(LongType).as("busy_s"),
          max(expr("(ie1 - is0) div 1000000")).as("longest_s"))
        .orderBy($"user_id")
    }
  )

  // ---------------------------------------------------------------- B113
  /** Skyline / Pareto-front — the classic non-dominated-set operator
    * (Börzsönyi et al., ICDE 2001): within each (priority, order-month)
    * group, the orders no other order beats on BOTH price (cheaper
    * better) and date (earlier better). The textbook 2D algorithm is
    * declarative: sort by (price, date), a point is dominated iff the
    * running MIN date over strictly-preceding rows is ≤ its own —
    * every preceding row is no pricier, so an earlier-or-equal date
    * means full dominance. Exact-duplicate (price, date) points
    * collapse FIRST (min-key representative + multiplicity), which
    * makes the ≤ test exact: post-dedup, a preceding equal-price row
    * is strictly earlier.
    *
    * Exactness: cents via the one floor(×100) step, dates as epoch
    * days — all BIGINT; the windows order by the deduped unique
    * (cents, day) pair, so ties cannot exist by construction.
    *
    * Scale shape: groups are (priority × month) — bounded per time
    * slice and growing with the data, so the per-group sort windows
    * parallelize; no global sort, no self-join (the naive skyline is
    * O(n²) dominance pairs — this is O(n log n) per group and one
    * exchange).
    */
  private val b113 = QuerySpec(
    "b113_skyline",
    "Skyline (Pareto-front) per (priority, order-month): non-dominated orders on (cents asc, day asc) via dedup + running-min-date window — group, cents, epoch day, multiplicity, min-key representative; O(n log n) per bounded group, no self-join, no global sort.",
    Some("""WITH o AS (SELECT o_orderpriority AS prio,
              CAST(date_trunc('month', o_orderdate) AS DATE) AS mth,
              CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents,
              CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
              o_orderkey AS okey
              FROM orders),
            dd AS (SELECT prio, mth, cents, d,
              CAST(COUNT(*) AS BIGINT) AS n_dup, MIN(okey) AS rep_key
              FROM o GROUP BY prio, mth, cents, d),
            w AS (SELECT prio, mth, cents, d, n_dup, rep_key,
              MIN(d) OVER (PARTITION BY prio, mth ORDER BY cents, d
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmin
              FROM dd)
            SELECT prio, mth, cents, d AS epoch_day, n_dup, rep_key
            FROM w WHERE pmin IS NULL OR d < pmin
            ORDER BY prio, mth, cents, d"""),
    (s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
        .select($"o_orderpriority".as("prio"),
          date_trunc("month", $"o_orderdate").cast(DateType).as("mth"),
          floor($"o_totalprice" * 100.0).cast(LongType).as("cents"),
          datediff($"o_orderdate".cast(DateType), to_date(lit("1970-01-01")))
            .cast(LongType).as("d"),
          $"o_orderkey".as("okey"))
      val dd = o.groupBy($"prio", $"mth", $"cents", $"d")
        .agg(count(lit(1)).as("n_dup"), min($"okey").as("rep_key"))
      val wPrev = Window.partitionBy($"prio", $"mth").orderBy($"cents", $"d")
        .rowsBetween(Window.unboundedPreceding, -1)
      dd.withColumn("pmin", min($"d").over(wPrev))
        .filter($"pmin".isNull || $"d" < $"pmin")
        .select($"prio", $"mth", $"cents", $"d".as("epoch_day"), $"n_dup", $"rep_key")
        .orderBy($"prio", $"mth", $"cents", $"epoch_day")
    }
  )

  // ---------------------------------------------------------------- B114
  /** Day-of-week seasonality profile — the weekly-cycle census a
    * forecasting pipeline derives before choosing seasonal terms (and the
    * ops dashboard behind "why are Mondays slow"): per-DOW order count,
    * exact revenue cents, and a seasonal index = 7·rev_d / rev_total as
    * an exact integer e6 ratio (a flat week is 1e6 across the board).
    * DOW convention is aligned to 0=Sunday..6=Saturday on both engines
    * (Spark's 1-based `dayofweek` minus one).
    *
    * Scale shape: one map-side DOW key + partial agg to ≤7 rows, a 1-row
    * total broadcast fold — the whole answer is 7 rows at any scale.
    */
  private val b114 = QuerySpec(
    "b114_dow_seasonality",
    "Day-of-week seasonality: per-DOW (0=Sunday) order count, exact revenue cents, and integer-e6 seasonal index 7*rev_dow div rev_total — weekly-cycle census; map-side key, 7-row agg, 1-row broadcast fold.",
    Some("""WITH o AS (SELECT dayofweek(CAST(o_orderdate AS DATE)) AS dow,
              CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents
              FROM orders),
            g AS (SELECT CAST(dow AS BIGINT) AS dow, COUNT(*) AS n,
              CAST(SUM(cents) AS BIGINT) AS cents FROM o GROUP BY dow),
            t AS (SELECT SUM(cents) AS total FROM g)
            SELECT dow, n, cents,
              CAST((7 * cents * 1000000) // total AS BIGINT) AS idx_e6
            FROM g CROSS JOIN t ORDER BY dow"""),
    (s, d) => {
      import s.implicits._
      val g = Tables.orders(s, d)
        .select((dayofweek($"o_orderdate".cast(DateType)) - 1).cast(LongType).as("dow"),
          floor($"o_totalprice" * 100.0).cast(LongType).as("cents"))
        .groupBy($"dow")
        .agg(count(lit(1)).as("n"), sum($"cents").cast(LongType).as("cents"))
      val t = g.agg(sum($"cents").as("total"))
      g.crossJoin(broadcast(t))
        .select($"dow", $"n", $"cents",
          expr("(7 * cents * 1000000) div total").cast(LongType).as("idx_e6"))
        .orderBy($"dow")
    }
  )

  // ---------------------------------------------------------------- B115
  /** Month-over-month rank momentum — the "top movers" leaderboard a
    * merchandising/BI pipeline publishes: top-100 parts per order-month
    * by revenue, consecutive months aligned, rank delta per surviving
    * part. Revenue is the exact e4 integer
    * `floor(extprice·100)·(100 − floor(disc·100))` (both factors are
    * 2-decimal fixtures, so the product IS extprice·(1−disc)·1e4 — zero
    * float sums anywhere); ranking ties break on the part key, so the
    * top-100 boundary is a total order.
    *
    * Scale shape: one lineitem⋈orders equi-join (the standard TPC-H
    * fact join, AQE-handled), a (month, part) partial agg, a rank window
    * partitioned BY MONTH with the `rnk <= 100` filter adjacent so Spark's
    * WindowGroupLimit pushes the top-k below the sort, then a self-join
    * of two ≤100-rows/month frames on an integer month index.
    */
  private val b115 = QuerySpec(
    "b115_rank_momentum",
    "Month-over-month part-rank momentum: top-100 parts per order-month by exact e4 revenue (month-partitioned rank window with WindowGroupLimit pushdown, part-key tiebreak), consecutive months self-joined on an integer month index; rank delta per surviving part.",
    Some("""WITH li AS (SELECT l.l_partkey AS pk,
              year(CAST(o.o_orderdate AS DATE)) * 12 + month(CAST(o.o_orderdate AS DATE)) AS midx,
              CAST(floor(l.l_extendedprice * 100.0) AS BIGINT)
                * (100 - CAST(floor(l.l_discount * 100.0) AS BIGINT)) AS rev_e4
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
            agg AS (SELECT midx, pk, SUM(rev_e4) AS rev FROM li GROUP BY midx, pk),
            rk AS (SELECT midx, pk, rev,
                ROW_NUMBER() OVER (PARTITION BY midx ORDER BY rev DESC, pk) AS rnk
              FROM agg),
            top AS (SELECT * FROM rk WHERE rnk <= 100)
            SELECT CAST(b.midx AS BIGINT) AS midx, b.pk AS partkey,
              CAST(a.rnk AS BIGINT) AS rank_prev, CAST(b.rnk AS BIGINT) AS rank_cur,
              CAST(a.rnk - b.rnk AS BIGINT) AS delta
            FROM top a JOIN top b ON b.midx = a.midx + 1 AND b.pk = a.pk
            ORDER BY midx, rank_cur"""),
    (s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d).select($"l_orderkey", $"l_partkey".as("pk"),
        (floor($"l_extendedprice" * 100.0).cast(LongType) *
          (lit(100L) - floor($"l_discount" * 100.0).cast(LongType))).as("rev_e4"))
      val o = Tables.orders(s, d).select($"o_orderkey",
        (year($"o_orderdate".cast(DateType)) * 12 + month($"o_orderdate".cast(DateType)))
          .cast(LongType).as("midx"))
      val agg = li.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"midx", $"pk").agg(sum($"rev_e4").as("rev"))
      val w = Window.partitionBy($"midx").orderBy($"rev".desc, $"pk")
      val top = CacheRegistry.persist(
        agg.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 100))
      val a = top.select($"midx".as("m_a"), $"pk".as("pk_a"), $"rnk".as("rank_prev"))
      val b = top.select($"midx", $"pk".as("partkey"), $"rnk".as("rank_cur"))
      b.join(a, $"midx" === $"m_a" + 1 && $"partkey" === $"pk_a")
        .select($"midx", $"partkey",
          $"rank_prev".cast(LongType).as("rank_prev"),
          $"rank_cur".cast(LongType).as("rank_cur"),
          ($"rank_prev" - $"rank_cur").cast(LongType).as("delta"))
        .orderBy($"midx", $"rank_cur")
    }
  )

  // ---------------------------------------------------------------- B116
  /** Duplicate-invoice detection — the relational twin of the Tier C text
    * dedup family (the accounts-payable / billing-audit classic): order
    * pairs from the SAME customer in the SAME $10k amount band within a
    * 60-day window. Banded amounts, not exact cents, because real-world
    * (and this fixture's) amounts are near-continuous — exact-match is
    * structurally empty, and AP audits band for the same reason. Blocking
    * is the (customer, band) equi-join — the inverted-index discipline of
    * the text pair mines: candidates are bounded by per-(cust, band)
    * multiplicity, never |orders|²; the day-window is the cheap residual
    * refine. Exact integer cents bands and epoch days everywhere.
    *
    * Scale shape: one map-side projection, one (cust, band) shuffle
    * self-join (AQE splits any hot band), ordered pair emission via
    * `okey_a < okey_b` — no distinct pass, no window.
    */
  private val DupeBandCents = 1000000L // $10k amount bands
  private val DupeWindowDays = 60L
  private val b116 = QuerySpec(
    "b116_dupe_orders",
    s"Duplicate-invoice detection: same-customer order pairs in the same $$10k amount band within $DupeWindowDays days — (cust, band) equi-join blocking with a day-window refine, ordered pair emission, all-integer; the billing-audit twin of the text dedup pair mines.",
    Some(s"""WITH o AS (SELECT o_orderkey AS okey, o_custkey AS cust,
              CAST(floor(o_totalprice * 100.0) AS BIGINT) // $DupeBandCents AS band,
              CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d
              FROM orders)
            SELECT a.cust AS cust, a.okey AS okey_a, b.okey AS okey_b, a.band AS band,
              CAST(abs(a.d - b.d) AS BIGINT) AS day_gap
            FROM o a JOIN o b
              ON a.cust = b.cust AND a.band = b.band AND a.okey < b.okey
              AND abs(a.d - b.d) <= $DupeWindowDays
            ORDER BY cust, okey_a, okey_b"""),
    (s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d).select(
        $"o_orderkey".as("okey"), $"o_custkey".as("cust"),
        expr(s"CAST(floor(o_totalprice * 100.0) AS BIGINT) div $DupeBandCents").as("band"),
        datediff($"o_orderdate".cast(DateType), to_date(lit("1970-01-01")))
          .cast(LongType).as("d"))
      val a = o.select($"okey".as("okey_a"), $"cust", $"band", $"d".as("d_a"))
      val b = o.select($"okey".as("okey_b"), $"cust".as("cust_r"),
        $"band".as("band_r"), $"d".as("d_b"))
      a.join(b, $"cust" === $"cust_r" && $"band" === $"band_r" &&
          $"okey_a" < $"okey_b" && abs($"d_a" - $"d_b") <= DupeWindowDays)
        .select($"cust", $"okey_a", $"okey_b", $"band",
          abs($"d_a" - $"d_b").cast(LongType).as("day_gap"))
        .orderBy($"cust", $"okey_a", $"okey_b")
    }
  )

  // ---------------------------------------------------------------- B117
  /** Growth accounting — the product-analytics quad behind every DAU/MAU
    * chart, here at DAY grain (the fixture spans one month): per day,
    * split the active users into NEW (first day ever), RETAINED (also
    * active the day before), and RESURRECTED (inactive the day before,
    * first day earlier), and report the day-before's CHURNED (active
    * then, not now). The invariant new + retained + resurrected =
    * active is structural. Complements [[b93]]'s active counts and
    * [[b94]]'s churn list with the full decomposition.
    *
    * Scale shape: one distinct (user, month) rollup (partial agg), a
    * user-grain first-month agg joined co-keyed, ONE self-join on
    * (user, month−1) for the adjacency flags, then a ≤|months|-row
    * census. No windows; everything is user-keyed equi-joins.
    */
  private val b117 = QuerySpec(
    "b117_growth_accounting",
    "Growth accounting (day grain): per-day active users decomposed into new / retained / resurrected plus the prior day's churned (invariant: new+retained+resurrected = active); distinct (user, day) rollup, first-day join, one (user, day-1) self-join, all-integer.",
    Some("""WITH p AS (SELECT DISTINCT user_id,
              CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS midx
              FROM events),
            f AS (SELECT user_id, MIN(midx) AS first_m FROM p GROUP BY user_id),
            j AS (SELECT p.user_id, p.midx, f.first_m,
                CASE WHEN q.user_id IS NULL THEN 0 ELSE 1 END AS prev_active
              FROM p JOIN f ON f.user_id = p.user_id
              LEFT JOIN p q ON q.user_id = p.user_id AND q.midx = p.midx - 1),
            cur AS (SELECT CAST(midx AS BIGINT) AS midx,
                COUNT(*) AS active,
                CAST(SUM(CASE WHEN first_m = midx THEN 1 ELSE 0 END) AS BIGINT) AS new_u,
                CAST(SUM(prev_active) AS BIGINT) AS retained,
                CAST(SUM(CASE WHEN prev_active = 0 AND first_m < midx THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
              FROM j GROUP BY midx),
            ch AS (SELECT CAST(p.midx + 1 AS BIGINT) AS midx,
                CAST(COUNT(CASE WHEN q.user_id IS NULL THEN 1 END) AS BIGINT) AS churned
              FROM p LEFT JOIN p q ON q.user_id = p.user_id AND q.midx = p.midx + 1
              GROUP BY p.midx)
            SELECT cur.midx, cur.active, cur.new_u, cur.retained, cur.resurrected,
              CAST(COALESCE(ch.churned, 0) AS BIGINT) AS churned_in
            FROM cur LEFT JOIN ch ON ch.midx = cur.midx
            ORDER BY cur.midx"""),
    (s, d) => {
      import s.implicits._
      val p = CacheRegistry.persist(Tables.events(s, d)
        .select($"user_id",
          datediff($"ts".cast(DateType), to_date(lit("1970-01-01")))
            .cast(LongType).as("midx"))
        .distinct())
      val f = p.groupBy($"user_id").agg(min($"midx").as("first_m"))
      val prev = p.select($"user_id".as("u_r"), $"midx".as("m_r"))
      val cur = p.join(f, "user_id")
        .join(prev, $"user_id" === $"u_r" && $"m_r" === $"midx" - 1, "left")
        .withColumn("prev_active", when($"u_r".isNull, 0L).otherwise(1L))
        .groupBy($"midx")
        .agg(count(lit(1)).as("active"),
          sum(when($"first_m" === $"midx", 1L).otherwise(0L)).cast(LongType).as("new_u"),
          sum($"prev_active").cast(LongType).as("retained"),
          sum(when($"prev_active" === 0L && $"first_m" < $"midx", 1L).otherwise(0L))
            .cast(LongType).as("resurrected"))
      val ch = p.join(prev, $"user_id" === $"u_r" && $"m_r" === $"midx" + 1, "left")
        .groupBy(($"midx" + 1).as("midx_n"))
        .agg(count(when($"u_r".isNull, 1)).cast(LongType).as("churned"))
      cur.join(ch, $"midx" === $"midx_n", "left")
        .select($"midx", $"active", $"new_u", $"retained", $"resurrected",
          coalesce($"churned", lit(0L)).as("churned_in"))
        .orderBy($"midx")
    }
  )

  // ---------------------------------------------------------------- B118
  /** Inter-purchase-interval profile — the CRM rhythm metric behind
    * replenishment reminders and churn-risk windows: per customer (≥2
    * orders), the count, min, exact NEAREST-RANK median, and max of the
    * day gaps between consecutive orders. Ordering ties on the same day
    * break on the order key, so the gap sequence is a total order; all
    * values are exact integer days.
    *
    * Scale shape: ONE customer-keyed exchange feeds the date-lag window,
    * the gap-rank window, and the per-customer rollup (customer keys grow
    * with the data — never unpartitioned); the median is the rank-k gap
    * selected by a conditional aggregate, not a second sort.
    */
  private val b118 = QuerySpec(
    "b118_purchase_gaps",
    "Inter-purchase intervals per customer (>=2 orders): count, min, exact nearest-rank median, max of consecutive-order day gaps — replenishment/churn rhythm; one customer-keyed exchange for lag + rank + rollup, all-integer.",
    Some("""WITH o AS (SELECT o_custkey AS cust, o_orderkey AS okey,
              CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d
              FROM orders),
            g AS (SELECT cust,
                d - lag(d) OVER (PARTITION BY cust ORDER BY d, okey) AS gap
              FROM o),
            gg AS (SELECT cust, gap,
                row_number() OVER (PARTITION BY cust ORDER BY gap, cust) AS rk,
                COUNT(*) OVER (PARTITION BY cust) AS ng
              FROM g WHERE gap IS NOT NULL)
            SELECT cust, CAST(ng AS BIGINT) AS n_gaps,
              CAST(MIN(gap) AS BIGINT) AS min_gap,
              CAST(MIN(CASE WHEN rk = (ng + 1) // 2 THEN gap END) AS BIGINT) AS med_gap,
              CAST(MAX(gap) AS BIGINT) AS max_gap
            FROM gg GROUP BY cust, ng ORDER BY cust"""),
    (s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d).select($"o_custkey".as("cust"), $"o_orderkey".as("okey"),
        datediff($"o_orderdate".cast(DateType), to_date(lit("1970-01-01")))
          .cast(LongType).as("d"))
      val wLag = Window.partitionBy($"cust").orderBy($"d", $"okey")
      val wRank = Window.partitionBy($"cust").orderBy($"gap", $"cust")
      val wCnt = Window.partitionBy($"cust")
      o.withColumn("gap", $"d" - lag($"d", 1).over(wLag))
        .filter($"gap".isNotNull)
        .withColumn("rk", row_number().over(wRank))
        .withColumn("ng", count(lit(1)).over(wCnt))
        .groupBy($"cust", $"ng")
        .agg(min($"gap").cast(LongType).as("min_gap"),
          min(when($"rk" === expr("(ng + 1) div 2"), $"gap")).cast(LongType).as("med_gap"),
          max($"gap").cast(LongType).as("max_gap"))
        .select($"cust", $"ng".cast(LongType).as("n_gaps"),
          $"min_gap", $"med_gap", $"max_gap")
        .orderBy($"cust")
    }
  )

  // ---------------------------------------------------------------- B119
  /** Lead–lag cross-correlation profile — the time-series companion to
    * [[b89]]'s AUTOcorrelation: for every ordered pair of event types,
    * Pearson r between type A's daily count series and type B's shifted
    * by lag L ∈ [−7, +7], reporting the lag that maximizes r (ties →
    * smallest lag) plus the lag-0 correlation — the "does signups lead
    * purchases by N days?" diagnostic every product-analytics stack ships
    * (a.k.a. the sample cross-correlation function, Box–Jenkins).
    *
    * Exactness: the corpus collapses ONCE to exact BIGINT daily counts on
    * a zero-densified (type × day) grid (missing days are real zeros, not
    * absent rows — absence would silently shrink n per lag); all five
    * Pearson sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are BIGINT;
    * the one IEEE chain (two exactly-rounded sqrts, one multiply, one
    * divide) is written with identical association in both engines and
    * floor-quantized at 1e-6. Zero-variance windows yield NULL (ordered
    * NULLS LAST on both sides).
    *
    * Scale shape: the (type, day) rollup is the only corpus-scan (one
    * partial-agged shuffle); the grid densify, the 15-lag self-join, and
    * the argmax window all run on |types|·|days| rows — thousands at any
    * corpus size. The grid frame is persisted once and reused by both
    * join sides.
    */
  private val b119 = QuerySpec(
    "b119_leadlag",
    "Lead-lag cross-correlation: per ordered event-type pair, Pearson r between daily counts at lags -7..7 on a zero-densified day grid (BIGINT sufficient statistics, identical sqrt-chain quantized at 1e-6), best lag by (r desc, lag), plus lag-0 r — corpus collapses once to the (type, day) rollup.",
    Some("""WITH e AS (SELECT event_type AS t,
              CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
            pc AS (SELECT t, day, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY t, day),
            days AS (SELECT DISTINCT day FROM pc),
            types AS (SELECT DISTINCT t FROM pc),
            g AS (SELECT types.t, days.day, CAST(COALESCE(pc.c, 0) AS BIGINT) AS c
              FROM types CROSS JOIN days
              LEFT JOIN pc ON pc.t = types.t AND pc.day = days.day),
            lags AS (SELECT CAST(unnest(range(-7, 8)) AS BIGINT) AS lg),
            j AS (SELECT a.t AS ta, b.t AS tb, l.lg,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(a.c) AS BIGINT) AS sx, CAST(SUM(b.c) AS BIGINT) AS sy,
                CAST(SUM(a.c * b.c) AS BIGINT) AS sxy,
                CAST(SUM(a.c * a.c) AS BIGINT) AS sxx,
                CAST(SUM(b.c * b.c) AS BIGINT) AS syy
              FROM lags l
              CROSS JOIN g a
              JOIN g b ON b.day = a.day + l.lg AND b.t <> a.t
              GROUP BY a.t, b.t, l.lg),
            r AS (SELECT ta, tb, lg, n,
                CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
                  CAST(floor(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
                    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                       * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) AS BIGINT)
                ELSE NULL END AS r_e6
              FROM j),
            best AS (SELECT ta, tb, lg, n, r_e6,
                row_number() OVER (PARTITION BY ta, tb
                  ORDER BY r_e6 DESC NULLS LAST, lg) AS rn FROM r)
            SELECT b.ta AS type_a, b.tb AS type_b, b.lg AS best_lag,
              b.n AS n_days, b.r_e6 AS r_best_e6, z.r_e6 AS r0_e6
            FROM best b JOIN r z ON z.ta = b.ta AND z.tb = b.tb AND z.lg = 0
            WHERE b.rn = 1 ORDER BY type_a, type_b"""),
    (s, d) => {
      import s.implicits._
      val pc = CacheRegistry.persist(Tables.events(s, d)
        .select($"event_type".as("t"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy($"t", $"day").agg(count(lit(1)).as("c")))
      val days = pc.select($"day").distinct()
      val types = pc.select($"t").distinct()
      val g = CacheRegistry.persist(broadcast(types).crossJoin(days)
        .join(pc.select($"t", $"day", $"c".as("c0")), Seq("t", "day"), "left")
        .select($"t", $"day", coalesce($"c0", lit(0L)).as("c")))
      val lags = s.range(-7L, 8L).toDF("lg")
      val j = g.as("a").crossJoin(broadcast(lags))
        .join(g.as("b"),
          col("b.day") === col("a.day") + col("lg") && col("b.t") =!= col("a.t"))
        .groupBy(col("a.t").as("ta"), col("b.t").as("tb"), col("lg"))
        .agg(count(lit(1)).as("n"),
          sum(col("a.c")).as("sx"), sum(col("b.c")).as("sy"),
          sum(col("a.c") * col("b.c")).as("sxy"),
          sum(col("a.c") * col("a.c")).as("sxx"),
          sum(col("b.c") * col("b.c")).as("syy"))
      val r = CacheRegistry.persist(j.select($"ta", $"tb", $"lg", $"n",
        expr("""CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
            CAST(floor(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
              / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                 * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) AS BIGINT)
          ELSE NULL END""").as("r_e6")))
      r.withColumn("rn", row_number().over(
          Window.partitionBy($"ta", $"tb").orderBy($"r_e6".desc_nulls_last, $"lg")))
        .filter($"rn" === 1)
        .join(r.filter($"lg" === 0).select($"ta", $"tb", $"r_e6".as("r0_e6")),
          Seq("ta", "tb"))
        .select($"ta".as("type_a"), $"tb".as("type_b"), $"lg".as("best_lag"),
          $"n".as("n_days"), $"r_e6".as("r_best_e6"), $"r0_e6")
        .orderBy($"type_a", $"type_b")
    }
  )

  // ---------------------------------------------------------------- B120
  /** Source/sink format coverage — the engine's answer to "can I land and
    * re-read my data in something other than parquet?". The query writes a
    * lineitem projection to ORC, CSV, and JSON-lines sinks, reads each back
    * through the matching source (explicit schema on the text formats — no
    * inference pass at scale), and proves all three roundtrips are lossless
    * by aggregating each to the identical fingerprint the oracle computes
    * straight off the parquet. All measures are BIGINT before writing
    * (quantity floored, price in e2 cents), so even the text formats are
    * exact — no float-printing drift can enter the roundtrip.
    *
    * Scale shape: the write and the read-back are both per-partition
    * parallel (every Spark format sink/source is); the fingerprint is one
    * partial-agg rollup per format plus one distinct-key shuffle. The temp
    * landing dir is one per session ([[graft.Fixture.sessionDir]]),
    * overwritten per run and deleted when the JVM exits, so repeated
    * Verify/Bench invocations don't accrete files.
    */
  private val b120 = QuerySpec(
    "b120_format_roundtrip",
    "Format roundtrip: lineitem keys+BIGINT measures written to ORC/CSV/JSON sinks and re-read through the matching sources (explicit schema, no inference); per-format row count, quantity sum, e2 price sum, and distinct-order count all match the parquet-direct oracle fingerprint.",
    Some("""WITH base AS (SELECT l_orderkey,
              CAST(floor(l_quantity) AS BIGINT) AS qty_l,
              CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS price_e2
            FROM lineitem),
          a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(qty_l) AS BIGINT) AS sum_qty,
              CAST(SUM(price_e2) AS BIGINT) AS sum_price_e2,
              CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM base)
          SELECT f.fmt, a.n_rows, a.sum_qty, a.sum_price_e2, a.n_orders
          FROM (VALUES ('csv'), ('json'), ('orc')) f(fmt) CROSS JOIN a
          ORDER BY fmt"""),
    (s, d) => {
      import s.implicits._
      val base = Tables.lineitem(s, d).select(
        $"l_orderkey", $"l_linenumber".cast(LongType).as("l_linenumber"),
        floor($"l_quantity").cast(LongType).as("qty_l"),
        floor($"l_extendedprice" * 100.0).cast(LongType).as("price_e2"))
      val schema = base.schema
      // one landing dir per (input dir, session): two concurrent sessions
      // verifying the same dataset never race each other's overwrite/re-read
      // cycle; Overwrite keeps same-session reruns clean
      val land = graft.Fixture.sessionDir(s, "b120", d)
      base.write.mode("overwrite").orc(s"$land/orc")
      base.write.mode("overwrite").option("header", "true").csv(s"$land/csv")
      base.write.mode("overwrite").json(s"$land/json")
      val reads = Seq(
        "csv" -> s.read.schema(schema).option("header", "true").csv(s"$land/csv"),
        "json" -> s.read.schema(schema).json(s"$land/json"),
        "orc" -> s.read.schema(schema).orc(s"$land/orc"))
      reads.map { case (fmt, df) =>
        df.agg(count(lit(1)).as("n_rows"),
            sum($"qty_l").cast(LongType).as("sum_qty"),
            sum($"price_e2").cast(LongType).as("sum_price_e2"),
            countDistinct($"l_orderkey").as("n_orders"))
          .select(lit(fmt).as("fmt"), $"n_rows", $"sum_qty", $"sum_price_e2", $"n_orders")
      }.reduce(_.unionAll(_)).orderBy($"fmt")
    }
  )

  // ---------------------------------------------------------------- B121
  /** Mann–Kendall trend test + Theil–Sen slope — the nonparametric trend
    * detector a monitoring stack runs where Holt/EWMA (`b102`/`b96`) would
    * be fooled by outliers: S = Σ sign(c_j − c_i) over all ordered day
    * pairs of the daily count series, the MK variance D(D−1)(2D+5)/18,
    * the continuity-corrected normal score z = (S∓1)/√var, and the
    * Theil–Sen slope (median of all pairwise slopes — the 29%-breakdown
    * robust slope estimator).
    *
    * Exactness: S and the variance numerator are pure integers; each
    * pairwise slope is floored at e6 (one IEEE divide, identical both
    * engines); the median is the value at the lower-median ROW RANK of
    * the slope_e6 total order (value-at-rank is deterministic under ties
    * because the ordering key IS the value); z is floored at e3 after one
    * sqrt — the b119 quantized-sqrt discipline.
    *
    * Scale shape: the corpus collapses ONCE to the (type, day) rollup
    * (map-side partials); the pair self-join is per-type D(D−1)/2 with D
    * calendar-bounded (30 here, ≤ a few thousand ever), so downstream
    * work is bounded by type_count · days², never by row count. The
    * median window partitions by type over those bounded frames.
    */
  private val b121 = QuerySpec(
    "b121_mann_kendall",
    "Mann-Kendall trend + Theil-Sen slope per event type over daily counts: integer S over all day pairs, D(D-1)(2D+5)/18 variance, continuity-corrected z at e3, lower-median pairwise slope at e6 — corpus rolls to the calendar-bounded (type, day) table once.",
    Some("""WITH pc AS (SELECT event_type AS t,
              CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
              CAST(COUNT(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2),
          pr AS (SELECT a.t,
              CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sg,
              CAST(floor((b.c - a.c) * 1000000.0 / (b.day - a.day)) AS BIGINT) AS slope_e6
            FROM pc a JOIN pc b ON b.t = a.t AND b.day > a.day),
          agg AS (SELECT t, CAST(SUM(sg) AS BIGINT) AS s_stat,
              CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM pr GROUP BY t),
          dd AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_days FROM pc GROUP BY t),
          med AS (SELECT t, slope_e6 AS slope_med_e6 FROM (
              SELECT t, slope_e6,
                row_number() OVER (PARTITION BY t ORDER BY slope_e6) AS rn,
                COUNT(*) OVER (PARTITION BY t) AS n
              FROM pr) WHERE rn = (n + 1) // 2),
          z AS (SELECT agg.t, dd.n_days, agg.n_pairs, agg.s_stat,
              CAST(CASE
                WHEN agg.s_stat = 0 THEN 0
                ELSE floor((agg.s_stat - CASE WHEN agg.s_stat > 0 THEN 1 ELSE -1 END)
                  * 1000.0 / sqrt(dd.n_days * (dd.n_days - 1) * (2 * dd.n_days + 5) / 18.0))
                END AS BIGINT) AS z_e3
            FROM agg JOIN dd ON dd.t = agg.t)
          SELECT z.t AS event_type, z.n_days, z.n_pairs, z.s_stat, z.z_e3,
            med.slope_med_e6,
            CASE WHEN z.z_e3 > 1960 THEN 'up'
                 WHEN z.z_e3 < -1960 THEN 'down'
                 ELSE 'flat' END AS trend
          FROM z JOIN med ON med.t = z.t
          ORDER BY event_type"""),
    (s, d) => {
      import s.implicits._
      val pc = CacheRegistry.persist(Tables.events(s, d)
        .select($"event_type".as("t"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy($"t", $"day").agg(count(lit(1)).as("c")))
      val a = pc.select($"t", $"day".as("da"), $"c".as("ca"))
      val b = pc.select($"t".as("tb"), $"day".as("db"), $"c".as("cb"))
      val pr = CacheRegistry.persist(a
        .join(b, $"t" === $"tb" && $"db" > $"da")
        .select($"t",
          when($"cb" > $"ca", 1L).when($"cb" < $"ca", -1L).otherwise(0L).as("sg"),
          floor(($"cb" - $"ca") * 1000000.0 / ($"db" - $"da")).cast(LongType).as("slope_e6")))
      val agg = pr.groupBy($"t")
        .agg(sum($"sg").cast(LongType).as("s_stat"), count(lit(1)).as("n_pairs"))
      val dd = pc.groupBy($"t").agg(count(lit(1)).as("n_days"))
      val wm = Window.partitionBy($"t").orderBy($"slope_e6")
      val med = pr
        .withColumn("rn", row_number().over(wm).cast(LongType))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"t")))
        .filter($"rn" === expr("(n + 1) div 2"))
        .select($"t".as("tm"), $"slope_e6".as("slope_med_e6"))
      agg.join(dd.select($"t".as("td"), $"n_days"), $"t" === $"td")
        .withColumn("z_e3",
          when($"s_stat" === 0L, 0L)
            .otherwise(floor(($"s_stat" - when($"s_stat" > 0L, 1L).otherwise(-1L))
              * 1000.0
              / sqrt($"n_days" * ($"n_days" - 1L) * ($"n_days" * 2L + 5L) / 18.0)))
            .cast(LongType))
        .join(med, $"t" === $"tm")
        .select($"t".as("event_type"), $"n_days", $"n_pairs", $"s_stat", $"z_e3",
          $"slope_med_e6",
          when($"z_e3" > 1960L, "up").when($"z_e3" < -1960L, "down")
            .otherwise("flat").as("trend"))
        .orderBy($"event_type")
    }
  )

  // ---------------------------------------------------------------- B122
  /** Population Stability Index — the standard ML-monitoring drift score
    * between a baseline window and a live window, completing the drift
    * triptych (`c4_ks_drift` = distribution shape, `c4_kl_drift` = token
    * mix, PSI = binned feature drift with the industry 0.1/0.25
    * thresholds): decile edges are fit on the BASELINE half of the event
    * timeline (first 15 days) by exact nearest-rank over the cents-
    * quantized value histogram, both halves are bucketed against those
    * frozen edges, and PSI = Σ (pa−pb)·ln(pa/pb) with add-one smoothing,
    * each bucket term floored at e9 BEFORE the total (one ln+multiply
    * IEEE chain per bucket — the c4_entropy discipline — then integer
    * sums only).
    *
    * Scale shape: corpus collapses ONCE per half to the cents histogram
    * (map-side partials; distinct cents are DOMAIN-bounded at ~49k, so
    * the unpartitioned cumulative window runs over a value-domain-sized
    * frame, never a corpus-sized one); the 9 frozen edges ride a 1-row
    * broadcast array and bucketing is one map-side `size(filter(...))`
    * per histogram row. Output is 10 bucket rows + the shared total.
    */
  private val b122 = QuerySpec(
    "b122_psi",
    "Population Stability Index: decile edges frozen on the first-15-day baseline (exact nearest-rank over the domain-bounded cents histogram), both halves bucketed via a broadcast edge array, per-bucket add-one-smoothed (pa-pb)*ln(pa/pb) floored at e9, integer-summed to the shared psi_e9 — the binned-drift leg of the monitoring triptych.",
    Some("""WITH e AS (SELECT CAST(floor(value * 100.0) AS BIGINT) AS v2,
              CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
            d0 AS (SELECT MIN(day) AS dmin FROM e),
            h AS (SELECT CASE WHEN day < d0.dmin + 15 THEN 'a' ELSE 'b' END AS half,
                v2, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM e, d0 GROUP BY 1, 2),
            na AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h WHERE half = 'a'),
            cumh AS (SELECT v2, CAST(SUM(cnt) OVER (ORDER BY v2) AS BIGINT) AS cum
              FROM h WHERE half = 'a'),
            ed AS (SELECT i.i, MIN(c.v2) AS edge
              FROM (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS i) i
              JOIN cumh c ON c.cum >= (i.i * (SELECT n FROM na) + 9) // 10
              GROUP BY i.i),
            arr AS (SELECT list(edge ORDER BY edge) AS edges FROM ed),
            bk AS (SELECT h.half,
                CAST(len(list_filter(arr.edges, x -> h.v2 > x)) AS BIGINT) AS bucket,
                CAST(SUM(h.cnt) AS BIGINT) AS cnt
              FROM h, arr GROUP BY 1, 2),
            grid AS (SELECT CAST(unnest(range(0, 10)) AS BIGINT) AS bucket),
            tot AS (SELECT half, CAST(SUM(cnt) AS BIGINT) AS n FROM bk GROUP BY half),
            p AS (SELECT g.bucket,
                CAST(COALESCE(a.cnt, 0) AS BIGINT) AS c_base,
                CAST(COALESCE(b.cnt, 0) AS BIGINT) AS c_new,
                (CAST(COALESCE(a.cnt, 0) + 1 AS DOUBLE)
                  / (COALESCE((SELECT n FROM tot WHERE half = 'a'), 0) + 10)) AS pa,
                (CAST(COALESCE(b.cnt, 0) + 1 AS DOUBLE)
                  / (COALESCE((SELECT n FROM tot WHERE half = 'b'), 0) + 10)) AS pb
              FROM grid g
              LEFT JOIN bk a ON a.half = 'a' AND a.bucket = g.bucket
              LEFT JOIN bk b ON b.half = 'b' AND b.bucket = g.bucket),
            t AS (SELECT bucket, c_base, c_new,
                CAST(floor(1000000000.0 * ((pa - pb) * ln(pa / pb))) AS BIGINT) AS term_e9
              FROM p)
            SELECT bucket, c_base, c_new, term_e9,
              CAST(SUM(term_e9) OVER () AS BIGINT) AS psi_e9
            FROM t ORDER BY bucket"""),
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d).select(
        floor($"value" * 100.0).cast(LongType).as("v2"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      val dmin = e.agg(min($"day").as("dmin"))
      val h = CacheRegistry.persist(e.crossJoin(broadcast(dmin))
        .select(when($"day" < $"dmin" + 15L, "a").otherwise("b").as("half"), $"v2")
        .groupBy($"half", $"v2").agg(count(lit(1)).as("cnt")))
      // r18 job-collapse (guide §2.4, the b72 conditional-agg pattern): the
      // baseline total rides the SAME domain-bounded frame as the
      // cumulative walk (n = max(cum), one more unpartitioned window over
      // ~49k rows — replaces a separate agg + broadcast); the 9 quantile
      // indices explode from a literal sequence instead of a broadcast
      // range; the two per-half bucket frames collapse into ONE
      // conditional agg; and the a/b totals ride a window over the 10-row
      // grid instead of a broadcast single-row frame (nA = Σ c_base over
      // the grid — every h row lands in a bucket 0..9, so the sums equal
      // the old per-half totals, including the degenerate all-baseline
      // span where nB = 0). 22 jobs → ~8; every value bit-for-bit.
      val wCum = Window.orderBy($"v2").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cumh = h.filter($"half" === "a")
        .select($"v2", sum($"cnt").over(wCum).as("cum"))
        .withColumn("n", max($"cum").over(wAll))
      val edges = cumh
        .select($"v2", $"cum", $"n", explode(sequence(lit(1L), lit(9L))).as("i"))
        .filter($"cum" >= expr("(i * n + 9) div 10"))
        .groupBy($"i").agg(min($"v2").as("edge"))
      val arr = edges.agg(sort_array(collect_list($"edge")).as("edges"))
      val bk = h.crossJoin(broadcast(arr))
        .select($"half",
          size(filter($"edges", x => $"v2" > x)).cast(LongType).as("bucket"), $"cnt")
        .groupBy($"bucket").agg(
          coalesce(sum(when($"half" === "a", $"cnt")), lit(0L)).cast(LongType).as("ca"),
          coalesce(sum(when($"half" === "b", $"cnt")), lit(0L)).cast(LongType).as("cb"))
      val grid = s.range(0L, 10L).toDF("bucket")
      val p = grid.join(bk, Seq("bucket"), "left")
        .select($"bucket",
          coalesce($"ca", lit(0L)).as("c_base"), coalesce($"cb", lit(0L)).as("c_new"))
        .withColumn("nA", sum($"c_base").over(wAll).cast(LongType))
        .withColumn("nB", sum($"c_new").over(wAll).cast(LongType))
        .select($"bucket", $"c_base", $"c_new",
          (($"c_base" + 1L).cast(DoubleType) / ($"nA" + 10L)).as("pa"),
          (($"c_new" + 1L).cast(DoubleType) / ($"nB" + 10L)).as("pb"))
      p.select($"bucket", $"c_base", $"c_new",
          floor(lit(1000000000.0) * (($"pa" - $"pb") * log($"pa" / $"pb")))
            .cast(LongType).as("term_e9"))
        .withColumn("psi_e9", sum($"term_e9").over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .cast(LongType))
        .orderBy($"bucket")
    }
  )

  // ---------------------------------------------------------------- B123
  /** Holt–Winters additive triple smoothing (α=β=γ=1/2, season m=24 h) —
    * the seasonal completion of `b102_holt`: level and trend exactly as
    * there, plus a 24-slot additive seasonal state so the one-step-ahead
    * forecast carries the hour-of-day shape (`b114` proves the corpus HAS
    * dow/hour seasonality; this is the forecaster that uses it). Warmup
    * is the documented deterministic variant: the first 24 hours run the
    * plain Holt update and SEED the season slots with their residuals
    * x−l; from hour 25 on the full three-equation update applies with the
    * oldest slot rotating out. All state is exact e6 integers with
    * truncating division (the b102 probe: Scala Long `/` ≡ DuckDB `//`),
    * and the season rides the recursion as a rotating 24-list — the
    * AnnSql greedy's list-state CTE discipline.
    *
    * Scale shape (the b102 argument): corpus collapses ONCE to the
    * cached hourly rollup; the sequential recurrence runs per type over
    * an hours-bounded array inside one UDF call (inherently sequential —
    * the only-when-built-ins-can't criterion), and the explode returns
    * rollup-sized rows. Types scale out; time is calendar-bounded.
    */
  private val b123 = QuerySpec(
    "b123_holt_winters",
    "Holt-Winters additive triple smoothing (alpha=beta=gamma=1/2, m=24h) per type over hourly rates: exact e6 integer level/trend/season recurrence with truncating division, residual-seeded 24-slot warmup, one-step forecast l+b+s_next; cached rollup -> per-type array UDF -> explode; rotating-list recursive-CTE oracle.",
    Some("""WITH RECURSIVE h AS (SELECT event_type,
              CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr_epoch,
              CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
            k AS (SELECT event_type, hr_epoch, n,
              ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr_epoch) AS rk FROM h),
            r AS (SELECT event_type, hr_epoch, n, rk,
              n * 1000000 AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS s_cur,
              [CAST(0 AS BIGINT)] AS sl,
              n * 1000000 AS fc
              FROM k WHERE rk = 1
              UNION ALL
              SELECT k.event_type, k.hr_epoch, k.n, k.rk,
                CASE WHEN len(r.sl) < 24
                  THEN (k.n * 1000000 + r.l + r.b) // 2
                  ELSE ((k.n * 1000000 - r.sl[1]) + r.l + r.b) // 2 END,
                ((CASE WHEN len(r.sl) < 24
                  THEN (k.n * 1000000 + r.l + r.b) // 2
                  ELSE ((k.n * 1000000 - r.sl[1]) + r.l + r.b) // 2 END) - r.l + r.b) // 2,
                CASE WHEN len(r.sl) < 24
                  THEN k.n * 1000000 - (k.n * 1000000 + r.l + r.b) // 2
                  ELSE ((k.n * 1000000 - ((k.n * 1000000 - r.sl[1]) + r.l + r.b) // 2)
                        + r.sl[1]) // 2 END,
                CASE WHEN len(r.sl) < 24
                  THEN list_append(r.sl,
                    k.n * 1000000 - (k.n * 1000000 + r.l + r.b) // 2)
                  ELSE r.sl[2:] ||
                    [((k.n * 1000000 - ((k.n * 1000000 - r.sl[1]) + r.l + r.b) // 2)
                      + r.sl[1]) // 2] END,
                (CASE WHEN len(r.sl) < 24
                  THEN (k.n * 1000000 + r.l + r.b) // 2
                  ELSE ((k.n * 1000000 - r.sl[1]) + r.l + r.b) // 2 END)
                + ((CASE WHEN len(r.sl) < 24
                  THEN (k.n * 1000000 + r.l + r.b) // 2
                  ELSE ((k.n * 1000000 - r.sl[1]) + r.l + r.b) // 2 END) - r.l + r.b) // 2
                + CASE WHEN len(r.sl) >= 24 THEN
                    (CASE WHEN len(r.sl) < 24
                      THEN list_append(r.sl,
                        k.n * 1000000 - (k.n * 1000000 + r.l + r.b) // 2)
                      ELSE r.sl[2:] ||
                        [((k.n * 1000000 - ((k.n * 1000000 - r.sl[1]) + r.l + r.b) // 2)
                          + r.sl[1]) // 2] END)[1]
                  ELSE 0 END
              FROM k JOIN r ON k.event_type = r.event_type AND k.rk = r.rk + 1)
            SELECT event_type, hr_epoch, n, CAST(l AS BIGINT) AS level_e6,
              CAST(b AS BIGINT) AS trend_e6, CAST(s_cur AS BIGINT) AS season_e6,
              CAST(fc AS BIGINT) AS forecast_e6
            FROM r ORDER BY event_type, hr_epoch"""),
    (s, d) => {
      import s.implicits._
      val h = CacheRegistry.persist(Tables.events(s, d)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
        .agg(count(lit(1)).cast(LongType).as("n"))
        .select($"event_type",
          unix_timestamp($"hr").cast(LongType).as("hr_epoch"), $"n"))
      val hw = udf { (ns: Seq[Long]) =>
        val out = new Array[(Long, Long, Long, Long)](ns.length)
        var l = 0L; var b = 0L
        var sl = Vector.empty[Long]
        var i = 0
        while (i < ns.length) {
          val x = ns(i) * 1000000L
          if (i == 0) {
            l = x; b = 0L; sl = Vector(0L)
            out(i) = (l, b, 0L, l + b)
          } else if (sl.length < 24) {
            val lp = l
            l = (x + l + b) / 2L
            b = ((l - lp) + b) / 2L
            val sNew = x - l
            sl = sl :+ sNew
            val fcS = if (sl.length >= 24) sl.head else 0L
            out(i) = (l, b, sNew, l + b + fcS)
          } else {
            val sm = sl.head
            val lp = l
            l = ((x - sm) + l + b) / 2L
            b = ((l - lp) + b) / 2L
            val sNew = ((x - l) + sm) / 2L
            sl = sl.tail :+ sNew
            out(i) = (l, b, sNew, l + b + sl.head)
          }
          i += 1
        }
        out.toSeq
      }
      h.groupBy($"event_type")
        .agg(sort_array(collect_list(struct($"hr_epoch", $"n"))).as("hn"))
        .select($"event_type",
          expr("transform(hn, x -> x.hr_epoch)").as("hrs"),
          expr("transform(hn, x -> x.n)").as("ns"))
        .withColumn("st", hw($"ns"))
        .select($"event_type", explode(arrays_zip($"hrs", $"ns", $"st")).as("z"))
        .select($"event_type", $"z.hrs".as("hr_epoch"), $"z.ns".as("n"),
          $"z.st._1".as("level_e6"), $"z.st._2".as("trend_e6"),
          $"z.st._3".as("season_e6"), $"z.st._4".as("forecast_e6"))
        .orderBy($"event_type", $"hr_epoch")
    }
  )

  // ---------------------------------------------------------------- B124
  /** Bucketed co-located join — THE 100 TB shuffle-elimination technique
    * the posture rows cite but no query demonstrated: both join sides
    * land as bucketed+sorted tables on the SAME key and bucket count
    * (`bucketBy(8, key).sortBy(key)` → saveAsTable), so Catalyst proves
    * output partitioning at plan time and the join runs with ZERO
    * Exchange and ZERO Sort on either side (PlanAuditSpec pins both) —
    * on a real cluster this is the fact-to-fact join you cannot
    * broadcast and cannot afford to shuffle per query: pay one
    * write-time shuffle, reuse it across every downstream join on that
    * key. The tables are written INSIDE the query (fixture discipline)
    * with deterministic names per sf-dir; re-runs overwrite. Results are
    * hash-identical to the plain join (the oracle IS the unbucketed
    * formulation — co-location must never change semantics).
    */
  /** Build (once per session and source version) the bucketed+sorted
    * orders/customer tables b124/b124b ride; returns their names. The
    * names carry the [[graft.Fixture.version]] of orders and customer, so
    * regenerating the sf data at the same path names new tables. A build
    * clears the managed locations of every version of these tables for
    * this sf dir (the warehouse dir outlives the session — CREATE TABLE AS
    * would refuse with LOCATION_ALREADY_EXISTS otherwise).
    */
  private[graft] def bucketedTables(s: SparkSession, d: String): (String, String) = {
    import s.implicits._
    val version = graft.Fixture.version(d, "orders", "customer")
    val (to, tc) = (s"graft_bkt_orders_$version", s"graft_bkt_customer_$version")
    graft.Fixture.locked {
      if (!s.catalog.tableExists(to) || !s.catalog.tableExists(tc)) {
        s.sql(s"DROP TABLE IF EXISTS $to")
        s.sql(s"DROP TABLE IF EXISTS $tc")
        val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
        val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
        val hash = version.takeWhile(_ != '_') // every version for this sf dir
        if (fs.exists(wh))
          fs.listStatus(wh).map(_.getPath)
            .filter(p => Seq("orders", "customer")
              .exists(t => p.getName.startsWith(s"graft_bkt_${t}_${hash}_")))
            .foreach(fs.delete(_, true))
        // repartition on the SAME hash the bucketing uses → exactly one
        // file per bucket; Spark propagates a bucket's sort order ONLY
        // in the one-file case, and that propagation is what elides the
        // Sorts under the join (multi-file buckets keep the Sort)
        Tables.orders(s, d).select($"o_custkey", $"o_totalprice")
          .repartition(8, $"o_custkey")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(to)
        Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")
          .repartition(8, $"c_custkey")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(tc)
      }
    }
    // Spark 3+ stopped propagating sorted-bucket file order by default;
    // the one-file-per-bucket layout written above is exactly the case
    // the flag exists for, and bucketed scans are the ONLY plans it
    // touches (these are the only bucketed tables in the engine)
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    (to, tc)
  }

  private val b124 = QuerySpec(
    "b124_bucketed_join",
    "Bucketed co-located join: orders and customer land as bucketBy(8, custkey).sortBy tables, then join exchange-free AND sort-free (plan-pinned) — the write-once/join-many fact-join shape; per-customer order rollup, hash-equal to the plain-join oracle.",
    Some("""SELECT c.c_custkey, c.c_mktsegment, COUNT(*) AS n_orders,
              CAST(SUM(CAST(floor(o.o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_mktsegment
            ORDER BY c.c_custkey"""),
    (s, d) => {
      import s.implicits._
      val (to, tc) = bucketedTables(s, d)
      // merge hint: the bucketed sort-merge shape is what actually runs
      // at every sf (the plan the pin asserts), not a broadcast
      s.table(to).hint("merge")
        .join(s.table(tc), $"o_custkey" === $"c_custkey")
        .groupBy($"c_custkey", $"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor($"o_totalprice" * 100.0).cast(LongType)).cast(LongType).as("cents"))
        .orderBy($"c_custkey")
    }
  )

  /** Bucket PRUNING — the read-side half of the b124 story: an
    * equality/IN predicate on the bucket column lets the scan read ONLY
    * the buckets those literals hash to (`SelectedBucketsCount: k out of
    * 8` in the plan, PlanAuditSpec-pinned < 8). At 100 TB this is
    * partition pruning's finer sibling: the point lookup on a bucketed
    * fact table touches 1/8 of the files with no index. Reuses b124's
    * tables (same fixture, built on demand).
    */
  private val b124b = QuerySpec(
    "b124b_bucket_pruning",
    "Bucket pruning on the b124 bucketed table: IN-list on the bucket column reads only the matching buckets (SelectedBucketsCount < total, plan-pinned); per-customer rollup hash-equal to the plain filtered oracle.",
    Some("""SELECT o_custkey, COUNT(*) AS n_orders,
              CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
            FROM orders WHERE o_custkey IN (1, 5, 11)
            GROUP BY o_custkey ORDER BY o_custkey"""),
    (s, d) => {
      import s.implicits._
      val (to, _) = bucketedTables(s, d)
      s.table(to)
        .filter($"o_custkey".isin(1L, 5L, 11L))
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor($"o_totalprice" * 100.0).cast(LongType)).cast(LongType).as("cents"))
        .orderBy($"o_custkey")
    }
  )

  /** Hive-style PARTITION pruning — bucketing's coarser sibling and the
    * first knife any 100 TB layout reaches for: events land once as
    * `partitionBy("event_type")` parquet (5 directories), and an
    * equality predicate on the partition column prunes at the FILE
    * LISTING — `PartitionFilters` non-empty in the scan and only the
    * matching directory's files are ever opened (PlanAuditSpec pins
    * both). The partition column round-trips through the directory name
    * (it is NOT stored in the data files), which is exactly the
    * materialization subtlety worth gating: the oracle replays from the
    * unpartitioned table, so a value mangled by path encoding would
    * hash-mismatch.
    */
  private val b125 = QuerySpec(
    "b125_partition_pruning",
    "Partition pruning: events written once as partitionBy(event_type) parquet; an equality predicate prunes at the file listing (PartitionFilters, plan-pinned) and the partition column round-trips through the directory name — hourly click rollup hash-equal to the unpartitioned oracle.",
    Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
              COUNT(*) AS n,
              CAST(SUM(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
            FROM events WHERE event_type = 'click'
            GROUP BY 1 ORDER BY hr"""),
    (s, d) => {
      import s.implicits._
      val dir = partitionedEvents(s, d)
      s.read.parquet(dir)
        .filter($"event_type" === "click")
        .groupBy(date_trunc("hour", $"ts").as("hr"))
        .agg(count(lit(1)).as("n"),
          sum(floor($"value" * 100.0).cast(LongType)).cast(LongType).as("cents"))
        .orderBy($"hr")
    }
  )

  /** The event_type-partitioned events layout b125 scans (a
    * [[graft.Fixture]]); returns the directory.
    */
  private[graft] def partitionedEvents(s: SparkSession, d: String): String =
    graft.Fixture(d, "part_events", "events") { dir =>
      Tables.events(s, d)
        .write.mode("overwrite").partitionBy("event_type").parquet(dir.getPath)
    }

  val specs: Seq[QuerySpec] = Seq(
    b110, b111, b112, b113, b114, b115, b116, b117, b118, b119, b120, b121, b122, b123, b124, b124b, b125,
    b1, b2, b3, b4, b5, b6, b7, b8, b9, b9b, b10, b11, b12, b13, b13b, b13c, b13d, b13e,
    b14, b14b, b14c,
    b15, b15b, b16, b17, b18, b19, b20, b21, b21b, b22, b23, b23b, b24, b25, b26,
    b27, b28, b29, b30, b34, b35, b36, b8b, b17b, b37, b38, b39, b40, b41, b42, b42b, b43, b44,
    b45, b46, b47, b48, b49, b50, b51, b52, b53, b54, b55, b56, b57, b58,
    b59, b60, b61, b62, b63, b64, b65, b66, b67, b68, b69, b70, b71, b72, b73, b74, b75,
    b76, b77, b78, b79, b80, b81, b82, b83, b84, b85, b86, b87, b88, b89, b90, b91,
    b92, b93, b94, b95, b96, b97, b98, b99, b100, b101, b102, b103, b104, b105, b106, b107, b108, b109)
}
