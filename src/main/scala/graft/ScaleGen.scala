package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-soak data generator (VERDICT r13 directive #1):
  * materializes the driver-schema tables at sf ≥ 1 so the 100 TB scale
  * claims can be MEASURED, not just plan-pinned. Every column is a pure
  * function of the row index through xxhash64 chains — no RNG state, no
  * driver loops, fully distributed (`spark.range` → expressions), and
  * bit-reproducible across runs/partitionings (the Tables fixture
  * discipline). Schemas match `/root/testdata` exactly; distributions
  * keep the qualitative shape the scale-sensitive operators feed on
  * (Zipf-headed vocabulary, planted near-duplicates, clustered
  * embeddings, uniform-in-month event times, ~4 lines per order).
  *
  * Usage: `runMain graft.ScaleGen <outDir> <sf>` — e.g. sf=1 lands
  * events 1M / documents 50k / embeddings 20k / orders 1.5M /
  * customer 150k / lineitem 6M (10× the sf0.1 bench tables, the same
  * per-sf row ratios).
  */
object ScaleGen {

  /** Uniform double in [0,1) from a hash column (53-bit mantissa mask). */
  private def unit(h: org.apache.spark.sql.Column) =
    (abs(h) % 9007199254740992L).cast("double") / 9007199254740992.0

  /** Skew mode (r15 directive #4 — the last untested 100 TB hazard): a
    * Zipf-head key distribution over the join/window keys, one hot key
    * owning ~7% of rows and a second ~3% (the s≈1.1 head shape, stated
    * as explicit mass so the soak numbers attribute cleanly), the tail
    * unchanged-uniform. Applied to events.user_id, orders.o_custkey,
    * and documents.source (src0 → ~25% of docs, the within-source pair
    * mines' pressure point). Deterministic like everything else here —
    * the hot rows are chosen by an independent xxhash64 lane, so the
    * skewed tables differ from the uniform ones ONLY in key mass.
    */
  private def skewKey(u: org.apache.spark.sql.Column,
      base: org.apache.spark.sql.Column) =
    when(u < 0.07, lit(0L)).when(u < 0.10, lit(1L)).otherwise(base)

  /** Char-noise mode (r16 directive #4 — generator realism for the
    * CHARACTER-level dedup): the closed token vocabulary makes every char
    * trigram hot at soak scale, so `c2_edit_join`'s planted pairs never
    * survive the df cap and its soak emitted 0 rows (a generator
    * property, not an operator defect — BENCH_NOTES r15). This mode
    * generates OPEN-vocabulary text: random 6-char words over a 64-char
    * alphabet (per-source trigram df stays far under the cap at sf1–sf25
    * because the cap keys on (source, gram)), a shared `hdr` boilerplate
    * prefix whose trigrams ARE hot (so the cap still engages, loudly),
    * and near-dup docs at i≡6 (mod 7) that re-derive the previous doc's
    * chars and apply EXACTLY two deterministic substitutions — edit
    * distance ≤ 2, trigram churn ≤ 6 ≪ the candidate filter's slack.
    */
  private val charTextUdf = org.apache.spark.sql.functions.udf {
    (seed: Long, isDup: Boolean) =>
      val alpha = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789.-"
      def mix(z0: Long): Long = {
        var z = z0 + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      def pick(h: Long): Char = alpha(((h % alpha.length + alpha.length) % alpha.length).toInt)
      val nWords = (math.floorMod(mix(seed * 31 + 1), 70) + 30).toInt
      val sb = new StringBuilder("hdr")
      var j = 0
      while (j < nWords) {
        sb.append(' ')
        var c = 0
        while (c < 6) { sb.append(pick(mix(seed * 1000003L + j * 97L + c))); c += 1 }
        j += 1
      }
      val s = sb.toString
      if (!isDup) s
      else {
        val arr = s.toCharArray
        var e = 0
        while (e < 2) {
          val p = 4 + math.floorMod(mix(seed * 7919L + e), arr.length - 4).toInt
          val rc = pick(mix(seed * 104729L + e))
          arr(p) = if (arr(p) == rc) (if (rc == 'a') 'b' else 'a') else rc
          e += 1
        }
        new String(arr)
      }
  }

  def documents(spark: SparkSession, n: Long, skew: Boolean = false,
      charnoise: Boolean = false): DataFrame = {
    import spark.implicits._
    if (charnoise) {
      return spark.range(n).toDF("doc_id")
        .withColumn("seed",
          when($"doc_id" % 7 === 6, $"doc_id" - 1).otherwise($"doc_id"))
        .withColumn("text", charTextUdf($"seed", $"doc_id" % 7 === 6))
        .select($"doc_id", $"text",
          element_at(array(lit("en"), lit("en"), lit("en"), lit("de"), lit("es"),
            lit("fr"), lit("zh")), (abs(xxhash64($"doc_id", lit(3))) % 7 + 1).cast("int"))
            .as("lang"),
          (if (skew)
            when(unit(xxhash64($"doc_id", lit(5))) < 0.25, lit("src0"))
              .otherwise(concat(lit("src"), abs(xxhash64($"doc_id", lit(4))) % 20))
          else concat(lit("src"), abs(xxhash64($"doc_id", lit(4))) % 20)).as("source"),
          length($"text").cast("long").as("n_chars"))
    }
    // Zipf-headed vocabulary GROWING with corpus size (Heaps' law,
    // V ∝ √N anchored at 200 types / 50k docs): a closed vocab at soak
    // scale makes per-gram document frequency grow linearly with the
    // corpus — a distribution no real crawl has — and the r14 soak
    // showed it drives the inverted-index pair mines toward their
    // worst case regardless of capping. Near-dups planted at i≡6
    // (mod 7): those docs re-derive their words from row i−1's seed
    // and append a marker token — the MinHash/Jaccard families then
    // have real work.
    val vocabSize = math.max(200, math.ceil(200.0 * math.sqrt(n / 50000.0)).toInt)
    val vocab = array((0 until vocabSize).map(i => lit(s"tok$i")): _*)
    spark.range(n).toDF("doc_id")
      .withColumn("seed", when($"doc_id" % 7 === 6, $"doc_id" - 1).otherwise($"doc_id"))
      .withColumn("n_words", (abs(xxhash64($"seed", lit(1))) % 70 + 30).cast("int"))
      .withColumn("words", transform(sequence(lit(0), $"n_words" - 1),
        j => element_at(vocab,
          (floor(pow(unit(xxhash64($"seed", j, lit(2))), 3.0) * vocabSize) + 1).cast("int"))))
      .withColumn("text",
        when($"doc_id" % 7 === 6, concat(array_join($"words", " "), lit(" dupmark")))
          .otherwise(array_join($"words", " ")))
      .select($"doc_id", $"text",
        element_at(array(lit("en"), lit("en"), lit("en"), lit("de"), lit("es"),
          lit("fr"), lit("zh")), (abs(xxhash64($"doc_id", lit(3))) % 7 + 1).cast("int"))
          .as("lang"),
        (if (skew)
          when(unit(xxhash64($"doc_id", lit(5))) < 0.25, lit("src0"))
            .otherwise(concat(lit("src"), abs(xxhash64($"doc_id", lit(4))) % 20))
        else concat(lit("src"), abs(xxhash64($"doc_id", lit(4))) % 20)).as("source"),
        length($"text").cast("long").as("n_chars"))
  }

  def embeddings(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    // 10 deterministic cluster centers in 64-d; each vector = its label's
    // center + index-hashed noise — IVF/PQ/kNN then see real cluster
    // structure, not isotropic noise
    val vecUdf = udf { (id: Long) =>
      val label = (id % 10).toInt
      (0 until 64).map { d =>
        val center = math.sin(label * 7.0 + d * 1.31)
        // splitmix64-style per-(id, d) noise
        var z = id * 64L + d + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        val noise = (z & ((1L << 53) - 1)).toDouble / (1L << 53).toDouble - 0.5
        (center + 0.3 * noise).toFloat
      }.toArray
    }
    spark.range(n).toDF("vec_id")
      .select($"vec_id", vecUdf($"vec_id").as("embedding"),
        ($"vec_id" % 10).cast("int").as("label"))
  }

  def events(spark: SparkSession, n: Long, skew: Boolean = false): DataFrame = {
    import spark.implicits._
    val types = array(lit("view"), lit("click"), lit("purchase"), lit("signup"), lit("error"))
    spark.range(n).toDF("event_id")
      .select($"event_id",
        timestamp_micros(lit(1704067200000000L) +
          abs(xxhash64($"event_id", lit(10))) % 2592000000000L).as("ts"),
        (if (skew)
          skewKey(unit(xxhash64($"event_id", lit(15))),
            abs(xxhash64($"event_id", lit(11))) % (n / 666 + 2))
        else abs(xxhash64($"event_id", lit(11))) % (n / 666 + 2)).as("user_id"),
        element_at(types, (abs(xxhash64($"event_id", lit(12))) % 5 + 1).cast("int"))
          .as("event_type"),
        ((abs(xxhash64($"event_id", lit(13))) % 56021).cast("double") / 100.0).as("value"),
        concat(lit("{\"k\": "), abs(xxhash64($"event_id", lit(14))) % 100, lit("}"))
          .as("props"))
  }

  def orders(spark: SparkSession, n: Long, custN: Long, skew: Boolean = false): DataFrame = {
    import spark.implicits._
    spark.range(n).toDF("o_orderkey")
      .select($"o_orderkey",
        (if (skew)
          skewKey(unit(xxhash64($"o_orderkey", lit(25))),
            abs(xxhash64($"o_orderkey", lit(20))) % custN)
        else abs(xxhash64($"o_orderkey", lit(20))) % custN).as("o_custkey"),
        element_at(array(lit("O"), lit("F"), lit("P")),
          (abs(xxhash64($"o_orderkey", lit(21))) % 3 + 1).cast("int")).as("o_orderstatus"),
        ((abs(xxhash64($"o_orderkey", lit(22))) % 50000000).cast("double") / 100.0)
          .as("o_totalprice"),
        timestamp_seconds(lit(788918400L) +
          (abs(xxhash64($"o_orderkey", lit(23))) % 2557) * 86400L).as("o_orderdate"),
        element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
          lit("4-NOT SPECIFIED"), lit("5-LOW")),
          (abs(xxhash64($"o_orderkey", lit(24))) % 5 + 1).cast("int")).as("o_orderpriority"))
  }

  def customer(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).toDF("c_custkey")
      .select($"c_custkey",
        format_string("Customer#%09d", $"c_custkey").as("c_name"),
        (abs(xxhash64($"c_custkey", lit(30))) % 25).cast("int").as("c_nationkey"),
        ((abs(xxhash64($"c_custkey", lit(31))) % 1000000).cast("double") / 100.0)
          .as("c_acctbal"),
        element_at(array(lit("BUILDING"), lit("AUTOMOBILE"), lit("MACHINERY"),
          lit("HOUSEHOLD"), lit("FURNITURE")),
          (abs(xxhash64($"c_custkey", lit(32))) % 5 + 1).cast("int")).as("c_mktsegment"))
  }

  def lineitem(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).toDF("i")
      .select(($"i" / 4).cast("long").as("l_orderkey"),
        (abs(xxhash64($"i", lit(40))) % 200000).as("l_partkey"),
        (abs(xxhash64($"i", lit(41))) % 10000).as("l_suppkey"),
        ($"i" % 4 + 1).cast("int").as("l_linenumber"),
        (abs(xxhash64($"i", lit(42))) % 50 + 1).cast("double").as("l_quantity"),
        ((abs(xxhash64($"i", lit(43))) % 10000000).cast("double") / 100.0)
          .as("l_extendedprice"),
        ((abs(xxhash64($"i", lit(44))) % 11).cast("double") / 100.0).as("l_discount"),
        ((abs(xxhash64($"i", lit(45))) % 9).cast("double") / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (abs(xxhash64($"i", lit(46))) % 3 + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (abs(xxhash64($"i", lit(47))) % 2 + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(lit(788918400L) +
          (abs(xxhash64($"i", lit(48))) % 2557) * 86400L).as("l_shipdate"))
  }

  def nation(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.range(25).toDF("i")
      .select($"i".cast("int").as("n_nationkey"),
        concat(lit("NATION_"), $"i").as("n_name"),
        ($"i" % 5).cast("int").as("n_regionkey"))
  }

  def region(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name")
  }

  def supplier(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).toDF("s_suppkey")
      .select($"s_suppkey",
        format_string("Supplier#%09d", $"s_suppkey").as("s_name"),
        (abs(xxhash64($"s_suppkey", lit(50))) % 25).cast("int").as("s_nationkey"),
        ((abs(xxhash64($"s_suppkey", lit(51))) % 1000000).cast("double") / 100.0)
          .as("s_acctbal"))
  }

  def part(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).toDF("p_partkey")
      .select($"p_partkey",
        concat(element_at(array(lit("large"), lit("small"), lit("hot"), lit("cold")),
            (abs(xxhash64($"p_partkey", lit(60))) % 4 + 1).cast("int")),
          lit(" "),
          element_at(array(lit("ring"), lit("bolt"), lit("case"), lit("tube")),
            (abs(xxhash64($"p_partkey", lit(61))) % 4 + 1).cast("int"))).as("p_name"),
        concat(lit("Brand#"), abs(xxhash64($"p_partkey", lit(62))) % 25).as("p_brand"),
        element_at(array(lit("LARGE"), lit("SMALL"), lit("ECONOMY"), lit("STANDARD"),
          lit("PROMO")), (abs(xxhash64($"p_partkey", lit(63))) % 5 + 1).cast("int"))
          .as("p_type"),
        (abs(xxhash64($"p_partkey", lit(64))) % 50 + 1).cast("int").as("p_size"),
        (lit(900.0) + ($"p_partkey" % 1000).cast("double") / 10.0).as("p_retailprice"))
  }

  def main(args: Array[String]): Unit = {
    val Array(outDir, sfStr) = args.take(2)
    val sf = sfStr.toDouble
    val modes = args.drop(2).toSet
    val unknownModes = modes -- Set("skew", "charnoise")
    require(unknownModes.isEmpty, s"scalegen: unknown modes $unknownModes")
    val skew = modes("skew")
    val charnoise = modes("charnoise")
    val spark = Harness.session()
    def rows(perSf: Long): Long = math.max(1L, (perSf * sf).toLong)
    val parts = math.max(Harness.cpus, (sf * 32).toInt)
    def land(name: String, df: DataFrame, nParts: Int = parts): Unit = {
      val t0 = System.nanoTime()
      df.repartition(nParts).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(f"[scalegen] $name%-10s ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    land("nation", nation(spark), 1)
    land("region", region(spark), 1)
    land("supplier", supplier(spark, rows(10000)), 1)
    land("part", part(spark, rows(200000)), 2)
    land("documents", documents(spark, rows(50000), skew, charnoise))
    land("embeddings", embeddings(spark, rows(20000)))
    land("events", events(spark, rows(1000000), skew))
    land("customer", customer(spark, rows(150000)))
    land("orders", orders(spark, rows(1500000), rows(150000), skew))
    land("lineitem", lineitem(spark, rows(6000000)))
    println(s"[scalegen] sf=$sf skew=$skew charnoise=$charnoise landed at $outDir")
    spark.stop()
  }
}
