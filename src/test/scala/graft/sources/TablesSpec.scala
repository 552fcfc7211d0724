package graft.sources

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampType, TimestampNTZType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** Schema-shape canary (VERDICT r9 #2): the driver has regenerated
  * events.parquet with different physical timestamp encodings across rounds
  * (TIMESTAMP(NANOS)→nanos-as-LONG in r1–r8, plain timestamp[us]→NTZ in r9).
  * When the shape changes again, THIS test fails with a pointed message
  * naming the loader, instead of a mid-suite analysis exception in whichever
  * query touches the raw column first.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val s = SparkFixture.session
  private val dir = SparkFixture.sfDir

  test("events.ts is normalized to TimestampType regardless of physical shape") {
    val tpe = Tables.events(s, dir).schema("ts").dataType
    assert(tpe == TimestampType,
      s"Tables.events must normalize ts to TimestampType but produced $tpe — " +
        "the testdata's physical timestamp encoding likely changed again; " +
        "add a normalization arm in sources/Tables.scala")
  }

  test("events.ts normalization covers every shape the raw file can present") {
    // The raw (un-normalized) read must be one of the shapes the loader
    // handles; anything else means a NEW physical encoding landed.
    val raw = Tables.table(s, dir, "events").schema("ts").dataType
    assert(Set[org.apache.spark.sql.types.DataType](
      TimestampType, TimestampNTZType, LongType).contains(raw),
      s"events.parquet presents unhandled physical ts type $raw — " +
        "extend the match in Tables.events")
  }

  test("documents/embeddings keep the shapes 60+ queries assume") {
    // same insurance class as the events.ts canary: if a testdata
    // regeneration changes these, fail ONE pointed test here instead of
    // an analysis exception mid-suite in whichever query reads it first
    val doc = Tables.documents(s, dir).schema
    assert(doc("doc_id").dataType == org.apache.spark.sql.types.LongType, doc.treeString)
    assert(doc("text").dataType == org.apache.spark.sql.types.StringType, doc.treeString)
    val emb = Tables.embeddings(s, dir).schema
    assert(emb("vec_id").dataType == org.apache.spark.sql.types.LongType, emb.treeString)
    assert(emb("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, true) ||
      emb("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, false),
      s"embedding must stay array<float> (the 64-term oracle chains and " +
        s"native codegen expressions assume it): ${emb("embedding").dataType}")
    val dims = Tables.embeddings(s, dir)
      .select(size(col("embedding")).as("d")).distinct().collect().map(_.getInt(0)).toSet
    assert(dims == Set(64),
      s"embedding dim changed to $dims — the AnnSql/PqSql oracle builders hardcode 64")
    // zero-norm vectors make cosine 0/0 = NaN, and Scala's `c > maxSim`
    // (never updates on NaN) diverges from DuckDB's NaN-last ordering in
    // the k-center oracle replay — if a regeneration ships one, fail HERE
    val zeroNorm = Tables.embeddings(s, dir)
      .filter(aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double")) === 0.0d)
      .count()
    assert(zeroNorm == 0L,
      s"$zeroNorm zero-norm embedding rows — NaN cosines would split the " +
        "engine and the c3 k-center oracles (TierCSim.AnnSql) on tie order")
  }

  test("documents.text stays inside the BMP (no supplementary-plane chars)") {
    // c4_entropy and c4_winnow count UTF-16 code units in Scala
    // (String.length/charAt) but code points in their DuckDB oracles
    // (length/string_split/ord) — equal ONLY while every character fits in
    // one UTF-16 unit. If a regeneration ships astral characters (emoji,
    // rare CJK), fail HERE with a pointed message instead of a silent
    // hash mismatch in whichever text oracle diverges first.
    val astral = Tables.documents(s, dir)
      .filter(col("text").rlike("[\\x{10000}-\\x{10FFFF}]"))
      .count()
    assert(astral == 0L,
      s"$astral documents contain supplementary-plane characters — " +
        "Scala code-unit counts and DuckDB code-point counts now diverge; " +
        "the c4_entropy/c4_winnow oracles must switch to codePointCount " +
        "semantics before this corpus is usable")
  }

  test("documents.text is pure ASCII (UTF-8 bytes = characters)") {
    // c6b_frame_sample slices PAYLOAD BYTES in the engine but CHARACTERS
    // in its DuckDB oracle (substr on TEXT) — equal only while every char
    // is one byte. A regeneration shipping multi-byte UTF-8 fails HERE
    // with a pointed message instead of a frame-hash mismatch.
    val nonAscii = Tables.documents(s, dir)
      .filter(length(encode(col("text"), "UTF-8")) =!= length(col("text")))
      .count()
    assert(nonAscii == 0L,
      s"$nonAscii documents contain non-ASCII characters — byte offsets " +
        "and character offsets now diverge; the c6b_frame_sample oracle " +
        "must switch to BLOB slicing before this corpus is usable")
  }

  test("events.ts values are sane after normalization (epoch range + non-null)") {
    val row = Tables.events(s, dir)
      .agg(min(unix_micros(col("ts"))).as("lo"),
           max(unix_micros(col("ts"))).as("hi"),
           sum(when(col("ts").isNull, 1).otherwise(0)).as("nulls"))
      .head()
    val (lo, hi, nulls) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nulls == 0L, "normalization must not introduce nulls")
    // generous sanity window: 2000-01-01 .. 2100-01-01 in µs
    assert(lo > 946684800000000L && hi < 4102444800000000L,
      s"normalized ts out of plausible epoch range: [$lo, $hi] µs — " +
        "a unit error (ns vs µs vs ms) in the normalization arm")
  }

  test("schema memo: a table rewritten at the same path is re-read, one entry per path") {
    import s.implicits._
    val sfDir = java.nio.file.Files.createTempDirectory("memo").toString
    val path = java.nio.file.Paths.get(sfDir, "t.parquet")
    Seq((1L, "a")).toDF("id", "name").write.parquet(path.toString)
    assert(Tables.table(s, sfDir, "t").columns.toSeq == Seq("id", "name"))
    val before = Tables.schemaMemoSize
    Seq((1L, 2.5, "a")).toDF("id", "score", "name").write.mode("overwrite").parquet(path.toString)
    // the rewrite must show as a new mtime even on a coarse-grained clock
    java.nio.file.Files.setLastModifiedTime(path,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000L))
    assert(Tables.table(s, sfDir, "t").columns.toSeq == Seq("id", "score", "name"),
      "a rewritten table must not be read with its stale memoized schema")
    assert(Tables.schemaMemoSize == before,
      "the rewrite must replace the path's memo entry, not add one")
  }
}
