package graft.operators

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Fixture, QuerySpec}
import graft.functions.{Feature, MsgPack, Wkb}
import graft.sources.Tables

/** Tier A — the reference's own surface: msgpack-framed WKB feature
  * transport (SURVEY.md §2 A1–A12; semantics reconstructed, reference
  * checkout empty — SURVEY.md §0).
  *
  * The declared queries here are END-TO-END serde exercises: each one
  * synthesizes feature envelopes from the driver's `events` table, packs
  * them to msgpack wire bytes (A2), unpacks them back (A3), parses the WKB
  * geometry (A11), and only then projects/filters — while the DuckDB
  * oracle computes the same answer directly from `events`. A hash match
  * therefore proves the full pack→unpack→decode path is lossless.
  *
  * Serde runs as Scala UDFs: per-row binary blobs with dynamic maps are
  * exactly the case where a UDF's codegen break-even is acceptable
  * (SURVEY.md §7.3); everything around them stays built-in.
  */
object TierA {

  private val packUdf: UserDefinedFunction = udf {
    (layer: String, fid: String, wkb: Array[Byte], props: Map[String, String],
     tsUs: Long, source: String, ver: Int) =>
      MsgPack.pack(Feature(layer, fid, wkb, props, tsUs, source, ver))
  }
  private val unpackUdf: UserDefinedFunction = udf { (b: Array[Byte]) => MsgPack.unpack(b) }
  private[operators] val wkbPointUdf: UserDefinedFunction = udf { (x: Double, y: Double) => Wkb.point(x, y) }
  private val geomTypeUdf: UserDefinedFunction = udf { (b: Array[Byte]) => Wkb.geomType(b) }
  private val bboxUdf: UserDefinedFunction = udf { (b: Array[Byte]) => Wkb.bbox(b) }
  private val inBoxUdf: UserDefinedFunction =
    udf { (b: Array[Byte]) => Wkb.bboxIntersects(b, 0.0, 0.0, 100.0, 100.0) }

  /** events → packed wire bytes → unpacked feature struct column `f`. */
  private[graft] def roundtrippedFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(packUdf(
        $"event_type",
        $"event_id".cast(StringType),
        wkbPointUdf($"value", $"user_id".cast(DoubleType)),
        map(lit("k"), get_json_object($"props", "$.k")),
        unix_micros(date_trunc("second", $"ts")),
        concat(lit("user_"), $"user_id".cast(StringType)),
        lit(1)).as("wire"))
      .select(unpackUdf($"wire").as("f"))
  }

  // ------------------------------------------------------------------ A1
  private val a1 = QuerySpec(
    "a1_feature_scan",
    "Feature scan through the full wire roundtrip: envelope built from events, msgpack-packed, unpacked, envelope fields projected.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type AS layer,
            date_trunc('second', ts) AS event_ts,
            'user_' || CAST(user_id AS VARCHAR) AS source
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      roundtrippedFeatures(s, d).select(
        $"f.feature_id".as("feature_id"), $"f.layer".as("layer"),
        timestamp_micros($"f.event_ts_us").as("event_ts"), $"f.source".as("source"))
        .orderBy($"feature_id")
    }
  )

  // ----------------------------------------------------------- A1b (.shp)
  /** Build EVERY disk fixture the registry's scan queries read
    * (idempotent — each builder is a [[graft.Fixture]] that skips when its
    * published version is current). [[graft.Harness.fixtures]] and the
    * repo benchmark's setup call this UNTIMED, so no timed query pays a
    * fixture's one-time driver-side collect+write (measured 0.3-1.3 s per
    * format; regenerated test data makes every fixture stale, and the
    * first consuming query of each format used to eat its rebuild). The
    * timed work is the byte-level parse, which this never touches.
    */
  private[graft] def allFixtures(s: SparkSession, d: String): Unit =
    Seq[(String, (SparkSession, String) => String)](
      ("shp", shpFixture), ("gpkg", gpkgFixture), ("gpkgidx", gpkgIndexedFixture),
      ("kml", kmlFixture), ("gml", gmlFixture), ("fgb", fgbFixture),
      ("fgbidx", fgbIndexedFixture), ("gpx", gpxFixture), ("wktcsv", wktCsvFixture),
      ("geoparquet", geoParquetFixture), ("geoparquet_ranged", geoParquetRangedFixture),
      ("osm", osmPbfFixture), ("osm_ways", osmWaysFixture),
      ("osm_relations", osmRelationsFixture), ("osm_stitched", osmStitchedFixture),
      ("osm_routes", osmRoutesFixture), ("osm_boundary", osmBoundaryFixture)
    ).foreach { case (name, build) =>
      try build(s, d)
      catch { case e: Throwable =>
        System.err.println(s"[fixtures] $name: ${e.getMessage}") }
    }

  /** Events as (event_id, value, user_id, event_type) rows in id order —
    * the point layer every single-file vector fixture writes.
    */
  private def pointRows(s: SparkSession, d: String, what: String): Seq[Row] =
    Fixture.eventRows(s, d, what,
      col("event_id"), col("value"), col("user_id"), col("event_type")).toSeq

  /** The events table as ONE deterministic `.shp`/`.dbf` pair. A bounded
    * driver-side collect is correct here — this is a FIXTURE WRITER (the
    * shapefile writer exists for tests/oracles; bulk ingest reads many
    * files, each one task), and the a1b query's point is the READ path:
    * engine-written bytes → [[graft.sources.Shapefile.read]] → envelope,
    * hash-checked against DuckDB reading the same events parquet.
    */
  private[graft] def shpFixture(s: SparkSession, d: String): String =
    Fixture(d, "shp", "events") { dir =>
      val rows = pointRows(s, d, "shp")
      val shapes = rows.map(r =>
        graft.sources.Shapefile.PointS(r.getDouble(1), r.getLong(2).toDouble))
      val attrs = rows.map(r => Seq(r.getLong(0).toString, r.getString(3)))
      Files.write(new File(dir, "events.shp").toPath,
        graft.sources.Shapefile.writeShp(shapes))
      Files.write(new File(dir, "events.dbf").toPath,
        graft.sources.Shapefile.writeDbf(Seq(("ID", 10), ("ETYPE", 16)), attrs))
    }

  private val a1b = QuerySpec(
    "a1b_shp_scan",
    "Shapefile scan: events written as an engine-generated .shp/.dbf pair, read back through the pure-Scala Shapefile source (binary header/record/dBASE parsing → WKB envelope); coordinates must equal the parquet doubles bit-for-bit.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type AS etype,
            value AS x, CAST(user_id AS DOUBLE) AS y
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      val dir = shpFixture(s, d)
      graft.sources.Shapefile.read(s, s"$dir/events.shp", "events", "ID")
        .select($"feature_id",
          element_at($"props", "ETYPE").as("etype"),
          bboxUdf($"geom_wkb").as("bb"))
        .select($"feature_id", $"etype",
          $"bb.xmin".as("x"), $"bb.ymin".as("y"))
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------- A1c (.gpkg)
  /** The GPKG twin of [[shpFixture]]: the events table written once per
    * source version as an engine-generated GeoPackage (same bounded fixture-writer
    * rationale), read back through the pure-Scala SQLite/GPKG parser and
    * hash-checked against DuckDB on the parquet.
    */
  private[graft] def gpkgFixture(s: SparkSession, d: String): String =
    Fixture(d, "gpkg", "events") { dir =>
      Files.write(new File(dir, "events.gpkg").toPath,
        graft.sources.GeoPackage.writeGpkg("events", 4326, gpkgRows(s, d, "gpkg")))
    }

  private def gpkgRows(s: SparkSession, d: String, what: String) =
    pointRows(s, d, what).map(r => (r.getLong(0) + 1L, r.getString(3), // rowids are 1-based
      graft.sources.GeoPackage.pointBlob(r.getDouble(1), r.getLong(2).toDouble, 4326)))

  private val a1c = QuerySpec(
    "a1c_gpkg_scan",
    "GeoPackage scan: events written as an engine-generated GPKG (SQLite table b-tree + GPKG geometry blobs), read back through the pure-Scala SQLite parser (sqlite_master discovery, rowid-alias ids, record serial types, SRID from the blob header); coordinates must equal the parquet doubles bit-for-bit.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type AS etype,
            CAST(4326 AS BIGINT) AS srid, value AS x, CAST(user_id AS DOUBLE) AS y
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      val dir = gpkgFixture(s, d)
      graft.sources.GeoPackage.read(s, s"$dir/events.gpkg", "events", "fid")
        .select(($"feature_id".cast(LongType) - 1L).cast(StringType).as("feature_id"),
          element_at($"props", "etype").as("etype"),
          sridScanUdf($"geom_wkb").cast(LongType).as("srid"),
          bboxUdf($"geom_wkb").as("bb"))
        .select($"feature_id", $"etype", $"srid",
          $"bb.xmin".as("x"), $"bb.ymin".as("y"))
        .orderBy($"feature_id")
    }
  )

  private val sridScanUdf: UserDefinedFunction =
    udf { (b: Array[Byte]) => Wkb.srid(b) }

  /** a1f2/a1f3/a1q's query window over (x = value ∈ [0, 560.21), y = user_id). */
  private val FgbWin = (100.0, 1.0, 400.0, 6.0) // xmin, ymin, xmax, ymax

  // ------------------------------------------ A1q (.gpkg + rtree index)
  /** The indexed twin of [[gpkgFixture]] — same rows, written WITH the
    * `gpkg_rtree_index` extension: a multi-level packed rtree (51
    * entries/node, the SQLite module's realistic fanout — at sf0.01 the
    * tree is depth 2: leaves, interiors, root), the form GDAL writes for
    * any real layer.
    */
  private[graft] def gpkgIndexedFixture(s: SparkSession, d: String): String =
    Fixture(d, "gpkgidx", "events") { dir =>
      Files.write(new File(dir, "events.gpkg").toPath, graft.sources.GeoPackage
        .writeGpkg("events", 4326, gpkgRows(s, d, "gpkg indexed"), rtree = true))
    }

  private val a1q = QuerySpec(
    "a1q_gpkg_rtree",
    "Index-pruned GeoPackage window scan: the events layer written WITH the gpkg_rtree_index extension (multi-level packed rtree, 51 entries/node — depth 2 at sf0.01), read through readBbox: the rtree walk yields candidate rowids at any depth, a SELECTIVE b-tree descent fetches only those rows (subtrees outside the candidate set are skipped), and the exact window predicate re-filters the f32 candidates. Hash-matching the full-table window oracle proves index pruning lost nothing.",
    Some(s"""SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type AS etype,
            value AS x, CAST(user_id AS DOUBLE) AS y
            FROM events
            WHERE value >= ${FgbWin._1} AND value <= ${FgbWin._3}
              AND CAST(user_id AS DOUBLE) >= ${FgbWin._2}
              AND CAST(user_id AS DOUBLE) <= ${FgbWin._4}
            ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      val dir = gpkgIndexedFixture(s, d)
      graft.sources.GeoPackage.readBbox(s, s"$dir/events.gpkg", "events", "fid",
          FgbWin._1, FgbWin._2, FgbWin._3, FgbWin._4)
        .select(($"feature_id".cast(LongType) - 1L).cast(StringType).as("feature_id"),
          element_at($"props", "etype").as("etype"),
          bboxUdf($"geom_wkb").as("bb"))
        .select($"feature_id", $"etype",
          $"bb.xmin".as("x"), $"bb.ymin".as("y"))
        .filter($"x" >= FgbWin._1 && $"x" <= FgbWin._3 &&
          $"y" >= FgbWin._2 && $"y" <= FgbWin._4)
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------- A1d (.kml)
  /** The KML member of the fixture-writer family ([[shpFixture]]'s
    * rationale and row cap): events written once per source version as an
    * engine-generated single-Document KML, read back through the
    * pure-Scala XML-subset parser and hash-checked against DuckDB on the
    * parquet.
    */
  private[graft] def kmlFixture(s: SparkSession, d: String): String =
    Fixture(d, "kml", "events") { dir =>
      Files.writeString(new File(dir, "events.kml").toPath,
        graft.sources.Kml.writeKml(placemarks(s, d, "kml", "ETYPE")))
    }

  /** (id, {typeKey → event_type}, point) per event — the KML/GML/GPX rows. */
  private def placemarks(s: SparkSession, d: String, what: String, typeKey: String) =
    pointRows(s, d, what).map(r => (r.getLong(0).toString,
      Map(typeKey -> r.getString(3)),
      graft.sources.Kml.KPoint(r.getDouble(1), r.getLong(2).toDouble)))

  private val a1d = QuerySpec(
    "a1d_kml_scan",
    "KML scan: events written as an engine-generated single-Document KML, read back through the pure-Scala XML-subset parser (placemark split, id attribute, ExtendedData/Data props, Point coordinates); coordinates must equal the parquet doubles bit-for-bit.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type AS etype,
            value AS x, CAST(user_id AS DOUBLE) AS y
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      val dir = kmlFixture(s, d)
      graft.sources.Kml.read(s, s"$dir/events.kml", "events")
        .select($"feature_id",
          element_at($"props", "ETYPE").as("etype"),
          bboxUdf($"geom_wkb").as("bb"))
        .select($"feature_id", $"etype",
          $"bb.xmin".as("x"), $"bb.ymin".as("y"))
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------- A1e (.gml)
  /** The GML member of the fixture-writer family ([[shpFixture]]'s
    * rationale and row cap): events written once per source version as an
    * engine-generated FeatureCollection, read back through the pure-Scala
    * GML subset parser (prefix normalization, featureMember split, gml:id,
    * text-only property elements, pos/posList coordinates) and
    * hash-checked against DuckDB on the parquet.
    */
  private[graft] def gmlFixture(s: SparkSession, d: String): String =
    Fixture(d, "gml", "events") { dir =>
      Files.writeString(new File(dir, "events.gml").toPath,
        graft.sources.Gml.writeGml("events", placemarks(s, d, "gml", "ETYPE")))
    }

  private val a1e = QuerySpec(
    "a1e_gml_scan",
    "GML scan: events written as an engine-generated FeatureCollection, read back through the pure-Scala GML 3.2-subset parser (namespace-prefix normalization, featureMember split, gml:id attribute, text-only property elements, flattened pos/posList ordinates); coordinates must equal the parquet doubles bit-for-bit.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type AS etype,
            value AS x, CAST(user_id AS DOUBLE) AS y
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      val dir = gmlFixture(s, d)
      graft.sources.Gml.read(s, s"$dir/events.gml", "events")
        .select($"feature_id",
          element_at($"props", "ETYPE").as("etype"),
          bboxUdf($"geom_wkb").as("bb"))
        .select($"feature_id", $"etype",
          $"bb.xmin".as("x"), $"bb.ymin".as("y"))
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------- A1f (.fgb)
  /** The FlatGeobuf member of the fixture-writer family ([[shpFixture]]'s
    * rationale and row cap): events written once per source version through the
    * hand-built flatbuffers subset writer, read back through the generic
    * vtable-following parser and hash-checked against DuckDB on the
    * parquet. FGB has no feature-id slot, so the id rides the `fid`
    * property column.
    */
  private[graft] def fgbFixture(s: SparkSession, d: String): String =
    Fixture(d, "fgb", "events") { dir =>
      Files.write(new File(dir, "events.fgb").toPath,
        graft.sources.FlatGeobuf.writeFgb("events", fgbRows(s, d, "fgb")))
    }

  private def fgbRows(s: SparkSession, d: String, what: String) =
    pointRows(s, d, what).map(r => (
      Map("fid" -> r.getLong(0).toString, "ETYPE" -> r.getString(3)),
      graft.sources.Kml.KPoint(r.getDouble(1), r.getLong(2).toDouble)))

  private val a1f = QuerySpec(
    "a1f_fgb_scan",
    "FlatGeobuf scan: events written through the hand-built flatbuffers subset writer (magic, size-prefixed Header with column schema, per-feature Geometry xy vectors + packed property bytes, no index), read back through the generic vtable parser; coordinates must equal the parquet doubles bit-for-bit.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type AS etype,
            value AS x, CAST(user_id AS DOUBLE) AS y
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      val dir = fgbFixture(s, d)
      graft.sources.FlatGeobuf.read(s, s"$dir/events.fgb", "events", "fid")
        .select($"feature_id",
          element_at($"props", "ETYPE").as("etype"),
          bboxUdf($"geom_wkb").as("bb"))
        .select($"feature_id", $"etype",
          $"bb.xmin".as("x"), $"bb.ymin".as("y"))
        .orderBy($"feature_id")
    }
  )

  // ------------------------------------------------ A1f2 (.fgb + R-tree)
  /** The indexed twin of [[fgbFixture]] — same rows, written WITH the
    * packed Hilbert R-tree (`indexNodeSize = 16`, the spec default
    * ogr2ogr emits): features Hilbert-reordered, 40-byte tree nodes
    * between header and features. The form default tooling ships.
    */
  private[graft] def fgbIndexedFixture(s: SparkSession, d: String): String =
    Fixture(d, "fgbidx", "events") { dir =>
      Files.write(new File(dir, "events.fgb").toPath, graft.sources.FlatGeobuf
        .writeFgb("events", fgbRows(s, d, "fgb indexed"), indexNodeSize = 16))
    }

  private val a1f2 = QuerySpec(
    "a1f2_fgb_bbox",
    "Index-pruned FlatGeobuf window scan: the events layer written WITH the packed Hilbert R-tree (features Hilbert-reordered, root-first 40-byte nodes), read through readBbox — the tree walk decodes only leaf-surviving features — plus the exact row filter; hash-matching the oracle's full-table window proves index pruning lost nothing.",
    Some(s"""SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type AS etype,
            value AS x, CAST(user_id AS DOUBLE) AS y
            FROM events
            WHERE value >= ${FgbWin._1} AND value <= ${FgbWin._3}
              AND CAST(user_id AS DOUBLE) >= ${FgbWin._2}
              AND CAST(user_id AS DOUBLE) <= ${FgbWin._4}
            ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      val dir = fgbIndexedFixture(s, d)
      graft.sources.FlatGeobuf.readBbox(s, s"$dir/events.fgb", "events", "fid",
          FgbWin._1, FgbWin._2, FgbWin._3, FgbWin._4)
        .select($"feature_id",
          element_at($"props", "ETYPE").as("etype"),
          bboxUdf($"geom_wkb").as("bb"))
        .select($"feature_id", $"etype",
          $"bb.xmin".as("x"), $"bb.ymin".as("y"))
        .filter($"x" >= FgbWin._1 && $"x" <= FgbWin._3 &&
          $"y" >= FgbWin._2 && $"y" <= FgbWin._4)
        .orderBy($"feature_id")
    }
  )

  private val a1f3 = QuerySpec(
    "a1f3_fgb_bbox_ranged",
    "BYTE-RANGED FlatGeobuf window scan — the object-store shape: the driver reads only magic+header+index per file (never the features), walks the packed R-tree, and each task range-reads exactly its surviving feature records (bytes moved ∝ matches + index size, not file size); plus the exact row filter. Hash-matching the same full-table oracle as a1f2 proves the ranged path loses nothing.",
    Some(s"""SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type AS etype,
            value AS x, CAST(user_id AS DOUBLE) AS y
            FROM events
            WHERE value >= ${FgbWin._1} AND value <= ${FgbWin._3}
              AND CAST(user_id AS DOUBLE) >= ${FgbWin._2}
              AND CAST(user_id AS DOUBLE) <= ${FgbWin._4}
            ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      val dir = fgbIndexedFixture(s, d)
      graft.sources.FlatGeobuf.readBboxRanged(s, s"$dir/events.fgb", "events", "fid",
          FgbWin._1, FgbWin._2, FgbWin._3, FgbWin._4)
        .select($"feature_id",
          element_at($"props", "ETYPE").as("etype"),
          bboxUdf($"geom_wkb").as("bb"))
        .select($"feature_id", $"etype",
          $"bb.xmin".as("x"), $"bb.ymin".as("y"))
        .filter($"x" >= FgbWin._1 && $"x" <= FgbWin._3 &&
          $"y" >= FgbWin._2 && $"y" <= FgbWin._4)
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------- A1g (.gpx)
  /** The GPX member of the fixture-writer family ([[shpFixture]]'s
    * rationale and row cap): events written once per source version as an
    * engine-generated waypoint GPX, read back through the pure-Scala
    * XML-subset parser and hash-checked against DuckDB on the parquet.
    * GPX carries coordinates as (lat, lon) ATTRIBUTES — the transpose of
    * KML's "lon,lat" text — so a swapped axis shows up as a hash mismatch
    * here, not in production.
    */
  private[graft] def gpxFixture(s: SparkSession, d: String): String =
    Fixture(d, "gpx", "events") { dir =>
      Files.writeString(new File(dir, "events.gpx").toPath,
        graft.sources.Gpx.writeGpxWaypoints(placemarks(s, d, "gpx", "type")))
    }

  private val a1g = QuerySpec(
    "a1g_gpx_scan",
    "GPX scan: events written as an engine-generated waypoint GPX, read back through the pure-Scala XML-subset parser (wpt split, (lat,lon) ATTRIBUTE coordinates — the transpose of KML's lon,lat text — name/type children as props); coordinates must equal the parquet doubles bit-for-bit.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type AS etype,
            value AS x, CAST(user_id AS DOUBLE) AS y
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      val dir = gpxFixture(s, d)
      graft.sources.Gpx.read(s, s"$dir/events.gpx", "events")
        .select($"feature_id",
          element_at($"props", "type").as("etype"),
          bboxUdf($"geom_wkb").as("bb"))
        .select($"feature_id", $"etype",
          $"bb.xmin".as("x"), $"bb.ymin".as("y"))
        .orderBy($"feature_id")
    }
  )

  // ------------------------------------------------------- A1h (.csv+WKT)
  /** The CSV+WKT member of the A1 family — and the one member whose
    * fixture needs NO driver collect and NO row cap: [[graft.sources
    * .WktCsv]] writes and reads through Spark's own distributed CSV
    * machinery, so this fixture pair is the A1 path that still works
    * unchanged when the input is 100 TB (the binary single-file formats
    * are driver-bounded by design — see [[graft.Fixture.guardFixtureRows]]). Geometry
    * text goes through the `a11h`-pinned bit-exact WKT codec.
    */
  private val pointWkbUdf: UserDefinedFunction =
    udf { (x: Double, y: Long) => Wkb.point(x, y.toDouble) }
  private[graft] def wktCsvFixture(s: SparkSession, d: String): String =
    Fixture(d, "wktcsv", "events") { dir =>
      import s.implicits._
      val env = Tables.events(s, d).select(
        lit("events").as("layer"),
        $"event_id".cast(StringType).as("feature_id"),
        pointWkbUdf($"value", $"user_id").as("geom_wkb"),
        map(lit("etype"), $"event_type").as("props"),
        timestamp_micros(lit(0L)).as("event_ts"),
        lit(d).as("source"), lit(1).as("fmt_version"))
      graft.sources.WktCsv.write(env, dir.getPath, Seq("etype"))
    }

  private val a1h = QuerySpec(
    "a1h_wktcsv_scan",
    "CSV+WKT scan (the OGR CSV-driver shape): events written through the distributed envelope->CSV writer (WKT geometry column, Spark-quoted), read back through the distributed CSV scan + bit-exact WKT codec — the only A1 fixture pair with no driver collect and no row cap; coordinates must equal the parquet doubles bit-for-bit.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type AS etype,
            value AS x, CAST(user_id AS DOUBLE) AS y
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      val dir = wktCsvFixture(s, d)
      graft.sources.WktCsv.read(s, dir, "events", "feature_id", "wkt")
        .select($"feature_id",
          element_at($"props", "etype").as("etype"),
          bboxUdf($"geom_wkb").as("bb"))
        .select($"feature_id", $"etype",
          $"bb.xmin".as("x"), $"bb.ymin".as("y"))
        .orderBy($"feature_id")
    }
  )

  // --------------------------------------------------------- A1i (GeoParquet)
  /** The GeoParquet member of the A1 family (VERDICT r13 directive #3):
    * like [[a1h]], the fixture is fully DISTRIBUTED — Spark writes the
    * envelope parquet, the layer bbox is one partial-agged aggregate,
    * and the `geo` footer stamp fans out one task per part file
    * ([[graft.sources.GeoParquet.write]]) — so this path works unchanged
    * at 100 TB. The read side validates the public-spec `geo` footer
    * entry loudly before returning bytes that never passed through a
    * transform (bit-lossless WKB — the payload IS the store's native
    * column, which is why GeoParquet was one footer key away).
    */
  private[graft] def geoParquetFixture(s: SparkSession, d: String): String =
    Fixture(d, "geoparquet", "events") { dir =>
      import s.implicits._
      val env = Tables.events(s, d).select(
        $"event_id".cast(StringType).as("feature_id"),
        pointWkbUdf($"value", $"user_id").as("geometry"),
        $"event_type".as("etype"))
      graft.sources.GeoParquet.write(env, dir.getPath, "geometry", Seq("Point"))
    }

  private val a1i = QuerySpec(
    "a1i_geoparquet_scan",
    "GeoParquet scan: envelope written as spec-1.0.0 GeoParquet (distributed parquet write + one-task-per-file 'geo' footer stamp with WKB encoding, geometry types, layer bbox), read back through the validating reader (missing/malformed/non-WKB 'geo' entries throw); coordinates must equal the parquet doubles bit-for-bit.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type AS etype,
            value AS x, CAST(user_id AS DOUBLE) AS y
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      val dir = geoParquetFixture(s, d)
      graft.sources.GeoParquet.read(s, dir)
        .select($"feature_id", $"etype", bboxUdf($"geometry").as("bb"))
        .select($"feature_id", $"etype",
          $"bb.xmin".as("x"), $"bb.ymin".as("y"))
        .orderBy($"feature_id")
    }
  )

  // ----------------------------------------------- A1k (GeoParquet prune)
  /** Footer-bbox pruned GeoParquet scan ([[graft.sources.GeoParquet
    * .readBbox]]): the fixture is written RANGE-PARTITIONED on longitude
    * so its part files carry disjoint footer bboxes, the read drops
    * whole files by footer before any row is scanned, and the row-level
    * window filter runs on the survivors. The oracle computes the same
    * window over ALL events — a hash match therefore proves file-level
    * pruning lost nothing (the pruning-correctness property, now under
    * the driver's gate, not just the spec). At 100 TB with a
    * Hilbert-sorted layout this is the path where a city-sized query
    * touches a handful of files.
    */
  private val PruneWin = (-150.0, -80.0, -50.0, 80.0) // xmin, ymin, xmax, ymax
  private[graft] def geoParquetRangedFixture(s: SparkSession, d: String): String =
    Fixture(d, "geoparquet_ranged", "events") { dir =>
      import s.implicits._
      val env = Tables.events(s, d).select(
        $"event_id".cast(StringType).as("feature_id"),
        (($"value" % 300.0) - 150.0).as("lon"),
        (($"value" % 160.0) - 80.0).as("lat"))
        .withColumn("geometry", wkbPointUdf($"lon", $"lat"))
        .repartitionByRange(8, $"lon")
        .select($"feature_id", $"geometry")
      graft.sources.GeoParquet.write(env, dir.getPath, "geometry", Seq("Point"))
    }

  private val a1k = QuerySpec(
    "a1k_geoparquet_bbox",
    "Footer-pruned GeoParquet window scan: lon-range-partitioned layer read through readBbox (files dropped by footer bbox before any scan) + the exact row filter; hash-matching the oracle's full-table window proves the file pruning lost nothing.",
    Some(s"""SELECT CAST(event_id AS VARCHAR) AS feature_id,
            (value % 300.0) - 150.0 AS x, (value % 160.0) - 80.0 AS y
            FROM events
            WHERE (value % 300.0) - 150.0 >= ${PruneWin._1}
              AND (value % 300.0) - 150.0 <= ${PruneWin._3}
              AND (value % 160.0) - 80.0 >= ${PruneWin._2}
              AND (value % 160.0) - 80.0 <= ${PruneWin._4}
            ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      val dir = geoParquetRangedFixture(s, d)
      graft.sources.GeoParquet
        .readBbox(s, dir, PruneWin._1, PruneWin._2, PruneWin._3, PruneWin._4)
        .select($"feature_id", bboxUdf($"geometry").as("bb"))
        .select($"feature_id", $"bb.xmin".as("x"), $"bb.ymin".as("y"))
        .filter($"x" >= PruneWin._1 && $"x" <= PruneWin._3 &&
          $"y" >= PruneWin._2 && $"y" <= PruneWin._4)
        .orderBy($"feature_id")
    }
  )

  // ------------------------------------------------------- A1j (.osm.pbf)
  /** The OSM PBF member of the A1 family (VERDICT r13 directive #5):
    * events written once per source version as a REAL .osm.pbf (BlobHeader/Blob
    * framing, DenseNodes delta-coded sint64 ids/coords, string-table
    * tags, raw AND zlib blobs — [[graft.sources.OsmPbf.write]]), read
    * back through the varint/zigzag walker and hash-checked against
    * DuckDB replaying the same integer-nanodegree quantization. Driver-
    * bounded fixture like the other single-file binary formats
    * ([[graft.Fixture.guardFixtureRows]]); the READ path is one task per file — the
    * shape planet-scale ingest uses (the planet ships as many extracts).
    * Coordinates are exact integers (floor(deg·1e7)·100 nanodeg), so
    * the compare needs no float tolerance anywhere.
    */
  private[graft] def osmPbfFixture(s: SparkSession, d: String): String = {
    val dir = Fixture(d, "osm", "events") { dir =>
      Files.write(new File(dir, "events.osm.pbf").toPath,
        graft.sources.OsmPbf.write(osmNodes(s, d, "osm.pbf")))
    }
    new File(dir, "events.osm.pbf").getPath
  }

  /** One tagged OSM node per event at the a1j integer-nanodegree center. */
  private def osmNodes(s: SparkSession, d: String, what: String) =
    Fixture.eventRows(s, d, what, col("event_id"),
      floor(((col("value") % 300.0) - 150.0) * 10000000.0).cast(LongType).as("lon7"),
      floor(((col("value") % 160.0) - 80.0) * 10000000.0).cast(LongType).as("lat7"),
      col("event_type"))
      .toSeq.map { r =>
        graft.sources.OsmPbf.Node(r.getLong(0),
          r.getLong(1) * 100L, r.getLong(2) * 100L,
          Map("etype" -> r.getString(3)))
      }

  private val a1j = QuerySpec(
    "a1j_osm_scan",
    "OSM PBF scan: events written as a real .osm.pbf (BlobHeader/Blob framing, DenseNodes sint64 delta ids/coords, string-table tags, raw + zlib blobs), read back through the varint/zigzag walker; integer nanodegree coordinates must replay exactly — no float tolerance.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type AS etype,
            CAST(CAST(floor(((value % 300.0) - 150.0) * 10000000.0) AS BIGINT) * 100 AS BIGINT) AS lon_nano,
            CAST(CAST(floor(((value % 160.0) - 80.0) * 10000000.0) AS BIGINT) * 100 AS BIGINT) AS lat_nano
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      val file = osmPbfFixture(s, d)
      graft.sources.OsmPbf.read(s, file)
        .select($"id".cast(StringType).as("feature_id"),
          element_at($"tags", "etype").as("etype"),
          $"lonNano".as("lon_nano"), $"latNano".as("lat_nano"))
        .orderBy($"feature_id")
    }
  )

  // ------------------------------------------------------ A1l (OSM ways)
  /** Ways fixture (VERDICT r14 → r15 directive #2): the SAME node store
    * as [[osmPbfFixture]] plus deterministic ways over event-id groups of
    * five (way w owns events 5w..5w+4, every group complete because event
    * ids are contiguous 0..N-1), written as a REAL mixed .osm.pbf via
    * [[graft.sources.OsmPbf.writeAll]] (way id plain-varint, packed
    * keys/vals, packed zigzag-delta refs; node blobs + way blobs, both
    * compression legs). The w%4 variants pin the geometry heuristic:
    *   0 → closed ring [e0,e1,e2,e3,e0] + building=yes → POLYGON
    *   1 → open path   [e0..e4]          + highway=path → LINESTRING
    *   2 → closed ring                    + area=yes     → POLYGON
    *   3 → closed ring, NO area/building tag             → LINESTRING
    * (variant 3 is the heuristic's negative arm: closure alone must NOT
    * polygonize).
    */
  private[graft] def osmWaysFixture(s: SparkSession, d: String): String = {
    val dir = Fixture(d, "osm_ways", "events") { dir =>
      val nodes = osmNodes(s, d, "osm ways")
      val ways = nodes.map(_.id).sorted.grouped(5).filter(_.length == 5).map { g =>
        val w = g.head / 5
        (w % 4) match {
          case 0 => graft.sources.OsmPbf.Way(w,
            Seq(g(0), g(1), g(2), g(3), g(0)), Map("building" -> "yes"))
          case 1 => graft.sources.OsmPbf.Way(w, g, Map("highway" -> "path"))
          case 2 => graft.sources.OsmPbf.Way(w,
            Seq(g(0), g(1), g(2), g(3), g(0)), Map("area" -> "yes"))
          case _ => graft.sources.OsmPbf.Way(w,
            Seq(g(0), g(1), g(2), g(3), g(0)), Map("note" -> "ring"))
        }
      }.toSeq
      Files.write(new File(dir, "ways.osm.pbf").toPath,
        graft.sources.OsmPbf.writeAll(nodes, ways))
    }
    new File(dir, "ways.osm.pbf").getPath
  }

  private val a1l = QuerySpec(
    "a1l_osm_ways",
    "OSM PBF ways: mixed nodes+ways file (packed zigzag-delta refs, string-table tags), way-aware scan, then geometry assembly as a DISTRIBUTED join against the node store — closed ring + area=yes/building → Polygon outer ring, else LineString. Output coordinates are decoded back OUT of the assembled WKB and re-quantized to integer nanodegrees, so the oracle compare is bit-exact end-to-end (build → WKB doubles → decode).",
    Some("""WITH m AS (SELECT event_id, event_id // 5 AS w,
              CAST(floor(((value % 300.0) - 150.0) * 10000000.0) AS BIGINT) * 100 AS lon_nano,
              CAST(floor(((value % 160.0) - 80.0) * 10000000.0) AS BIGINT) * 100 AS lat_nano,
              row_number() OVER (PARTITION BY event_id // 5 ORDER BY event_id) AS rnk,
              count(*) OVER (PARTITION BY event_id // 5) AS cnt
            FROM events),
            g AS (SELECT * FROM m WHERE cnt = 5),
            a AS (SELECT w,
              CASE WHEN w % 4 IN (0, 2) THEN 'POLYGON' ELSE 'LINESTRING' END AS kind,
              CAST(5 AS BIGINT) AS n_points,
              CAST(CASE WHEN w % 4 = 1 THEN SUM(lon_nano)
                ELSE SUM(CASE WHEN rnk <= 4 THEN lon_nano ELSE 0 END)
                     + MAX(CASE WHEN rnk = 1 THEN lon_nano END) END AS BIGINT) AS sum_lon_nano,
              CAST(CASE WHEN w % 4 = 1 THEN SUM(lat_nano)
                ELSE SUM(CASE WHEN rnk <= 4 THEN lat_nano ELSE 0 END)
                     + MAX(CASE WHEN rnk = 1 THEN lat_nano END) END AS BIGINT) AS sum_lat_nano,
              MAX(CASE WHEN rnk = 1 THEN lon_nano END) AS first_lon_nano,
              CASE WHEN w % 4 = 1 THEN MAX(CASE WHEN rnk = 5 THEN lat_nano END)
                ELSE MAX(CASE WHEN rnk = 1 THEN lat_nano END) END AS last_lat_nano
            FROM g GROUP BY w)
            SELECT w AS way_id, kind, n_points, sum_lon_nano, sum_lat_nano,
              first_lon_nano, last_lat_nano
            FROM a ORDER BY way_id"""),
    (s, d) => {
      import s.implicits._
      val file = osmWaysFixture(s, d)
      val feats = graft.sources.OsmPbf.wayFeatures(s, file)
      // decode the assembled WKB back to points and re-quantize: the
      // nanodegree grid is exact in doubles (|v| ≤ 1.8e11 ≪ 2^53), so
      // rint(x·1e9) recovers the planted integers bit-for-bit — the
      // round-trip IS the assertion that assembly wrote real geometry
      val pathNanoUdf = udf { (wkb: Array[Byte]) =>
        graft.functions.Wkb.pathPoints(wkb)
          .map { case (x, y) =>
            (math.rint(x * 1e9).toLong, math.rint(y * 1e9).toLong)
          }
      }
      feats
        .withColumn("pn", pathNanoUdf($"geom"))
        .select($"way_id", $"kind", $"n_points".cast(LongType).as("n_points"),
          aggregate($"pn", lit(0L), (acc, p) => acc + p("_1")).as("sum_lon_nano"),
          aggregate($"pn", lit(0L), (acc, p) => acc + p("_2")).as("sum_lat_nano"),
          element_at($"pn", 1)("_1").as("first_lon_nano"),
          element_at($"pn", -1)("_2").as("last_lat_nano"))
        .orderBy($"way_id")
    }
  )

  // ------------------------------------------ A1m (OSM relations / MP)
  /** Relations fixture: one `type=multipolygon` relation per event with
    * `event_id % 8 == 0` (relation k anchored at event 8k): an outer
    * square ring of half-size D = 0.01° and a concentric inner ring of
    * d = 0.003° around the event's a1j-formula center — 8 synthetic
    * nodes + 2 closed ways + 1 relation each, written as a REAL
    * full-element .osm.pbf ([[graft.sources.OsmPbf.writeFull]]: packed
    * roles_sid, zigzag-delta memids, member types).
    */
  private[graft] def osmRelationsFixture(s: SparkSession, d: String): String = {
    val dir = Fixture(d, "osm_relations", "events") { dir =>
      val D = 10000000L // 0.01° in nanodeg, multiple of granularity 100
      val dd = 3000000L
      val nodes = scala.collection.mutable.ArrayBuffer.empty[graft.sources.OsmPbf.Node]
      val ways = scala.collection.mutable.ArrayBuffer.empty[graft.sources.OsmPbf.Way]
      val rels = scala.collection.mutable.ArrayBuffer.empty[graft.sources.OsmPbf.Relation]
      osmAnchors(s, d, "osm relations").foreach { case (k, cx, cy) =>
        def corners(h: Long) = Seq((cx - h, cy - h), (cx + h, cy - h),
          (cx + h, cy + h), (cx - h, cy + h))
        val base = k * 8
        (corners(D) ++ corners(dd)).zipWithIndex.foreach { case ((x, y), j) =>
          nodes += graft.sources.OsmPbf.Node(base + j, x, y, Map.empty)
        }
        ways += graft.sources.OsmPbf.Way(2 * k,
          Seq(base, base + 1, base + 2, base + 3, base), Map.empty)
        ways += graft.sources.OsmPbf.Way(2 * k + 1,
          Seq(base + 4, base + 5, base + 6, base + 7, base + 4), Map.empty)
        rels += graft.sources.OsmPbf.Relation(k, Seq(2 * k, 2 * k + 1),
          Seq("outer", "inner"), Seq(1, 1), Map("type" -> "multipolygon"))
      }
      Files.write(new File(dir, "relations.osm.pbf").toPath,
        graft.sources.OsmPbf.writeFull(nodes.toSeq, ways.toSeq, rels.toSeq))
    }
    new File(dir, "relations.osm.pbf").getPath
  }

  /** (k, cx, cy) per relation anchor: every event with `event_id % 8 == 0`
    * as k = event_id / 8 at its a1j-formula center in nanodegrees, in k order.
    */
  private def osmAnchors(s: SparkSession, d: String, what: String): Seq[(Long, Long, Long)] =
    Fixture.eventRows(s, d, what, col("event_id"),
      floor(((col("value") % 300.0) - 150.0) * 10000000.0).cast(LongType) * 100L,
      floor(((col("value") % 160.0) - 80.0) * 10000000.0).cast(LongType) * 100L)
      .toSeq.collect { case r if r.getLong(0) % 8 == 0 =>
        (r.getLong(0) / 8, r.getLong(1), r.getLong(2)) }

  private val a1m = QuerySpec(
    "a1m_osm_relations",
    "OSM PBF multipolygon relations: full-element file (packed roles_sid, zigzag-delta memids, member types), relation-aware scan, geometry assembled via two distributed joins (members→way paths→nodes), inner rings assigned to containing outers by ray cast — outer + hole become one Polygon. Output decodes the assembled WKB back to nanodegree integers (outer-ring vertex sums + WKB ring count), so the compare is bit-exact end-to-end.",
    Some("""WITH m AS (SELECT event_id // 8 AS k,
              CAST(floor(((value % 300.0) - 150.0) * 10000000.0) AS BIGINT) * 100 AS cx,
              CAST(floor(((value % 160.0) - 80.0) * 10000000.0) AS BIGINT) * 100 AS cy
            FROM events WHERE event_id % 8 = 0)
            SELECT k AS relation_id, 'POLYGON' AS kind,
              CAST(1 AS BIGINT) AS n_outer, CAST(1 AS BIGINT) AS n_inner,
              CAST(2 AS BIGINT) AS n_rings,
              CAST(5 * cx - 10000000 AS BIGINT) AS sum_lon_nano_outer,
              CAST(5 * cy - 10000000 AS BIGINT) AS sum_lat_nano_outer
            FROM m ORDER BY relation_id"""),
    (s, d) => {
      import s.implicits._
      val file = osmRelationsFixture(s, d)
      val feats = graft.sources.OsmPbf.multipolygonFeatures(s, file)
      val outerNanoUdf = udf { (wkb: Array[Byte]) =>
        val pts = graft.functions.Wkb.pathPoints(wkb) // polygon → outer ring
        (graft.functions.Wkb.numRings(wkb),
          pts.map(p => math.rint(p._1 * 1e9).toLong).sum,
          pts.map(p => math.rint(p._2 * 1e9).toLong).sum)
      }
      feats
        .withColumn("o", outerNanoUdf($"geom"))
        .select($"relation_id", $"kind", $"n_outer", $"n_inner",
          $"o._1".cast(LongType).as("n_rings"),
          $"o._2".as("sum_lon_nano_outer"),
          $"o._3".as("sum_lat_nano_outer"))
        .orderBy($"relation_id")
    }
  )

  // ------------------------------------- A1n (OSM stitched multipolygon)
  /** The a1m geometry delivered the way real planet extracts ship it:
    * every ring SPLIT across two OPEN ways (outer: [c0,c1,c2] + a
    * REVERSED [c0,c3,c2]; inner likewise), so assembly must endpoint-
    * stitch, including a tail-to-tail reversal, before any polygon
    * exists. Same centers, same D/d squares, same closed-form oracle as
    * a1m — hash-matching it proves stitching reconstructs the exact
    * ring a single closed way would have carried.
    */
  private[graft] def osmStitchedFixture(s: SparkSession, d: String): String = {
    val dir = Fixture(d, "osm_stitched", "events") { dir =>
      val D = 10000000L
      val dd = 3000000L
      val nodes = scala.collection.mutable.ArrayBuffer.empty[graft.sources.OsmPbf.Node]
      val ways = scala.collection.mutable.ArrayBuffer.empty[graft.sources.OsmPbf.Way]
      val rels = scala.collection.mutable.ArrayBuffer.empty[graft.sources.OsmPbf.Relation]
      osmAnchors(s, d, "osm stitched").foreach { case (k, cx, cy) =>
        def corners(h: Long) = Seq((cx - h, cy - h), (cx + h, cy - h),
          (cx + h, cy + h), (cx - h, cy + h))
        val base = k * 8
        (corners(D) ++ corners(dd)).zipWithIndex.foreach { case ((x, y), j) =>
          nodes += graft.sources.OsmPbf.Node(base + j, x, y, Map.empty)
        }
        // outer = [c0,c1,c2] + REVERSED closer [c0,c3,c2]: the stitcher
        // must extend past c2 by flipping the second chain
        ways += graft.sources.OsmPbf.Way(4 * k,
          Seq(base, base + 1, base + 2), Map.empty)
        ways += graft.sources.OsmPbf.Way(4 * k + 1,
          Seq(base, base + 3, base + 2), Map.empty)
        ways += graft.sources.OsmPbf.Way(4 * k + 2,
          Seq(base + 4, base + 5, base + 6), Map.empty)
        ways += graft.sources.OsmPbf.Way(4 * k + 3,
          Seq(base + 4, base + 7, base + 6), Map.empty)
        rels += graft.sources.OsmPbf.Relation(k,
          Seq(4 * k, 4 * k + 1, 4 * k + 2, 4 * k + 3),
          Seq("outer", "outer", "inner", "inner"), Seq(1, 1, 1, 1),
          Map("type" -> "multipolygon"))
      }
      Files.write(new File(dir, "stitched.osm.pbf").toPath,
        graft.sources.OsmPbf.writeFull(nodes.toSeq, ways.toSeq, rels.toSeq))
    }
    new File(dir, "stitched.osm.pbf").getPath
  }

  private val a1n = QuerySpec(
    "a1n_osm_stitched",
    "OSM multipolygon ring STITCHING: every ring split across two open ways, one deliberately reversed — assembly endpoint-chains (lowest-way-id deterministic, tail-to-tail reversal) before polygonizing. Output = the same decoded outer-ring nanodegree sums as a1m; hash-matching the closed-form oracle proves the stitched ring is bit-identical to the single-way ring.",
    Some("""WITH m AS (SELECT event_id // 8 AS k,
              CAST(floor(((value % 300.0) - 150.0) * 10000000.0) AS BIGINT) * 100 AS cx,
              CAST(floor(((value % 160.0) - 80.0) * 10000000.0) AS BIGINT) * 100 AS cy
            FROM events WHERE event_id % 8 = 0)
            SELECT k AS relation_id, 'POLYGON' AS kind,
              CAST(1 AS BIGINT) AS n_outer, CAST(1 AS BIGINT) AS n_inner,
              CAST(2 AS BIGINT) AS n_rings,
              CAST(5 * cx - 10000000 AS BIGINT) AS sum_lon_nano_outer,
              CAST(5 * cy - 10000000 AS BIGINT) AS sum_lat_nano_outer
            FROM m ORDER BY relation_id"""),
    (s, d) => {
      import s.implicits._
      val file = osmStitchedFixture(s, d)
      val feats = graft.sources.OsmPbf.multipolygonFeatures(s, file)
      val outerNanoUdf = udf { (wkb: Array[Byte]) =>
        val pts = graft.functions.Wkb.pathPoints(wkb)
        (graft.functions.Wkb.numRings(wkb),
          pts.map(p => math.rint(p._1 * 1e9).toLong).sum,
          pts.map(p => math.rint(p._2 * 1e9).toLong).sum)
      }
      feats
        .withColumn("o", outerNanoUdf($"geom"))
        .select($"relation_id", $"kind", $"n_outer", $"n_inner",
          $"o._1".cast(LongType).as("n_rings"),
          $"o._2".as("sum_lon_nano_outer"),
          $"o._3".as("sum_lat_nano_outer"))
        .orderBy($"relation_id")
    }
  )

  // ------------------------------------------- A1o (OSM route relations)
  /** Routes fixture: one `type=route` relation per a1m-style anchor k
    * (event_id % 8 == 0), four synthetic corner nodes per relation and
    * two ways across them, plus a `stop` NODE member (annotation — must
    * count, not join). The k%4 variants pin the whole route surface:
    *   0 → two CONNECTED open ways, second reversed (tail-to-tail merge)
    *       → one LINESTRING
    *   1, 3 → two DISCONNECTED ways → MULTILINESTRING, 2 chains
    *   2 → the connected pair delivered through a NESTED child relation
    *       (`type=route_section`) — the one-level resolution arm
    * All variants share the same four corner points, so the closed-form
    * coordinate sums are variant-independent (4·cx / 4·cy).
    */
  private[graft] def osmRoutesFixture(s: SparkSession, d: String): String = {
    val dir = Fixture(d, "osm_routes", "events") { dir =>
      val D = 10000000L // 0.01° in nanodeg, multiple of granularity 100
      val ChildBase = 10000000000L // child relation ids, disjoint from parents
      val nodes = scala.collection.mutable.ArrayBuffer.empty[graft.sources.OsmPbf.Node]
      val ways = scala.collection.mutable.ArrayBuffer.empty[graft.sources.OsmPbf.Way]
      val rels = scala.collection.mutable.ArrayBuffer.empty[graft.sources.OsmPbf.Relation]
      osmAnchors(s, d, "osm routes").foreach { case (k, cx, cy) =>
        val base = k * 8
        val corners = Seq((cx - D, cy - D), (cx + D, cy - D),
          (cx + D, cy + D), (cx - D, cy + D))
        corners.zipWithIndex.foreach { case ((x, y), j) =>
          nodes += graft.sources.OsmPbf.Node(base + j, x, y, Map.empty)
        }
        val connected = k % 2 == 0
        if (connected) {
          // [n0,n1,n2] + [n3,n2]: merge must REVERSE the second chain
          ways += graft.sources.OsmPbf.Way(2 * k,
            Seq(base, base + 1, base + 2), Map.empty)
          ways += graft.sources.OsmPbf.Way(2 * k + 1,
            Seq(base + 3, base + 2), Map.empty)
        } else {
          ways += graft.sources.OsmPbf.Way(2 * k,
            Seq(base, base + 1), Map.empty)
          ways += graft.sources.OsmPbf.Way(2 * k + 1,
            Seq(base + 2, base + 3), Map.empty)
        }
        if (k % 4 == 2) {
          // nested: the ways ride a child route_section relation
          rels += graft.sources.OsmPbf.Relation(ChildBase + k,
            Seq(2 * k, 2 * k + 1), Seq("", ""), Seq(1, 1),
            Map("type" -> "route_section"))
          rels += graft.sources.OsmPbf.Relation(k,
            Seq(ChildBase + k, base), Seq("", "stop"), Seq(2, 0),
            Map("type" -> "route", "route" -> "hiking"))
        } else {
          rels += graft.sources.OsmPbf.Relation(k,
            Seq(2 * k, 2 * k + 1, base), Seq("", "", "stop"), Seq(1, 1, 0),
            Map("type" -> "route", "route" -> "hiking"))
        }
      }
      Files.write(new File(dir, "routes.osm.pbf").toPath,
        graft.sources.OsmPbf.writeFull(nodes.toSeq, ways.toSeq, rels.toSeq))
    }
    new File(dir, "routes.osm.pbf").getPath
  }

  private val a1o = QuerySpec(
    "a1o_osm_routes",
    "OSM route relations: way chains merged end-to-end (deterministic lowest-id greedy, tail-to-tail reversal, NO closure requirement) into LineString/MultiLineString; stop NODE members counted, never joined; one relation delivers its ways through a nested child relation (one-level resolution). Output decodes the assembled WKB back to nanodegree integer sums — bit-exact against the closed-form oracle.",
    Some("""WITH m AS (SELECT event_id // 8 AS k,
              CAST(floor(((value % 300.0) - 150.0) * 10000000.0) AS BIGINT) * 100 AS cx,
              CAST(floor(((value % 160.0) - 80.0) * 10000000.0) AS BIGINT) * 100 AS cy
            FROM events WHERE event_id % 8 = 0)
            SELECT k AS relation_id,
              CASE WHEN k % 2 = 0 THEN 'LINESTRING' ELSE 'MULTILINESTRING' END AS kind,
              CAST(2 AS BIGINT) AS n_ways, CAST(1 AS BIGINT) AS n_stops,
              CAST(CASE WHEN k % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS n_chains,
              CAST(4 AS BIGINT) AS n_points,
              CAST(4 * cx AS BIGINT) AS sum_lon_nano,
              CAST(4 * cy AS BIGINT) AS sum_lat_nano
            FROM m ORDER BY relation_id"""),
    (s, d) => {
      import s.implicits._
      val file = osmRoutesFixture(s, d)
      val feats = graft.sources.OsmPbf.routeFeatures(s, file)
      val partsNanoUdf = udf { (wkb: Array[Byte]) =>
        val pts = graft.functions.Wkb.linePartsPoints(wkb).flatten
        (pts.length.toLong,
          pts.map(p => math.rint(p._1 * 1e9).toLong).sum,
          pts.map(p => math.rint(p._2 * 1e9).toLong).sum)
      }
      feats
        .withColumn("o", partsNanoUdf($"geom"))
        .select($"relation_id", $"kind", $"n_ways", $"n_stops", $"n_chains",
          $"o._1".as("n_points"),
          $"o._2".as("sum_lon_nano"), $"o._3".as("sum_lat_nano"))
        .orderBy($"relation_id")
    }
  )

  // --------------------------------------- A1p (OSM boundary relations)
  /** Boundary fixture: the a1m outer+inner square geometry re-tagged the
    * way real admin boundaries ship — `type=boundary`, the outer way
    * with an EMPTY role (historical tagging: empty means outer), an
    * `admin_centre` NODE member that must be selected out, not refused.
    * Same closed-form sums as a1m.
    */
  private[graft] def osmBoundaryFixture(s: SparkSession, d: String): String = {
    val dir = Fixture(d, "osm_boundary", "events") { dir =>
      val D = 10000000L
      val dd = 3000000L
      val nodes = scala.collection.mutable.ArrayBuffer.empty[graft.sources.OsmPbf.Node]
      val ways = scala.collection.mutable.ArrayBuffer.empty[graft.sources.OsmPbf.Way]
      val rels = scala.collection.mutable.ArrayBuffer.empty[graft.sources.OsmPbf.Relation]
      osmAnchors(s, d, "osm boundary").foreach { case (k, cx, cy) =>
        def corners(h: Long) = Seq((cx - h, cy - h), (cx + h, cy - h),
          (cx + h, cy + h), (cx - h, cy + h))
        val base = k * 8
        (corners(D) ++ corners(dd)).zipWithIndex.foreach { case ((x, y), j) =>
          nodes += graft.sources.OsmPbf.Node(base + j, x, y, Map.empty)
        }
        ways += graft.sources.OsmPbf.Way(2 * k,
          Seq(base, base + 1, base + 2, base + 3, base), Map.empty)
        ways += graft.sources.OsmPbf.Way(2 * k + 1,
          Seq(base + 4, base + 5, base + 6, base + 7, base + 4), Map.empty)
        rels += graft.sources.OsmPbf.Relation(k,
          Seq(2 * k, 2 * k + 1, base), Seq("", "inner", "admin_centre"),
          Seq(1, 1, 0),
          Map("type" -> "boundary", "boundary" -> "administrative"))
      }
      Files.write(new File(dir, "boundary.osm.pbf").toPath,
        graft.sources.OsmPbf.writeFull(nodes.toSeq, ways.toSeq, rels.toSeq))
    }
    new File(dir, "boundary.osm.pbf").getPath
  }

  private val a1p = QuerySpec(
    "a1p_osm_boundary",
    "OSM boundary relations through the multipolygon ring machinery: type=boundary selected, EMPTY member role means outer (historical admin tagging), admin_centre node member selected out (counted annotation, not refusal); outer + hole become one Polygon with the same bit-exact decoded sums as a1m.",
    Some("""WITH m AS (SELECT event_id // 8 AS k,
              CAST(floor(((value % 300.0) - 150.0) * 10000000.0) AS BIGINT) * 100 AS cx,
              CAST(floor(((value % 160.0) - 80.0) * 10000000.0) AS BIGINT) * 100 AS cy
            FROM events WHERE event_id % 8 = 0)
            SELECT k AS relation_id, 'POLYGON' AS kind,
              CAST(1 AS BIGINT) AS n_outer, CAST(1 AS BIGINT) AS n_inner,
              CAST(2 AS BIGINT) AS n_rings,
              CAST(5 * cx - 10000000 AS BIGINT) AS sum_lon_nano_outer,
              CAST(5 * cy - 10000000 AS BIGINT) AS sum_lat_nano_outer
            FROM m ORDER BY relation_id"""),
    (s, d) => {
      import s.implicits._
      val file = osmBoundaryFixture(s, d)
      val feats = graft.sources.OsmPbf.boundaryFeatures(s, file)
      val outerNanoUdf = udf { (wkb: Array[Byte]) =>
        val pts = graft.functions.Wkb.pathPoints(wkb)
        (graft.functions.Wkb.numRings(wkb),
          pts.map(p => math.rint(p._1 * 1e9).toLong).sum,
          pts.map(p => math.rint(p._2 * 1e9).toLong).sum)
      }
      feats
        .withColumn("o", outerNanoUdf($"geom"))
        .select($"relation_id", $"kind", $"n_outer", $"n_inner",
          $"o._1".cast(LongType).as("n_rings"),
          $"o._2".as("sum_lon_nano_outer"),
          $"o._3".as("sum_lat_nano_outer"))
        .orderBy($"relation_id")
    }
  )

  // ------------------------------------------------------------------ A6
  private val a6 = QuerySpec(
    "a6_layer_filter",
    "Layer/topic routing + property predicate on the unpacked stream (consume-side filter).",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id, event_type AS layer,
            CAST(json_extract_string(props, '$.k') AS BIGINT) AS kval
            FROM events
            WHERE event_type = 'click' AND CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
            ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      roundtrippedFeatures(s, d)
        .select($"f.feature_id".as("feature_id"), $"f.layer".as("layer"),
          element_at($"f.props", "k").cast(LongType).as("kval"))
        .filter($"layer" === "click" && $"kval" > 50)
        .orderBy($"feature_id")
    }
  )

  // ------------------------------------------------------------------ A7
  private val a7 = QuerySpec(
    "a7_prop_project",
    "Property projection: dynamic props map → typed sink columns.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id,
            CAST(json_extract_string(props, '$.k') AS BIGINT) AS kval,
            (json_extract_string(props, '$.k') IS NOT NULL) AS k_present,
            (json_extract_string(props, '$.missing') IS NOT NULL) AS m_present
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      roundtrippedFeatures(s, d)
        .select($"f.feature_id".as("feature_id"),
          element_at($"f.props", "k").cast(LongType).as("kval"),
          element_at($"f.props", "k").isNotNull.as("k_present"),
          element_at($"f.props", "missing").isNotNull.as("m_present"))
        .orderBy($"feature_id")
    }
  )

  // ----------------------------------------------------------------- A11
  private val a11 = QuerySpec(
    "a11_geom_bbox",
    "WKB geometry codec: point encoded at pack time, decoded after the wire roundtrip; bbox coords must equal the original doubles bit-for-bit.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id, 'POINT' AS gtype,
            value AS xmin, CAST(user_id AS DOUBLE) AS ymin,
            (value BETWEEN 0 AND 100 AND user_id BETWEEN 0 AND 100) AS in_box
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      roundtrippedFeatures(s, d)
        .select($"f.feature_id".as("feature_id"),
          geomTypeUdf($"f.geom_wkb").as("gtype"),
          bboxUdf($"f.geom_wkb").as("bb"), // one decode, two field reads
          inBoxUdf($"f.geom_wkb").as("in_box"))
        .select($"feature_id", $"gtype",
          $"bb.xmin".as("xmin"), $"bb.ymin".as("ymin"), $"in_box")
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------------- A11b
  private val multiUdf: UserDefinedFunction = udf { (x: Double, y: Double) =>
    Wkb.multi(4, Seq(Wkb.point(x, y), Wkb.point(x + 1.0, y + 1.0)))
  }
  private val a11b = QuerySpec(
    "a11b_geom_multi",
    "Multi-geometry codec path: per-event MULTIPOINT built from coordinates, recursive bbox decoded back; oracle recomputes the envelope arithmetically.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id, 'MULTIPOINT' AS gtype,
            value AS xmin, CAST(user_id AS DOUBLE) AS ymin,
            value + 1.0 AS xmax, CAST(user_id AS DOUBLE) + 1.0 AS ymax
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          multiUdf($"value", $"user_id".cast(DoubleType)).as("wkb"))
        .select($"feature_id", geomTypeUdf($"wkb").as("gtype"), bboxUdf($"wkb").as("bb"))
        .select($"feature_id", $"gtype",
          $"bb.xmin".as("xmin"), $"bb.ymin".as("ymin"),
          $"bb.xmax".as("xmax"), $"bb.ymax".as("ymax"))
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------------- A11c
  /** Diamond (L1-ball) polygon centered at (c, c) with vertex radius r,
    * optionally with a concentric hole — interior is |dx|+|dy| < r (minus
    * the hole), which DuckDB can replay as pure arithmetic.
    */
  private val diamondUdf: UserDefinedFunction = udf { (c: Double, r: Double, hole: Double) =>
    def ring(rad: Double) =
      Seq((c + rad, c), (c, c + rad), (c - rad, c), (c, c - rad), (c + rad, c))
    if (hole > 0) Wkb.polygon(Seq(ring(r), ring(hole))) else Wkb.polygon(Seq(ring(r)))
  }
  // bbox reject first, exact ray cast only on bbox hits — the scalar mirror
  // of the filter-then-refine shape a bbox-indexed spatial join uses
  private val containsUdf: UserDefinedFunction = udf { (wkb: Array[Byte], px: Double, py: Double) =>
    Wkb.bboxIntersects(wkb, px, py, px, py) && Wkb.containsPoint(wkb, px, py)
  }
  // Radii are odd hundredths (120.17, 30.11): the test point's L1 distance
  // 2*|value - 2*user_id| lives on the even-hundredth grid, so an
  // exactly-on-boundary point — where ray-cast tie-break and the oracle's
  // strict < could disagree — is unreachable.
  private val a11c = QuerySpec(
    "a11c_point_in_poly",
    "Ray-cast point-in-polygon: per-event diamond polygon (plus a holed variant), even-odd containment of (value, value); oracle replays the L1-ball arithmetic.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id,
            (2*abs(value - 2*CAST(user_id AS DOUBLE)) < 120.17) AS in_outer,
            (2*abs(value - 2*CAST(user_id AS DOUBLE)) < 120.17
             AND 2*abs(value - 2*CAST(user_id AS DOUBLE)) > 30.11) AS inside
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          (lit(2.0) * $"user_id".cast(DoubleType)).as("c"),
          $"value".as("px"))
        .select($"feature_id",
          containsUdf(diamondUdf($"c", lit(120.17), lit(-1.0)), $"px", $"px").as("in_outer"),
          containsUdf(diamondUdf($"c", lit(120.17), lit(30.11)), $"px", $"px").as("inside"))
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------------- A11e
  private val intersectsUdf: UserDefinedFunction =
    udf { (a: Array[Byte], b: Array[Byte]) => Wkb.intersects(a, b) }

  // Two open L1 balls intersect iff the L1 distance of their centers is
  // under the radius sum (Minkowski): with centers (2u, 2u) and (v, v)
  // that is 2|v - 2u| < 60.13 + 45.12 — replayable arithmetic, and the
  // odd-hundredth radius sum keeps the 0.02-grid distance off the exact
  // touch case where intersects() (touch = true) and strict < disagree.
  private val a11e = QuerySpec(
    "a11e_geom_intersects",
    "Real geometry-intersects (segment crossing + even-odd containment fallback) between two per-event diamond polygons; oracle replays the L1 Minkowski arithmetic.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id,
            (2*abs(value - 2*CAST(user_id AS DOUBLE)) < 105.25) AS isect
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          diamondUdf(lit(2.0) * $"user_id".cast(DoubleType), lit(60.13), lit(-1.0)).as("wa"),
          diamondUdf($"value", lit(45.12), lit(-1.0)).as("wb"))
        .select($"feature_id", intersectsUdf($"wa", $"wb").as("isect"))
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------------- A11g
  private val areaUdf: UserDefinedFunction = udf { (wkb: Array[Byte]) => Wkb.area(wkb) }
  private val centroidUdf: UserDefinedFunction = udf { (wkb: Array[Byte]) =>
    val bb = Wkb.bbox(wkb)
    ((bb.xmin + bb.xmax) / 2, (bb.ymin + bb.ymax) / 2)
  }

  // The oracle replays the exact left-associated shoelace term chain (and
  // the bbox-midpoint ops), so the IEEE doubles hash-match bit-for-bit —
  // same replay technique as the c3 dot-product chain.
  private val a11g = QuerySpec(
    "a11g_geom_stats",
    "Geometry measurement: shoelace area of the holed per-event diamond (outer minus hole, WKB ring convention) and bbox-midpoint centroid; oracle replays the identical IEEE op chain.",
    Some("""WITH t AS (SELECT CAST(event_id AS VARCHAR) AS feature_id,
                   2*CAST(user_id AS DOUBLE) AS c FROM events)
            SELECT feature_id,
              (abs(((c+120.17)*(c+120.17) - c*c) + (c*c - (c-120.17)*(c+120.17))
                 + ((c-120.17)*(c-120.17) - c*c) + (c*c - (c+120.17)*(c-120.17)))/2
               - abs(((c+30.11)*(c+30.11) - c*c) + (c*c - (c-30.11)*(c+30.11))
                 + ((c-30.11)*(c-30.11) - c*c) + (c*c - (c+30.11)*(c-30.11)))/2) AS area,
              ((c-120.17)+(c+120.17))/2 AS cx,
              ((c-120.17)+(c+120.17))/2 AS cy
            FROM t ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          diamondUdf(lit(2.0) * $"user_id".cast(DoubleType), lit(120.17), lit(30.11)).as("wkb"))
        .select($"feature_id", areaUdf($"wkb").as("area"), centroidUdf($"wkb").as("ct"))
        .select($"feature_id", $"area", $"ct._1".as("cx"), $"ct._2".as("cy"))
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------------- A11h
  /** Build → WKT → parse → compare bytes → decode bbox. The WKT string
    * itself never crosses engines (double formatting is JVM-specific);
    * what the oracle checks is that the roundtrip is byte-lossless
    * (`roundtrip_ok` must be uniformly TRUE) and that the re-parsed
    * geometry's envelope equals the replayed coordinate arithmetic.
    */
  private val wktRoundtripUdf: UserDefinedFunction = udf { (kind: Long, x: Double, y: Double) =>
    val g = kind match {
      case 0 => Wkb.point(x, y)
      case 1 => Wkb.lineString(Seq((x, y), (x + 1.13, y + 2.07)))
      case _ => Wkb.polygon(Seq(Seq((x, y), (x + 3.19, y), (x + 3.19, y + 1.51), (x, y))))
    }
    val back = Wkb.fromWkt(Wkb.toWkt(g))
    (Wkb.geomType(back), java.util.Arrays.equals(back, g), Wkb.bbox(back))
  }
  private val a11h = QuerySpec(
    "a11h_wkt_roundtrip",
    "WKT codec: per-event geometry (point/linestring/polygon by event_id%3) printed to WKT, re-parsed, byte-compared, and measured; oracle replays the envelope arithmetic and expects a lossless roundtrip everywhere.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id,
            CASE event_id % 3 WHEN 0 THEN 'POINT' WHEN 1 THEN 'LINESTRING' ELSE 'POLYGON' END AS gtype,
            TRUE AS roundtrip_ok,
            value AS xmin, CAST(user_id AS DOUBLE) AS ymin,
            CASE event_id % 3 WHEN 0 THEN value WHEN 1 THEN value + 1.13 ELSE value + 3.19 END AS xmax,
            CASE event_id % 3 WHEN 0 THEN CAST(user_id AS DOUBLE) WHEN 1 THEN CAST(user_id AS DOUBLE) + 2.07 ELSE CAST(user_id AS DOUBLE) + 1.51 END AS ymax
            FROM events ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          wktRoundtripUdf($"event_id" % 3, $"value", $"user_id".cast(DoubleType)).as("r"))
        .select($"feature_id", $"r._1".as("gtype"), $"r._2".as("roundtrip_ok"),
          $"r._3.xmin".as("xmin"), $"r._3.ymin".as("ymin"),
          $"r._3.xmax".as("xmax"), $"r._3.ymax".as("ymax"))
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------------- A11i
  /** d_pp replays bit-exactly: the UDF computes the literal chain
    * `sqrt(dx*dx + dy*dy)` that the oracle writes out in SQL — each IEEE
    * op correctly rounded on identical inputs (the a11g replay pattern).
    * within_r is a boolean with decision slack instead: boundaryDistance's
    * point-segment chain differs from the oracle's closed form, so the
    * radius is an odd THOUSANDTH (5.013) — the point grid is 0.01 and the
    * outside-case distance is √2·(grid−7), so |d − r| ≥ ~0.0047·√2 ≫ any
    * double error, and the two formulations can never disagree.
    */
  private val pointPairDistUdf: UserDefinedFunction = udf { (v: Double, u: Double) =>
    Wkb.pointDistance(Wkb.point(v, u), Wkb.point(2.0 * u, v))
  }
  private val rectUdf: UserDefinedFunction = udf { (u: Double) =>
    Wkb.polygon(Seq(Seq((u - 7, u - 7), (u + 7, u - 7), (u + 7, u + 7), (u - 7, u + 7), (u - 7, u - 7))))
  }
  private val withinRUdf: UserDefinedFunction = udf { (wkb: Array[Byte], px: Double, py: Double) =>
    Wkb.boundaryDistance(wkb, px, py) < 5.013
  }
  private val a11i = QuerySpec(
    "a11i_distance",
    "Geometry distance: exact point-point Euclidean distance (bit-replayed IEEE chain) and point-to-polygon-boundary proximity against a per-event square (odd-thousandth radius keeps the boolean off the grid).",
    Some("""WITH t AS (SELECT CAST(event_id AS VARCHAR) AS feature_id,
              value AS v, CAST(user_id AS DOUBLE) AS u FROM events)
            SELECT feature_id,
              sqrt((v - 2*u)*(v - 2*u) + (u - v)*(u - v)) AS d_pp,
              CASE WHEN abs(v - u) <= 7 THEN (7 - abs(v - u)) < 5.013
                   ELSE sqrt((abs(v - u) - 7)*(abs(v - u) - 7)*2) < 5.013 END AS within_r
            FROM t ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          $"value".as("v"), $"user_id".cast(DoubleType).as("u"))
        .select($"feature_id",
          pointPairDistUdf($"v", $"u").as("d_pp"),
          withinRUdf(rectUdf($"u"), $"v", $"v").as("within_r"))
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------------- A11k
  /** ST_Extent analogue: the layer-level envelope union a tile server or
    * spatial catalog keeps per layer. One decode UDF per row map-side,
    * then plain min/max aggregates — partial aggregation applies, so the
    * envelope of a 100 TB layer is one short shuffle of 4 doubles per
    * partition. Exact min/max of exact doubles ⇒ bit-replayable oracle.
    */
  private val a11k = QuerySpec(
    "a11k_extent",
    "Per-group geometry extent (ST_Extent): envelope union of the per-event diamonds grouped by event_id%8, via decode-then-min/max partial aggregation; oracle replays the envelope arithmetic.",
    Some("""SELECT event_id % 8 AS grp,
            MIN(2*CAST(user_id AS DOUBLE) - 60.13) AS xmin,
            MIN(2*CAST(user_id AS DOUBLE) - 60.13) AS ymin,
            MAX(2*CAST(user_id AS DOUBLE) + 60.13) AS xmax,
            MAX(2*CAST(user_id AS DOUBLE) + 60.13) AS ymax,
            COUNT(*) AS n
            FROM events GROUP BY 1 ORDER BY grp"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select(($"event_id" % 8).as("grp"),
          bboxUdf(diamondUdf(lit(2.0) * $"user_id".cast(DoubleType), lit(60.13), lit(-1.0))).as("bb"))
        .groupBy($"grp")
        .agg(min($"bb.xmin").as("xmin"), min($"bb.ymin").as("ymin"),
          max($"bb.xmax").as("xmax"), max($"bb.ymax").as("ymax"),
          count(lit(1)).as("n"))
        .orderBy($"grp")
    }
  )

  // ---------------------------------------------------------------- A11l
  /** The per-segment norms accumulate left-to-right, and every coordinate
    * the oracle uses is re-derived with the SAME floating ops the builder
    * used (`(v+3.19)-v`, not the constant 3.19 — the sum v+3.19 rounds,
    * so the difference is not exactly 3.19), making the whole chain
    * bit-replayable.
    */
  private val lineLenUdf: UserDefinedFunction = udf { (v: Double, u: Double) =>
    Wkb.length(Wkb.lineString(Seq(
      (v, u), (v + 3.19, u + 1.07), (v + 3.19, u + 1.07 + 2.33))))
  }
  private val a11l = QuerySpec(
    "a11l_line_length",
    "Planar polyline length over a per-event 3-vertex linestring: left-associated segment-norm chain, bit-replayed by the oracle.",
    Some("""WITH t AS (SELECT CAST(event_id AS VARCHAR) AS feature_id,
              value AS v, CAST(user_id AS DOUBLE) AS u FROM events)
            SELECT feature_id,
              sqrt(((v+3.19)-v)*((v+3.19)-v) + ((u+1.07)-u)*((u+1.07)-u))
              + sqrt(0.0*0.0 + (((u+1.07)+2.33)-(u+1.07))*(((u+1.07)+2.33)-(u+1.07))) AS line_len
            FROM t ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          lineLenUdf($"value", $"user_id".cast(DoubleType)).as("line_len"))
        .orderBy($"feature_id")
    }
  )

  // -------------------------------------------------------------- A11ac
  /** ST_LineInterpolatePoint family member over the same per-event
    * 3-vertex polyline as `a11l_line_length`: the point at arc fraction
    * t (route milestones, label anchors). Map-side scalar at any scale.
    * Exact replay: [[Wkb.lineInterpolate]] pins the branch (covering
    * segment = first with cumulative ≥ t·total, exact boundary to the
    * EARLIER segment), the (target − cum)/seg division, and the
    * x1 + frac·(x2−x1) lerp association — the oracle writes the same
    * closed-form two-segment chains as the a11l length oracle.
    */
  private val lineInterpUdf: UserDefinedFunction = udf { (v: Double, u: Double) =>
    val ls = Wkb.lineString(Seq(
      (v, u), (v + 3.19, u + 1.07), (v + 3.19, u + 1.07 + 2.33)))
    val p35 = Wkb.lineInterpolate(ls, 0.35)
    val p80 = Wkb.lineInterpolate(ls, 0.8)
    (p35._1, p35._2, p80._1, p80._2)
  }
  private val a11ac = QuerySpec(
    "a11ac_line_interpolate",
    "Line interpolation (ST_LineInterpolatePoint): the points at arc fractions 0.35 and 0.8 along the per-event 3-vertex polyline — first-covering-segment branch and lerp association pinned, oracle replays the closed-form two-segment chains bit-for-bit.",
    Some("""WITH t AS (SELECT CAST(event_id AS VARCHAR) AS feature_id,
              value AS v, CAST(user_id AS DOUBLE) AS u FROM events),
            s AS (SELECT feature_id, v, u,
              sqrt(((v+3.19)-v)*((v+3.19)-v) + ((u+1.07)-u)*((u+1.07)-u)) AS len1,
              sqrt(0.0*0.0 + (((u+1.07)+2.33)-(u+1.07))*(((u+1.07)+2.33)-(u+1.07))) AS len2
              FROM t),
            g AS (SELECT feature_id, v, u, len1, len2, len1 + len2 AS total FROM s)
            SELECT feature_id,
              CASE WHEN len1 >= 0.35*total
                   THEN v + ((0.35*total)/len1)*((v+3.19)-v)
                   ELSE (v+3.19) + (((0.35*total)-len1)/len2)*((v+3.19)-(v+3.19)) END AS x35,
              CASE WHEN len1 >= 0.35*total
                   THEN u + ((0.35*total)/len1)*((u+1.07)-u)
                   ELSE (u+1.07) + (((0.35*total)-len1)/len2)*(((u+1.07)+2.33)-(u+1.07)) END AS y35,
              CASE WHEN len1 >= 0.8*total
                   THEN v + ((0.8*total)/len1)*((v+3.19)-v)
                   ELSE (v+3.19) + (((0.8*total)-len1)/len2)*((v+3.19)-(v+3.19)) END AS x80,
              CASE WHEN len1 >= 0.8*total
                   THEN u + ((0.8*total)/len1)*((u+1.07)-u)
                   ELSE (u+1.07) + (((0.8*total)-len1)/len2)*(((u+1.07)+2.33)-(u+1.07)) END AS y80
            FROM g ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          lineInterpUdf($"value", $"user_id".cast(DoubleType)).as("p"))
        .select($"feature_id", $"p._1".as("x35"), $"p._2".as("y35"),
          $"p._3".as("x80"), $"p._4".as("y80"))
        .orderBy($"feature_id")
    }
  )

  // --------------------------------------------------------------- A11p
  /** No oracle by design: Douglas-Peucker's recursive farthest-point
    * split is not SQL-replayable; WkbSpec's property tests pin the
    * semantics (endpoint preservation, epsilon monotonicity, idempotence)
    * and the driver's rows-only check pins cardinality. Deterministic:
    * pure function of exact per-row doubles, no state. Map-side at any
    * scale — the tile-serving pre-step that shrinks vertex counts before
    * features ship to clients.
    */
  private val simplifyUdf: UserDefinedFunction = udf { (x: Double, y: Double) =>
    // 6-vertex zigzag: one near-collinear knee (dropped at eps=0.05) and
    // one real spike (always kept)
    val line = Wkb.lineString(Seq(
      (x, y), (x + 1.0, y + 0.01), (x + 2.0, y),
      (x + 3.0, y + 4.0), (x + 4.0, y), (x + 5.0, y + 0.02)))
    val simp = Wkb.simplify(line, 0.05)
    (Wkb.pointCount(line), Wkb.pointCount(simp))
  }
  /** Oracle (r10): Douglas-Peucker's recursion IS replayable for this
    * query because the polyline is 6 fixed-offset vertices per row — the
    * recursion tree is tiny and data-dependent only in WHICH knee wins,
    * which a lockstep range-stack handles: a recursive CTE pops one
    * pending (lo, hi) range per iteration per event (the keep-set is
    * independent of range-processing order, so stack order is free),
    * finds the farthest interior vertex via the exact perpDist chain
    * (same expression-for-expression IEEE discipline as a11j; strict `>`
    * first-max tie = `ORDER BY dd DESC, j ASC`), and pushes the two
    * sub-ranges. All events advance together, so total iterations =
    * the deepest event's split count (~6), not 10000×that.
    */
  private def a11pOracle: String = {
    val eps = 0.05
    def dd(j: String, lo: String, hi: String): String = {
      val dx = s"(w.vx[$hi] - w.vx[$lo])"
      val dy = s"(w.vy[$hi] - w.vy[$lo])"
      val ln = s"sqrt($dx * $dx + $dy * $dy)"
      val pt = s"sqrt((w.vx[$j] - w.vx[$lo]) * (w.vx[$j] - w.vx[$lo]) + (w.vy[$j] - w.vy[$lo]) * (w.vy[$j] - w.vy[$lo]))"
      val seg = s"abs($dx * (w.vy[$lo] - w.vy[$j]) - $dy * (w.vx[$lo] - w.vx[$j])) / $ln"
      s"CASE WHEN $ln = 0 THEN $pt ELSE $seg END"
    }
    val d = dd("t.j", "w.stk[len(w.stk)].lo", "w.stk[len(w.stk)].hi")
    s"""WITH RECURSIVE
       |base AS (SELECT CAST(event_id AS VARCHAR) AS fid,
       |    [value, value + 1.0, value + 2.0, value + 3.0, value + 4.0, value + 5.0] AS vx,
       |    [CAST(user_id AS DOUBLE), CAST(user_id AS DOUBLE) + 0.01, CAST(user_id AS DOUBLE),
       |     CAST(user_id AS DOUBLE) + 4.0, CAST(user_id AS DOUBLE), CAST(user_id AS DOUBLE) + 0.02] AS vy
       |  FROM events),
       |walk(fid, vx, vy, stk, keep) AS (
       |  SELECT fid, vx, vy, [struct_pack(lo := 1, hi := 6)],
       |    [TRUE, FALSE, FALSE, FALSE, FALSE, TRUE]
       |  FROM base
       |  UNION ALL
       |  SELECT w.fid, w.vx, w.vy,
       |    CASE WHEN best IS NULL THEN rest
       |         ELSE list_concat(rest, [struct_pack(lo := lo, hi := best),
       |                                 struct_pack(lo := best, hi := hi)]) END,
       |    CASE WHEN best IS NULL THEN w.keep
       |         ELSE list_transform(range(1, 7), i -> w.keep[CAST(i AS INTEGER)] OR i = best) END
       |  FROM (
       |    SELECT w.fid, w.vx, w.vy, w.keep,
       |      w.stk[len(w.stk)].lo AS lo, w.stk[len(w.stk)].hi AS hi,
       |      w.stk[1:len(w.stk) - 1] AS rest,
       |      CASE WHEN w.stk[len(w.stk)].hi > w.stk[len(w.stk)].lo + 1 THEN (
       |        SELECT t.j FROM (
       |          SELECT CAST(u.j AS INTEGER) AS j FROM unnest(range(w.stk[len(w.stk)].lo + 1, w.stk[len(w.stk)].hi)) u(j)
       |        ) t(j)
       |        WHERE ($d) > $eps
       |        ORDER BY ($d) DESC, t.j ASC
       |        LIMIT 1) END AS best
       |    FROM walk w WHERE len(w.stk) > 0
       |  ) w(fid, vx, vy, keep, lo, hi, rest, best))
       |SELECT fid AS feature_id, CAST(6 AS INTEGER) AS n_before,
       |  CAST(len(list_filter(keep, k -> k)) AS INTEGER) AS n_after
       |FROM walk WHERE len(stk) = 0
       |ORDER BY feature_id""".stripMargin
  }
  private val a11p = QuerySpec(
    "a11p_simplify",
    "Douglas-Peucker polyline simplification per event (6-vertex zigzag, eps=0.05): vertex counts before/after — near-collinear knees dropped, real spikes kept. Oracle replays the DP recursion as a lockstep range-stack recursive CTE with the exact perpDist IEEE chains.",
    Some(a11pOracle),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          simplifyUdf($"value", $"user_id".cast(DoubleType)).as("r"))
        .select($"feature_id", $"r._1".as("n_before"), $"r._2".as("n_after"))
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------------- A11x
  /** Constructive geometry (r10 verdict gap #2): rectangle clip producing
    * a NEW polygon, not just a predicate/measure. The engine path is
    * WKB → [[Wkb.clipPolygonRect]] → WKB → decode-and-measure, so the
    * oracle checks the full constructive roundtrip; per-feature work is
    * map-side scalar (100 TB shape: embarrassingly parallel, no state).
    *
    * Oracle replay: the four Sutherland–Hodgman half-plane passes unroll
    * as four CTE stages — lead-with-wrap pairs each vertex with its
    * cyclic successor, crossings/keeps emit with a (seq, ord) sub-order,
    * row_number re-sequences — with the crossing chains written verbatim
    * from [[Wkb.clipPolygonRect]]'s doc. Aggregates are order-free by
    * construction: the doubled-shoelace terms and min-coords are
    * floor-quantized to e6 Longs BEFORE summing/min-ing (the c4_entropy
    * integer-quantization discipline), so partitioning can't reorder
    * float adds. Features whose clip is empty vanish from both sides
    * (no vertex rows), keeping the row sets aligned with no null arm.
    */
  private val ClipR = 120.17
  private val (clipX0, clipY0, clipX1, clipY1) = (30.007, -10.003, 170.013, 150.017)
  private val clipUdf: UserDefinedFunction = udf { (cx: Double, cy: Double) =>
    val diamond = Wkb.polygon(Seq(Seq(
      (cx + ClipR, cy), (cx, cy + ClipR), (cx - ClipR, cy), (cx, cy - ClipR), (cx + ClipR, cy))))
    Wkb.clipPolygonRect(diamond, clipX0, clipY0, clipX1, clipY1)
  }
  private val clipStatsUdf: UserDefinedFunction = udf { (wkb: Array[Byte]) =>
    if (wkb == null) None
    else {
      val ring = Wkb.outerRing(wkb).dropRight(1) // writer closes the ring
      val n = ring.length
      var a2 = 0L
      var mnx = Long.MaxValue
      var mny = Long.MaxValue
      var i = 0
      while (i < n) {
        val v = ring(i)
        val w = ring((i + 1) % n)
        a2 += math.floor((v._1 * w._2 - w._1 * v._2) * 1000000.0).toLong
        val fx = math.floor(v._1 * 1000000.0).toLong
        val fy = math.floor(v._2 * 1000000.0).toLong
        if (fx < mnx) mnx = fx
        if (fy < mny) mny = fy
        i += 1
      }
      Some((n, a2, mnx, mny))
    }
  }
  private def a11xOracle: String = {
    def stage(k: Int, vertical: Boolean, b: Double, keepGE: Boolean): String = {
      val c = if (vertical) "x" else "y"
      val insV = if (keepGE) s"v.$c >= $b" else s"v.$c <= $b"
      val insW = if (keepGE) s"w$c >= $b" else s"w$c <= $b"
      val (px, py) =
        if (vertical) (s"CAST($b AS DOUBLE)", s"v.y + ($b - v.x) / (wx - v.x) * (wy - v.y)")
        else (s"v.x + ($b - v.y) / (wy - v.y) * (wx - v.x)", s"CAST($b AS DOUBLE)")
      s"""e$k AS (SELECT feature_id, seq, x, y,
         |    coalesce(lead(x) OVER pw, first_value(x) OVER pw) AS wx,
         |    coalesce(lead(y) OVER pw, first_value(y) OVER pw) AS wy
         |  FROM r${k - 1} v WINDOW pw AS (PARTITION BY feature_id ORDER BY seq)),
         |s$k AS (
         |  SELECT feature_id, seq, 0 AS ord, $px AS x, $py AS y
         |  FROM e$k v WHERE ($insV) <> ($insW)
         |  UNION ALL
         |  SELECT feature_id, seq, 1 AS ord, wx AS x, wy AS y FROM e$k v WHERE $insW),
         |r$k AS (SELECT feature_id,
         |    row_number() OVER (PARTITION BY feature_id ORDER BY seq, ord) - 1 AS seq, x, y
         |  FROM s$k)""".stripMargin
    }
    val stages = Seq(
      stage(1, vertical = true, clipX0, keepGE = true),
      stage(2, vertical = true, clipX1, keepGE = false),
      stage(3, vertical = false, clipY0, keepGE = true),
      stage(4, vertical = false, clipY1, keepGE = false)).mkString(",\n")
    s"""WITH t AS (SELECT CAST(event_id AS VARCHAR) AS feature_id,
       |    2*CAST(user_id % 100 AS DOUBLE) AS cx, value % 200.0 AS cy FROM events),
       |r0 AS (SELECT feature_id, seq,
       |    CASE seq WHEN 0 THEN cx + $ClipR WHEN 1 THEN cx WHEN 2 THEN cx - $ClipR ELSE cx END AS x,
       |    CASE seq WHEN 0 THEN cy WHEN 1 THEN cy + $ClipR WHEN 2 THEN cy ELSE cy - $ClipR END AS y
       |  FROM t, (SELECT unnest(range(0, 4)) AS seq)),
       |$stages,
       |fe AS (SELECT feature_id, seq, x, y,
       |    coalesce(lead(x) OVER pw, first_value(x) OVER pw) AS wx,
       |    coalesce(lead(y) OVER pw, first_value(y) OVER pw) AS wy
       |  FROM r4 WINDOW pw AS (PARTITION BY feature_id ORDER BY seq))
       |SELECT feature_id, CAST(COUNT(*) AS INTEGER) AS n_vtx,
       |  CAST(SUM(CAST(floor((x * wy - wx * y) * 1000000.0) AS BIGINT)) AS BIGINT) AS area2_e6,
       |  MIN(CAST(floor(x * 1000000.0) AS BIGINT)) AS minx_e6,
       |  MIN(CAST(floor(y * 1000000.0) AS BIGINT)) AS miny_e6
       |FROM fe GROUP BY feature_id ORDER BY feature_id""".stripMargin
  }
  private val a11x = QuerySpec(
    "a11x_clip",
    s"Constructive geometry: Sutherland-Hodgman rectangle clip ([$clipX0,$clipX1]x[$clipY0,$clipY1]) of a per-event diamond polygon to a NEW polygon WKB; vertex count, quantized doubled-shoelace area, and min-corner of the clipped ring. Oracle unrolls the 4 half-plane passes as windowed CTE stages with the identical crossing IEEE chains.",
    Some(a11xOracle),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          (lit(2.0) * ($"user_id" % 100).cast(DoubleType)).as("cx"),
          ($"value" % 200.0).as("cy"))
        .select($"feature_id", clipStatsUdf(clipUdf($"cx", $"cy")).as("st"))
        .filter($"st".isNotNull)
        .select($"feature_id", $"st._1".as("n_vtx"), $"st._2".as("area2_e6"),
          $"st._3".as("minx_e6"), $"st._4".as("miny_e6"))
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------------- A11y
  /** Constructive geometry #2: the L∞ (square-Minkowski) buffer — see
    * [[Wkb.bufferSquare]]. The engine path is WKB → buffer → WKB →
    * decode-and-measure (the a11x constructive-roundtrip discipline).
    *
    * Oracle replay: on the diamond fixture the buffered octagon has a
    * CLOSED FORM — each diamond vertex contributes two vertices, one per
    * adjacent square corner, and every output coordinate is ONE IEEE add
    * of an engine-computed diamond coordinate and ±r — so the oracle
    * skips the merge algorithm entirely and writes the eight vertex sums
    * verbatim in the engine's CCW cyclic order (any rotation works: the
    * quantized shoelace/min aggregates are rotation-invariant). The merge
    * algorithm itself is pinned by WkbSpec planted cases (point → square,
    * diamond → this octagon, collinear axis-aligned fusion, non-convex
    * rejection, CW normalization).
    */
  private val BufR = 15.5
  private val bufferUdf: UserDefinedFunction = udf { (cx: Double, cy: Double) =>
    val diamond = Wkb.polygon(Seq(Seq(
      (cx + ClipR, cy), (cx, cy + ClipR), (cx - ClipR, cy), (cx, cy - ClipR), (cx + ClipR, cy))))
    Wkb.bufferSquare(diamond, BufR)
  }
  private def a11yOracle: String =
    s"""WITH t AS (SELECT CAST(event_id AS VARCHAR) AS feature_id,
       |    2*CAST(user_id % 100 AS DOUBLE) AS cx, value % 200.0 AS cy FROM events),
       |v AS (SELECT feature_id,
       |    seq,
       |    CASE seq
       |      WHEN 0 THEN cx - $BufR           WHEN 1 THEN cx + $BufR
       |      WHEN 2 THEN (cx + $ClipR) + $BufR WHEN 3 THEN (cx + $ClipR) + $BufR
       |      WHEN 4 THEN cx + $BufR           WHEN 5 THEN cx - $BufR
       |      ELSE (cx - $ClipR) - $BufR END AS x,
       |    CASE seq
       |      WHEN 0 THEN (cy - $ClipR) - $BufR WHEN 1 THEN (cy - $ClipR) - $BufR
       |      WHEN 2 THEN cy - $BufR           WHEN 3 THEN cy + $BufR
       |      WHEN 4 THEN (cy + $ClipR) + $BufR WHEN 5 THEN (cy + $ClipR) + $BufR
       |      WHEN 6 THEN cy + $BufR           ELSE cy - $BufR END AS y
       |  FROM t, (SELECT unnest(range(0, 8)) AS seq)),
       |fe AS (SELECT feature_id, seq, x, y,
       |    coalesce(lead(x) OVER pw, first_value(x) OVER pw) AS wx,
       |    coalesce(lead(y) OVER pw, first_value(y) OVER pw) AS wy
       |  FROM v WINDOW pw AS (PARTITION BY feature_id ORDER BY seq))
       |SELECT feature_id, CAST(COUNT(*) AS INTEGER) AS n_vtx,
       |  CAST(SUM(CAST(floor((x * wy - wx * y) * 1000000.0) AS BIGINT)) AS BIGINT) AS area2_e6,
       |  MIN(CAST(floor(x * 1000000.0) AS BIGINT)) AS minx_e6,
       |  MIN(CAST(floor(y * 1000000.0) AS BIGINT)) AS miny_e6
       |FROM fe GROUP BY feature_id ORDER BY feature_id""".stripMargin
  private val a11y = QuerySpec(
    "a11y_buffer",
    s"Constructive geometry: exact L-infinity buffer (Minkowski sum with the [-$BufR,$BufR]^2 square) of a per-event diamond polygon to a NEW octagon WKB; vertex count, quantized doubled-shoelace area, and min-corner. Oracle writes the eight closed-form vertex sums verbatim (each one IEEE add), merge algorithm pinned by WkbSpec.",
    Some(a11yOracle),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          (lit(2.0) * ($"user_id" % 100).cast(DoubleType)).as("cx"),
          ($"value" % 200.0).as("cy"))
        .select($"feature_id", clipStatsUdf(bufferUdf($"cx", $"cy")).as("st"))
        .filter($"st".isNotNull)
        .select($"feature_id", $"st._1".as("n_vtx"), $"st._2".as("area2_e6"),
          $"st._3".as("minx_e6"), $"st._4".as("miny_e6"))
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------------- A11z
  /** Constructive geometry #3: convex∩convex intersection via the general
    * Sutherland–Hodgman clip ([[Wkb.clipPolygonConvex]]) against a fixed
    * convex PENTAGON (a11x's rectangle generalized to arbitrary
    * half-planes), plus boolean-op AREAS by inclusion–exclusion:
    * area2(A∪B) = area2(A) + area2(B) − area2(A∩B), all three in the
    * floor-quantized e6 integer domain so the sums are order-free. The
    * pentagon's quantized doubled area is ONE shared Scala constant
    * embedded in both the engine UDF and the oracle text — consistent by
    * construction. Features with an empty intersection keep a row
    * (inter = 0, union = a2A + a2B) via the LEFT JOIN arm, unlike a11x's
    * vanish-on-empty contract — both null-handling styles stay covered.
    */
  private val InterClip: IndexedSeq[(Double, Double)] = IndexedSeq(
    (40.0, 0.0), (160.0, 20.0), (150.0, 120.0), (80.0, 140.0), (20.0, 60.0))
  private val interClipB2: Long =
    InterClip.indices.map { i =>
      val v = InterClip(i)
      val w = InterClip((i + 1) % InterClip.length)
      math.floor((v._1 * w._2 - w._1 * v._2) * 1000000.0).toLong
    }.sum
  private val interUdf: UserDefinedFunction = udf { (cx: Double, cy: Double) =>
    val ring = IndexedSeq((cx + ClipR, cy), (cx, cy + ClipR), (cx - ClipR, cy), (cx, cy - ClipR))
    var a2a = 0L
    var i = 0
    while (i < ring.length) {
      val v = ring(i)
      val w = ring((i + 1) % ring.length)
      a2a += math.floor((v._1 * w._2 - w._1 * v._2) * 1000000.0).toLong
      i += 1
    }
    val clipped = Wkb.clipPolygonConvex(Wkb.polygon(Seq(ring :+ ring.head)), InterClip)
    if (clipped == null) (0L, 0L, a2a + interClipB2)
    else {
      val r = Wkb.outerRing(clipped).dropRight(1)
      var a2i = 0L
      var j = 0
      while (j < r.length) {
        val v = r(j)
        val w = r((j + 1) % r.length)
        a2i += math.floor((v._1 * w._2 - w._1 * v._2) * 1000000.0).toLong
        j += 1
      }
      (r.length.toLong, a2i, a2a + interClipB2 - a2i)
    }
  }
  private def a11zOracle: String = {
    val stages = (1 to InterClip.length).map { k =>
      val e1 = InterClip(k - 1)
      val e2 = InterClip(k % InterClip.length)
      val ex = e2._1 - e1._1
      val ey = e2._2 - e1._2
      s"""e$k AS (SELECT feature_id, seq, x, y,
         |    coalesce(lead(x) OVER pw, first_value(x) OVER pw) AS wx,
         |    coalesce(lead(y) OVER pw, first_value(y) OVER pw) AS wy
         |  FROM r${k - 1} WINDOW pw AS (PARTITION BY feature_id ORDER BY seq)),
         |c$k AS (SELECT feature_id, seq, x, y, wx, wy,
         |    ($ex * (y - ${e1._2}) - $ey * (x - ${e1._1})) AS cv,
         |    ($ex * (wy - ${e1._2}) - $ey * (wx - ${e1._1})) AS cw
         |  FROM e$k),
         |s$k AS (
         |  SELECT feature_id, seq, 0 AS ord,
         |    x + (cv / (cv - cw)) * (wx - x) AS nx,
         |    y + (cv / (cv - cw)) * (wy - y) AS ny
         |  FROM c$k WHERE (cv >= 0) <> (cw >= 0)
         |  UNION ALL
         |  SELECT feature_id, seq, 1 AS ord, wx AS nx, wy AS ny FROM c$k WHERE cw >= 0),
         |r$k AS (SELECT feature_id,
         |    row_number() OVER (PARTITION BY feature_id ORDER BY seq, ord) - 1 AS seq,
         |    nx AS x, ny AS y
         |  FROM s$k)""".stripMargin
    }.mkString(",\n")
    val last = InterClip.length
    s"""WITH t AS (SELECT CAST(event_id AS VARCHAR) AS feature_id,
       |    2*CAST(user_id % 100 AS DOUBLE) AS cx, value % 200.0 AS cy FROM events),
       |r0 AS (SELECT feature_id, seq,
       |    CASE seq WHEN 0 THEN cx + $ClipR WHEN 1 THEN cx WHEN 2 THEN cx - $ClipR ELSE cx END AS x,
       |    CASE seq WHEN 0 THEN cy WHEN 1 THEN cy + $ClipR WHEN 2 THEN cy ELSE cy - $ClipR END AS y
       |  FROM t, (SELECT unnest(range(0, 4)) AS seq)),
       |$stages,
       |da AS (SELECT feature_id,
       |    CAST(SUM(CAST(floor((x * wy - wx * y) * 1000000.0) AS BIGINT)) AS BIGINT) AS a2a
       |  FROM e1 GROUP BY feature_id),
       |fe AS (SELECT feature_id, x, y,
       |    coalesce(lead(x) OVER pw, first_value(x) OVER pw) AS wx,
       |    coalesce(lead(y) OVER pw, first_value(y) OVER pw) AS wy
       |  FROM r$last WINDOW pw AS (PARTITION BY feature_id ORDER BY seq)),
       |ia AS (SELECT feature_id, CAST(COUNT(*) AS BIGINT) AS n_vtx,
       |    CAST(SUM(CAST(floor((x * wy - wx * y) * 1000000.0) AS BIGINT)) AS BIGINT) AS a2i
       |  FROM fe GROUP BY feature_id)
       |SELECT t.feature_id, COALESCE(ia.n_vtx, 0) AS n_vtx,
       |  COALESCE(ia.a2i, 0) AS inter2_e6,
       |  da.a2a + $interClipB2 - COALESCE(ia.a2i, 0) AS union2_e6
       |FROM t JOIN da USING (feature_id) LEFT JOIN ia USING (feature_id)
       |ORDER BY feature_id""".stripMargin
  }
  private val a11z = QuerySpec(
    "a11z_intersection",
    "Constructive geometry: convex-convex intersection (general Sutherland-Hodgman against a fixed convex pentagon) of the per-event diamond, with inclusion-exclusion union area — vertex count plus quantized doubled-shoelace intersection AND union areas; oracle unrolls the 5 half-plane passes with the verbatim cross/crossing IEEE chains and LEFT JOINs the empty-intersection arm.",
    Some(a11zOracle),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          (lit(2.0) * ($"user_id" % 100).cast(DoubleType)).as("cx"),
          ($"value" % 200.0).as("cy"))
        .select($"feature_id", interUdf($"cx", $"cy").as("st"))
        .select($"feature_id", $"st._1".as("n_vtx"), $"st._2".as("inter2_e6"),
          $"st._3".as("union2_e6"))
        .orderBy($"feature_id")
    }
  )

  // ---------------------------------------------------------------- A11w
  /** Constructive geometry #4 — the CONCAVE clip (VERDICT r11 #1): a
    * per-event comb polygon (3–5 rectangular teeth on a spine, a
    * genuinely reflex subject) clipped by [[Wkb.clipPolygonRectWA]]
    * (Weiler–Atherton) against a per-event window whose bottom edge cuts
    * ABOVE the spine — so the intersection is DISCONNECTED and the piece
    * list, not a welded ring, is the right answer. Output per feature:
    * piece count, total vertex count, summed per-term-quantized doubled
    * shoelace area, and the quantized x-envelope over all pieces.
    *
    * Oracle discipline — closed form, not replay: the fixture is built so
    * every W-A output coordinate is an EXACT engine-side value (tooth
    * walls are vertical ⇒ bottom-cut crossings keep the wall's x and pin
    * y = wy0; tooth tops are horizontal ⇒ side-cut crossings keep the
    * top's y and pin x = wx0/wx1 — the [[Wkb.clipPolygonRect]] pinned
    * chains), so each piece is the rectangle
    * [max(L_i,wx0), min(R_i,wx1)] × [wy0, T] and the oracle enumerates
    * the overlapping teeth directly — an ALGORITHM-INDEPENDENT check of
    * the traversal (the a11n_hull precedent), stronger than replaying the
    * walk. The quantized shoelace is summed per TERM (floor before add),
    * and a cyclic rotation of a ring preserves its directed-edge term
    * SET, so the oracle's fixed corner order matches any traversal start.
    * All comparisons replay absolute IEEE adds (cx + c on both sides —
    * never algebraically simplified, so the float chains agree).
    * Non-rectangular pieces (corner wraps, serpentines, U-shapes, CW
    * input, degeneracy throws) are pinned by the WkbSpec planted battery.
    */
  private val combClipUdf: UserDefinedFunction = udf {
    (cx: Double, cy: Double, kt: Int, m: Double) =>
      val pts = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      pts += ((cx, cy))
      pts += ((cx + (24 * (kt - 1) + 14), cy))
      var i = kt - 1
      while (i >= 0) {
        pts += ((cx + (24 * i + 14), cy + 120))
        pts += ((cx + 24 * i, cy + 120))
        if (i > 0) {
          pts += ((cx + 24 * i, cy + 20))
          pts += ((cx + (24 * (i - 1) + 14), cy + 20))
        }
        i -= 1
      }
      val comb = Wkb.polygon(Seq(pts.toIndexedSeq :+ pts.head))
      val pieces = Wkb.clipPolygonRectWA(comb,
        cx + 7.013, cy + 50.0, cx + (55.017 + m), cy + 500.0)
      var nv = 0
      var a2 = 0L
      var mnx = Long.MaxValue
      var mxx = Long.MinValue
      pieces.foreach { pw =>
        val ring = Wkb.outerRing(pw).dropRight(1)
        nv += ring.length
        var j = 0
        while (j < ring.length) {
          val v = ring(j)
          val w = ring((j + 1) % ring.length)
          a2 += math.floor((v._1 * w._2 - w._1 * v._2) * 1000000.0).toLong
          val fx = math.floor(v._1 * 1000000.0).toLong
          if (fx < mnx) mnx = fx
          if (fx > mxx) mxx = fx
          j += 1
        }
      }
      (pieces.length, nv, a2, mnx, mxx)
  }
  private def a11wOracle: String =
    s"""WITH t AS (SELECT CAST(event_id AS VARCHAR) AS feature_id,
       |    2*CAST(user_id % 100 AS DOUBLE) AS cx, value % 200.0 AS cy,
       |    3 + CAST(event_id % 3 AS INTEGER) AS k,
       |    CAST(event_id % 40 AS DOUBLE) AS m FROM events),
       |w AS (SELECT feature_id, cx, cy, k,
       |    cx + 7.013 AS wx0, cx + (55.017 + m) AS wx1,
       |    cy + 50.0 AS wy0, cy + 120.0 AS tt FROM t),
       |teeth AS (SELECT feature_id, wx0, wx1, wy0, tt,
       |    cx + 24*i AS lx, cx + (24*i + 14) AS rx
       |  FROM w, (SELECT unnest(range(0, 5)) AS i) ix(i) WHERE i < k),
       |pieces AS (SELECT feature_id,
       |    GREATEST(lx, wx0) AS xa, LEAST(rx, wx1) AS xb, wy0, tt
       |  FROM teeth WHERE rx > wx0 AND lx < wx1),
       |terms AS (SELECT feature_id, xa, xb,
       |    CAST(floor((xa*wy0 - xb*wy0) * 1000000.0) AS BIGINT)
       |  + CAST(floor((xb*tt - xb*wy0) * 1000000.0) AS BIGINT)
       |  + CAST(floor((xb*tt - xa*tt) * 1000000.0) AS BIGINT)
       |  + CAST(floor((xa*wy0 - xa*tt) * 1000000.0) AS BIGINT) AS a2
       |  FROM pieces)
       |SELECT feature_id, CAST(COUNT(*) AS INTEGER) AS n_pieces,
       |  CAST(4 * COUNT(*) AS INTEGER) AS n_vtx,
       |  CAST(SUM(a2) AS BIGINT) AS area2_e6,
       |  MIN(CAST(floor(xa * 1000000.0) AS BIGINT)) AS minx_e6,
       |  MAX(CAST(floor(xb * 1000000.0) AS BIGINT)) AS maxx_e6
       |FROM terms GROUP BY feature_id ORDER BY feature_id""".stripMargin
  private val a11xx = QuerySpec(
    "a11xx_clip_concave",
    "Constructive geometry, concave: Weiler-Atherton clip of a per-event 3-5-tooth comb polygon against a window cutting above the spine — piece count, total vertices, per-term-quantized shoelace area, quantized x-envelope; oracle enumerates the overlapping-teeth rectangles in closed form (algorithm-independent).",
    Some(a11wOracle),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          (lit(2.0) * ($"user_id" % 100).cast(DoubleType)).as("cx"),
          ($"value" % 200.0).as("cy"),
          (lit(3) + ($"event_id" % 3)).cast(IntegerType).as("k"),
          ($"event_id" % 40).cast(DoubleType).as("m"))
        .select($"feature_id", combClipUdf($"cx", $"cy", $"k", $"m").as("st"))
        .select($"feature_id", $"st._1".as("n_pieces"), $"st._2".as("n_vtx"),
          $"st._3".as("area2_e6"), $"st._4".as("minx_e6"), $"st._5".as("maxx_e6"))
        .orderBy($"feature_id")
    }
  )

  /** Constructive geometry #5 — the GENERAL overlay (VERDICT r16 #3): a
    * per-event vertical-tooth comb INTERSECTED with a per-event
    * horizontal-row comb via [[Wkb.intersectPolygons]] — concave ∩
    * concave, the `ST_Intersection(poly, poly)` case neither the rect
    * window nor the convex clip covers. The row comb's spine sits left of
    * the tooth comb and its rows thread BETWEEN the teeth's y-range, so
    * the intersection is the full teeth × rows grid of disconnected
    * rectangles (3–5 × 2–4 pieces per event).
    *
    * Oracle discipline — closed form, not replay (the a11xx pattern): the
    * fixture makes every Greiner–Hormann crossing coordinate EXACT. All
    * inputs are integers; each tooth wall is a single edge of length
    * exactly 128 = 2⁷ and each row edge has length exactly 192, so the
    * crossing parameter t = (192·Δy)/(128·192) is the correctly-rounded
    * quotient of two exact products whose true ratio Δy/128 is
    * representable (power-of-two divisor) — t is exact, and the emitted
    * coordinate (wallX, wallY + t·128) = (wallX, rowY) lands on integers.
    * The oracle therefore enumerates the tooth×row rectangles directly —
    * algorithm-independent — and the per-TERM-quantized doubled shoelace
    * matches because a cyclic rotation of a ring preserves its
    * directed-edge term set. Non-rectilinear operands, convex-agreement,
    * containment arms, and the degeneracy refusals are pinned by the
    * WkbSpec planted battery.
    */
  /** a11ax/a11ay/a11az's subject: vertical-tooth comb; every tooth wall
    * one edge, spans [cy+8, cy+136] (length 128 = 2⁷, the exactness
    * anchor).
    */
  private def toothCombWkb(cx: Double, cy: Double, ka: Int): Array[Byte] = {
    val a = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    a += ((cx, cy))
    a += ((cx + (24 * (ka - 1) + 14), cy))
    a += ((cx + (24 * (ka - 1) + 14), cy + 8))
    var i = ka - 1
    while (i >= 0) {
      a += ((cx + (24 * i + 14), cy + 136))
      a += ((cx + 24 * i, cy + 136))
      a += ((cx + 24 * i, cy + 8))
      if (i > 0) a += ((cx + (24 * (i - 1) + 14), cy + 8))
      i -= 1
    }
    Wkb.polygon(Seq(a.toIndexedSeq :+ a.head))
  }

  /** a11ax/a11ay/a11az's clip: horizontal-row comb, spine left of the
    * subject; rows span [cx-32, cx+160] (length 192), threading between
    * the teeth's y-range.
    */
  private def rowCombWkb(cx: Double, cy: Double, kb: Int): Array[Byte] = {
    val b = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val bx0 = cx - 40; val bx1 = cx - 32; val ex1 = cx + 160
    val by1 = cy + (16 + 20 * (kb - 1) + 8)
    b += ((bx0, cy + 14))
    b += ((bx1, cy + 14))
    var j = 0
    while (j < kb) {
      val ry = cy + (16 + 20 * j)
      b += ((bx1, ry))
      b += ((ex1, ry))
      b += ((ex1, ry + 6))
      b += ((bx1, ry + 6))
      j += 1
    }
    b += ((bx1, by1))
    b += ((bx0, by1))
    Wkb.polygon(Seq(b.toIndexedSeq :+ b.head))
  }

  private val polyIntersectUdf: UserDefinedFunction = udf {
    (cx: Double, cy: Double, ka: Int, kb: Int) =>
      val combA = toothCombWkb(cx, cy, ka)
      val combB = rowCombWkb(cx, cy, kb)
      val pieces = Wkb.intersectPolygons(combA, combB)
      var nv = 0
      var a2 = 0L
      var mnx = Long.MaxValue
      var mxy = Long.MinValue
      pieces.foreach { pw =>
        val ring = Wkb.outerRing(pw).dropRight(1)
        nv += ring.length
        var r = 0
        while (r < ring.length) {
          val v = ring(r)
          val w = ring((r + 1) % ring.length)
          a2 += math.floor((v._1 * w._2 - w._1 * v._2) * 1000000.0).toLong
          val fx = math.floor(v._1 * 1000000.0).toLong
          val fy = math.floor(v._2 * 1000000.0).toLong
          if (fx < mnx) mnx = fx
          if (fy > mxy) mxy = fy
          r += 1
        }
      }
      (pieces.length, nv, a2, mnx, mxy)
  }
  private def a11axOracle: String =
    s"""WITH t AS (SELECT CAST(event_id AS VARCHAR) AS feature_id,
       |    2*CAST(user_id % 100 AS DOUBLE) AS cx,
       |    floor(value % 200.0) AS cy,
       |    3 + CAST(event_id % 3 AS INTEGER) AS ka,
       |    2 + CAST(user_id % 3 AS INTEGER) AS kb FROM events),
       |pieces AS (SELECT feature_id,
       |    cx + 24*i AS xa, cx + (24*i + 14) AS xb,
       |    cy + (16 + 20*j) AS ya, cy + (16 + 20*j) + 6 AS yb
       |  FROM t, (SELECT unnest(range(0, 5)) AS i) ix(i),
       |       (SELECT unnest(range(0, 4)) AS j) jx(j)
       |  WHERE i < ka AND j < kb),
       |terms AS (SELECT feature_id, xa, xb, ya, yb,
       |    CAST(floor((xb*yb - xb*ya) * 1000000.0) AS BIGINT)
       |  + CAST(floor((xb*yb - xa*yb) * 1000000.0) AS BIGINT)
       |  + CAST(floor((xa*ya - xa*yb) * 1000000.0) AS BIGINT)
       |  + CAST(floor((xa*ya - xb*ya) * 1000000.0) AS BIGINT) AS a2
       |  FROM pieces)
       |SELECT feature_id, CAST(COUNT(*) AS INTEGER) AS n_pieces,
       |  CAST(4 * COUNT(*) AS INTEGER) AS n_vtx,
       |  CAST(SUM(a2) AS BIGINT) AS area2_e6,
       |  MIN(CAST(floor(xa * 1000000.0) AS BIGINT)) AS minx_e6,
       |  MAX(CAST(floor(yb * 1000000.0) AS BIGINT)) AS maxy_e6
       |FROM terms GROUP BY feature_id ORDER BY feature_id""".stripMargin
  private val a11ax = QuerySpec(
    "a11ax_poly_intersect",
    "Constructive geometry, general overlay: Greiner-Hormann intersection of two per-event CONCAVE polygons (vertical-tooth comb x horizontal-row comb) — the ST_Intersection(poly, poly) case with arbitrary reflex operands; piece count, total vertices, per-term-quantized doubled shoelace area, quantized envelope. Oracle enumerates the teeth-x-rows rectangle grid in closed form (algorithm-independent); the fixture pins every crossing to exact integers via power-of-two edge spans.",
    Some(a11axOracle),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          (lit(2.0) * ($"user_id" % 100).cast(DoubleType)).as("cx"),
          floor($"value" % 200.0).cast(DoubleType).as("cy"),
          (lit(3) + ($"event_id" % 3)).cast(IntegerType).as("ka"),
          (lit(2) + ($"user_id" % 3)).cast(IntegerType).as("kb"))
        .select($"feature_id", polyIntersectUdf($"cx", $"cy", $"ka", $"kb").as("st"))
        .select($"feature_id", $"st._1".as("n_pieces"), $"st._2".as("n_vtx"),
          $"st._3".as("area2_e6"), $"st._4".as("minx_e6"), $"st._5".as("maxy_e6"))
        .orderBy($"feature_id")
    }
  )

  /** Constructive geometry #6 — the UNION overlay: the same per-event
    * concave comb pair as a11ax, but [[Wkb.unionPolygons]]: the
    * interlocking teeth and rows trap EMPTY CELLS, so the union is one
    * polygon whose ring census is closed-form — 1 outer + (ka−1)·kb
    * holes between adjacent teeth (one per row band plus the
    * spine-bounded bottom cell) + (kb−1) holes between the two spines
    * (one per adjacent-row gap). Area by inclusion–exclusion:
    * area(A) + area(B) − area(A∩B), every term an exact integer (the
    * a11ax exactness fixture), so the quantized doubled shoelace the
    * engine sums per ring equals the closed form exactly.
    */
  private val polyUnionUdf: UserDefinedFunction = udf {
    (cx: Double, cy: Double, ka: Int, kb: Int) =>
      val u = Wkb.unionPolygons(toothCombWkb(cx, cy, ka), rowCombWkb(cx, cy, kb))
      val nRings = java.nio.ByteBuffer.wrap(u)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(5)
      val bb = Wkb.bbox(u)
      (nRings, math.floor(Wkb.area(u) * 2000000.0).toLong,
        math.floor(bb.xmin * 1000000.0).toLong,
        math.floor(bb.ymax * 1000000.0).toLong)
  }
  private def a11ayOracle: String =
    s"""WITH t AS (SELECT CAST(event_id AS VARCHAR) AS feature_id,
       |    2*CAST(user_id % 100 AS DOUBLE) AS cx,
       |    floor(value % 200.0) AS cy,
       |    3 + CAST(event_id % 3 AS INTEGER) AS ka,
       |    2 + CAST(user_id % 3 AS INTEGER) AS kb FROM events)
       |SELECT feature_id,
       |  CAST(1 + (ka - 1) * kb + (kb - 1) AS INTEGER) AS n_rings,
       |  CAST(2000000 AS BIGINT) * ((1984 * ka - 80) + (1312 * kb - 80) - 84 * ka * kb) AS area2_e6,
       |  CAST(floor((cx - 40) * 1000000.0) AS BIGINT) AS minx_e6,
       |  CAST(floor((cy + 136) * 1000000.0) AS BIGINT) AS maxy_e6
       |FROM t ORDER BY feature_id""".stripMargin
  private val a11ay = QuerySpec(
    "a11ay_poly_union",
    "Boolean overlay, union: Greiner-Hormann UNION of the a11ax concave comb pair — one connected outer ring plus the closed-form census of holes the interlocking teeth/rows/spines trap ((ka-1)*kb + (kb-1)); doubled-shoelace area by inclusion-exclusion, quantized envelope. Same exact-integer fixture, algorithm-independent oracle.",
    Some(a11ayOracle),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          (lit(2.0) * ($"user_id" % 100).cast(DoubleType)).as("cx"),
          floor($"value" % 200.0).cast(DoubleType).as("cy"),
          (lit(3) + ($"event_id" % 3)).cast(IntegerType).as("ka"),
          (lit(2) + ($"user_id" % 3)).cast(IntegerType).as("kb"))
        .select($"feature_id", polyUnionUdf($"cx", $"cy", $"ka", $"kb").as("st"))
        .select($"feature_id", $"st._1".as("n_rings"), $"st._2".as("area2_e6"),
          $"st._3".as("minx_e6"), $"st._4".as("maxy_e6"))
        .orderBy($"feature_id")
    }
  )

  /** Constructive geometry #7 — the DIFFERENCE overlay: comb minus rows
    * via [[Wkb.differencePolygons]]. Each tooth is bitten into kb
    * islands (the segments between/above the row bands) while the bottom
    * segments stay joined through the spine: ka·kb + 1 pieces, area
    * area(A) − area(A∩B), all exact integers.
    */
  private val polyDiffUdf: UserDefinedFunction = udf {
    (cx: Double, cy: Double, ka: Int, kb: Int) =>
      val ps = Wkb.differencePolygons(toothCombWkb(cx, cy, ka), rowCombWkb(cx, cy, kb))
      var area2 = 0L
      var mnx = Long.MaxValue
      var mxy = Long.MinValue
      ps.foreach { p =>
        area2 += math.floor(Wkb.area(p) * 2000000.0).toLong
        val bb = Wkb.bbox(p)
        val fx = math.floor(bb.xmin * 1000000.0).toLong
        val fy = math.floor(bb.ymax * 1000000.0).toLong
        if (fx < mnx) mnx = fx
        if (fy > mxy) mxy = fy
      }
      (ps.length, area2, mnx, mxy)
  }
  private def a11azOracle: String =
    s"""WITH t AS (SELECT CAST(event_id AS VARCHAR) AS feature_id,
       |    2*CAST(user_id % 100 AS DOUBLE) AS cx,
       |    floor(value % 200.0) AS cy,
       |    3 + CAST(event_id % 3 AS INTEGER) AS ka,
       |    2 + CAST(user_id % 3 AS INTEGER) AS kb FROM events)
       |SELECT feature_id,
       |  CAST(ka * kb + 1 AS INTEGER) AS n_pieces,
       |  CAST(2000000 AS BIGINT) * ((1984 * ka - 80) - 84 * ka * kb) AS area2_e6,
       |  CAST(floor(cx * 1000000.0) AS BIGINT) AS minx_e6,
       |  CAST(floor((cy + 136) * 1000000.0) AS BIGINT) AS maxy_e6
       |FROM t ORDER BY feature_id""".stripMargin
  private val a11az = QuerySpec(
    "a11az_poly_diff",
    "Boolean overlay, difference: comb MINUS rows via the reversed-clip Greiner-Hormann walk — ka*kb disconnected islands (tooth segments between/above the row bands) plus the spine-connected body, closed-form; area(A) - area(A-and-B), quantized envelope. Same exact-integer fixture, algorithm-independent oracle.",
    Some(a11azOracle),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          (lit(2.0) * ($"user_id" % 100).cast(DoubleType)).as("cx"),
          floor($"value" % 200.0).cast(DoubleType).as("cy"),
          (lit(3) + ($"event_id" % 3)).cast(IntegerType).as("ka"),
          (lit(2) + ($"user_id" % 3)).cast(IntegerType).as("kb"))
        .select($"feature_id", polyDiffUdf($"cx", $"cy", $"ka", $"kb").as("st"))
        .select($"feature_id", $"st._1".as("n_pieces"), $"st._2".as("area2_e6"),
          $"st._3".as("minx_e6"), $"st._4".as("maxy_e6"))
        .orderBy($"feature_id")
    }
  )

  /** The Z family's driver-gated query (r17 carried the third ordinate
    * across every A1 format; this pins the 3D MEASURE the ordinate
    * exists for): a per-event XYZ polyline built through the ISO WKB
    * writers and measured by [[Wkb.length3d]] (ST_3DLength). Segments
    * are (3, 4, z1) and (5, 12, z2) with integer z from event fields, so
    * every squared term is exact and both engines' correctly-rounded
    * sqrt/sum chains agree bit-for-bit (the a11i distance discipline).
    */
  private val len3dUdf: UserDefinedFunction = udf {
    (cx: Double, cy: Double, z1: Double, z2: Double) =>
      val line = Wkb.lineStringIso(Seq(
        IndexedSeq(cx, cy, 0.0),
        IndexedSeq(cx + 3, cy + 4, z1),
        IndexedSeq(cx + 8, cy + 16, z1 + z2)), hasZ = true, hasM = false)
      math.floor(Wkb.length3d(line) * 1000000.0).toLong
  }
  private val a11ba = QuerySpec(
    "a11ba_3d_length",
    "3D cartesian length (ST_3DLength): per-event XYZ polyline through the ISO Z-WKB writers, segments (3,4,z1) and (5,12,z2) with integer z — exact squared terms, correctly-rounded sqrt both engines, quantized sum; the driver-gated pin for the r17 carry-the-ordinate family.",
    Some("""SELECT CAST(event_id AS VARCHAR) AS feature_id,
           CAST(floor((sqrt(25.0 + z1*z1) + sqrt(169.0 + z2*z2)) * 1000000.0) AS BIGINT) AS len3d_e6
           FROM (SELECT event_id, CAST(event_id % 50 AS DOUBLE) AS z1,
                 CAST(user_id % 30 AS DOUBLE) AS z2 FROM events)
           ORDER BY feature_id"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          (lit(2.0) * ($"user_id" % 100).cast(DoubleType)).as("cx"),
          floor($"value" % 200.0).cast(DoubleType).as("cy"),
          ($"event_id" % 50).cast(DoubleType).as("z1"),
          ($"user_id" % 30).cast(DoubleType).as("z2"))
        .select($"feature_id", len3dUdf($"cx", $"cy", $"z1", $"z2").as("len3d_e6"))
        .orderBy($"feature_id")
    }
  )

  val specs: Seq[QuerySpec] =
    Seq(a1, a1b, a1c, a1d, a1e, a1f, a1f2, a1f3, a1g, a1h, a1i, a1j, a1k, a1l, a1m, a1n, a1o, a1p, a1q, a6, a7, a11, a11b, a11c, a11e, a11g, a11h, a11i, a11k, a11l, a11ac, a11p, a11xx, a11ax, a11ay, a11az, a11ba, a11x, a11y, a11z)
}
