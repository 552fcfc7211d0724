package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.functions.Wkb
import Shapefile.{PointS, PolyLineS, PolygonS}

class ShapefileSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.session

  test("writeShp → parseShp roundtrips points exactly (IEEE doubles)") {
    val pts = Seq(PointS(11.5, 48.1), PointS(-180.0, -90.0), PointS(1e-300, 2.5))
    val parsed = Shapefile.parseShp(Shapefile.writeShp(pts))
    assert(parsed.map(_._1) == Seq(1, 2, 3), "record numbers are 1-based and ordered")
    parsed.zip(pts).foreach { case ((_, wkb), PointS(x, y)) =>
      assert(Wkb.geomType(wkb) == "POINT")
      assert(Wkb.bbox(wkb) == Wkb.BBox(x, y, x, y))
    }
  }

  test("writeShp → parseShp: polylines (single + multi-part) and polygon with hole") {
    val single = PolyLineS(Seq(Seq((0.0, 0.0), (3.0, 4.0))))
    val multi = PolyLineS(Seq(Seq((0.0, 0.0), (1.0, 1.0)), Seq((2.0, 2.0), (3.25, 3.0))))
    val lines = Shapefile.parseShp(Shapefile.writeShp(Seq(single, multi)))
    assert(Wkb.geomType(lines(0)._2) == "LINESTRING")
    assert(Wkb.geomType(lines(1)._2) == "MULTILINESTRING")
    assert(Wkb.bbox(lines(1)._2) == Wkb.BBox(0, 0, 3.25, 3))

    val poly = PolygonS(Seq(
      Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)),
      Seq((1.0, 1.0), (1.0, 2.0), (2.0, 2.0), (2.0, 1.0), (1.0, 1.0))))
    val Seq((_, pw)) = Shapefile.parseShp(Shapefile.writeShp(Seq(poly)))
    assert(Wkb.geomType(pw) == "POLYGON")
    assert(Wkb.area(pw) == 16.0 - 1.0, "hole ring subtracts from the area")
  }

  test("Z/M shape types (11/13/15/21/23): ordinates carried into ISO WKB, NoData M dropped") {
    import Shapefile.{PointZS, PolyLineZS, PolygonZS, PointMS, PolyLineMS}
    def typeWord(wkb: Array[Byte]): Int =
      java.nio.ByteBuffer.wrap(wkb).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(1)
    def doublesFrom(wkb: Array[Byte], at: Int, n: Int): Seq[Double] = {
      val bb = java.nio.ByteBuffer.wrap(wkb).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).map(i => bb.getDouble(at + 8 * i))
    }
    // PointZ with and without the optional M block; NoData M drops the dim
    val zs = Seq(PointZS(1.5, 2.5, 100.25), PointZS(3.0, 4.0, 7.0, Some(42.5)),
      PointZS(5.0, 6.0, 8.0, Some(-1e40)))
    val pz = Shapefile.parseShp(Shapefile.writeShp(zs))
    assert(pz.map(p => typeWord(p._2)) == Seq(1001, 3001, 1001), pz.map(p => typeWord(p._2)))
    assert(doublesFrom(pz(0)._2, 5, 3) == Seq(1.5, 2.5, 100.25))
    assert(doublesFrom(pz(1)._2, 5, 4) == Seq(3.0, 4.0, 7.0, 42.5))
    assert(doublesFrom(pz(2)._2, 5, 3) == Seq(5.0, 6.0, 8.0))
    assert(Wkb.bbox(pz(1)._2) == Wkb.BBox(3.0, 4.0, 3.0, 4.0), "XY ops skip Z/M dims")
    // PointM; an all-NoData measure degrades to plain 2D
    val pm = Shapefile.parseShp(Shapefile.writeShp(
      Seq(PointMS(1.0, 2.0, 9.75), PointMS(3.0, 4.0, -2e38))))
    assert(typeWord(pm(0)._2) == 2001 && doublesFrom(pm(0)._2, 5, 3) == Seq(1.0, 2.0, 9.75))
    assert(typeWord(pm(1)._2) == 1 && doublesFrom(pm(1)._2, 5, 2) == Seq(3.0, 4.0))
    // PolyLineZ multi-part → ISO MultiLineString Z with per-member Z rows
    val lz = PolyLineZS(Seq(
      Seq((0.0, 0.0, 10.0), (1.0, 1.0, 11.0)),
      Seq((2.0, 2.0, 12.0), (3.0, 3.0, 13.0), (4.0, 4.0, 14.0))))
    val Seq((_, lw)) = Shapefile.parseShp(Shapefile.writeShp(Seq(lz)))
    assert(typeWord(lw) == 1005, typeWord(lw))
    assert(Wkb.bbox(lw) == Wkb.BBox(0.0, 0.0, 4.0, 4.0))
    // first member LineString Z: outer header(9) + member header(9), then
    // rows of 3 doubles
    assert(typeWord(lw.drop(9)) == 1002)
    assert(doublesFrom(lw, 9 + 9, 6) == Seq(0.0, 0.0, 10.0, 1.0, 1.0, 11.0))
    // PolygonZ: ring Z ordinates carried, XY area unaffected
    val gz = PolygonZS(Seq(Seq((0.0, 0.0, 5.0), (4.0, 0.0, 5.0), (4.0, 4.0, 6.0),
      (0.0, 4.0, 6.0), (0.0, 0.0, 5.0))))
    val Seq((_, gw)) = Shapefile.parseShp(Shapefile.writeShp(Seq(gz)))
    assert(typeWord(gw) == 1003 && Wkb.area(gw) == 16.0)
    assert(doublesFrom(gw, 9 + 4, 3) == Seq(0.0, 0.0, 5.0))
    // PolyLineM: measures carried as XYM
    val lm = PolyLineMS(Seq(Seq((0.0, 0.0, 0.1), (2.0, 0.0, 2.1))))
    val Seq((_, mw)) = Shapefile.parseShp(Shapefile.writeShp(Seq(lm)))
    assert(typeWord(mw) == 2002, typeWord(mw))
    assert(doublesFrom(mw, 9, 6) == Seq(0.0, 0.0, 0.1, 2.0, 0.0, 2.1))
  }

  test("PolyLineM with the spec-optional M block OMITTED parses as plain 2D (no overrun)") {
    // the M block is optional for measured multipart types: a wild file
    // can write a type-23 record whose content ends at the XY points.
    // Craft one by retyping a plain PolyLine record — identical layout.
    val bytes = Shapefile.writeShp(Seq(PolyLineS(Seq(Seq((0.0, 0.0), (2.0, 1.0))))))
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(32, 23)      // header shape type
    buf.putInt(100 + 8, 23) // record 1 content type (after 8-byte BE header)
    val Seq((_, wkb)) = Shapefile.parseShp(bytes)
    val tw = java.nio.ByteBuffer.wrap(wkb).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(1)
    assert(tw == 2, s"expected plain LINESTRING (2), got $tw")
    assert(Wkb.bbox(wkb) == Wkb.BBox(0.0, 0.0, 2.0, 1.0))
  }

  test("writeDbf → parseDbf roundtrips trimmed char attributes; deleted rows skipped") {
    val fields = Seq(("ID", 8), ("NAME", 12))
    val rows = Seq(Seq("7", "munich"), Seq("8", "a b c"), Seq("9", ""))
    val bytes = Shapefile.writeDbf(fields, rows)
    val (names, got) = Shapefile.parseDbf(bytes)
    assert(names == Seq("ID", "NAME"))
    assert(got == rows)
    // flip row 1's deletion flag ('*') in place: header 32+32*2+1 bytes
    val headerSize = 32 + 32 * 2 + 1
    bytes(headerSize + (1 + 8 + 12)) = '*'
    assert(Shapefile.parseDbf(bytes)._2 == Seq(rows(0), rows(2)))
  }

  test("read: .shp/.dbf pair becomes canonical feature envelopes") {
    val dir = Files.createTempDirectory("shp").toString
    val shapes = Seq(PointS(11.5, 48.1), PointS(-3.5, 40.4))
    Files.write(Paths.get(s"$dir/cities.shp"), Shapefile.writeShp(shapes))
    Files.write(Paths.get(s"$dir/cities.dbf"), Shapefile.writeDbf(
      Seq(("ID", 8), ("NAME", 12)), Seq(Seq("m1", "munich"), Seq("md1", "madrid"))))
    val rows = Shapefile.read(spark, s"$dir/cities.shp", "poi", "ID", 1000000L).collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("layer")).toSet == Set("poi"))
    val m = rows.find(_.getAs[String]("feature_id") == "m1").get
    assert(Wkb.bbox(m.getAs[Array[Byte]]("geom_wkb")) == Wkb.BBox(11.5, 48.1, 11.5, 48.1))
    assert(m.getAs[Map[String, String]]("props") == Map("ID" -> "m1", "NAME" -> "munich"))
    assert(m.getAs[java.sql.Timestamp]("event_ts").getTime == 1000L)
    assert(m.getAs[String]("source").endsWith("cities.shp"))
    assert(m.getAs[Int]("fmt_version") == 1)
  }
}
