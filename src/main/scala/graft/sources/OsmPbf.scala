package graft.sources

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** OSM PBF source subset (VERDICT r13 directive #5 / r13 missing #6):
  * the biggest public vector corpus ships as OpenStreetMap PBF — a
  * protobuf container whose wire primitive is exactly the varint/zigzag
  * codec `c6v_varint` pinned. This module reads (and, for the fixture,
  * writes) the DenseNodes subset of the published format
  * (fileformat.proto / osmformat.proto, both public ODbL/CC-BY specs):
  *
  *   file := repeat( int32-BE len, BlobHeader[len], Blob[datasize] )
  *   BlobHeader := type:string(1) indexdata:bytes(2) datasize:int32(3)
  *   Blob       := raw:bytes(1) raw_size:int32(2) zlib_data:bytes(3)
  *   OSMHeader  := required_features:repeated string(4) ...
  *   OSMData    := PrimitiveBlock: stringtable(1) group(2)
  *                 granularity(17)=100 lat_offset(19) lon_offset(20)
  *   DenseNodes := id(1) packed sint64 DELTA, lat(8)/lon(9) packed
  *                 sint64 DELTA, keys_vals(10) packed int32
  *                 (k,v string-table index pairs, 0 terminates a node)
  *
  * Coordinates are integer NANODEGREES (lat_offset + granularity·units)
  * — exact integers end-to-end, which is what makes the scan
  * oracle-checkable with no float tolerance. zlib blobs are inflated
  * with the JDK's Inflater (no new dependency); unknown required
  * features, unknown compression, and the non-node element types
  * outside this subset (ways/relations) are rejected LOUDLY — a
  * silently-partial scan of a planet file is worse than a loud one.
  *
  * Scale posture: one task per .osm.pbf file through Spark's
  * binaryFile source (the planet ships pre-sharded into many files /
  * extracts; per-file parallelism is the standard ingest shape). The
  * per-file walk is one streaming pass; blob-level splitting inside a
  * single huge file is the `readSplit*` family (one task per OSMData
  * blob — the header-only index pass makes it O(#blobs) driver seeks).
  */
object OsmPbf {

  // ------------------------------------------------------------ varints
  private def putVarint(b: ArrayBuffer[Byte], v0: Long): Unit = {
    var v = v0
    var more = true
    while (more) {
      val x = (v & 0x7fL).toInt
      v >>>= 7
      if (v != 0L) b += (x | 0x80).toByte else { b += x.toByte; more = false }
    }
  }
  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  private def unzigzag(u: Long): Long = (u >>> 1) ^ -(u & 1L)

  private final class Walker(val a: Array[Byte], var off: Int, val end: Int) {
    def varint(): Long = {
      var shift = 0; var acc = 0L; var more = true
      while (more) {
        require(off < end, "osmpbf: truncated varint")
        val b = a(off) & 0xff
        acc |= (b & 0x7fL) << shift
        shift += 7
        more = (b & 0x80) != 0
        off += 1
        require(shift <= 70, "osmpbf: varint too long")
      }
      acc
    }
    def bytes(n: Int): Array[Byte] = {
      require(off + n <= end, s"osmpbf: truncated field ($n bytes past end)")
      val r = java.util.Arrays.copyOfRange(a, off, off + n)
      off += n
      r
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => off += 8
      case 2 => off += varint().toInt
      case 5 => off += 4
      case w => throw new IllegalArgumentException(s"osmpbf: wire type $w unsupported")
    }
    def hasMore: Boolean = off < end
  }

  private def lenDelim(b: ArrayBuffer[Byte], field: Int, payload: Array[Byte]): Unit = {
    putVarint(b, (field.toLong << 3) | 2L)
    putVarint(b, payload.length.toLong)
    b ++= payload
  }
  private def varintField(b: ArrayBuffer[Byte], field: Int, v: Long): Unit = {
    putVarint(b, (field.toLong << 3) | 0L)
    putVarint(b, v)
  }
  private def packed(b: ArrayBuffer[Byte], field: Int, vs: Seq[Long]): Unit = {
    val p = new ArrayBuffer[Byte]()
    vs.foreach(putVarint(p, _))
    lenDelim(b, field, p.toArray)
  }

  // ------------------------------------------------------------- writer
  /** One decoded node: id, integer nanodegrees, tag map. */
  final case class Node(id: Long, lonNano: Long, latNano: Long, tags: Map[String, String])

  /** One decoded way: id, ordered node refs (the delta-decoded sint64
    * chain), tag map. Geometry is NOT materialized here — assembly is a
    * distributed join against the node store ([[wayFeatures]]), the only
    * shape that works when the node table is planet-sized.
    */
  final case class Way(id: Long, refs: Seq[Long], tags: Map[String, String])

  /** One decoded relation: parallel member arrays (delta-decoded memids,
    * role strings from the table, type 0=node/1=way/2=relation) + tags —
    * the raw osmformat.proto shape; geometry assembly is a separate
    * distributed step ([[assembleMultipolygons]]).
    */
  final case class Relation(id: Long, memberIds: Seq[Long],
      memberRoles: Seq[String], memberTypes: Seq[Int], tags: Map[String, String])

  val Granularity = 100L

  /** Serialize nodes (sorted by id by the caller) as a complete .osm.pbf
    * byte stream: OSMHeader blob + the data split across `blobsOf`-sized
    * OSMData blobs (delta chains restart per blob, per spec), even blobs
    * raw and odd blobs zlib-deflated so both compression legs of the
    * Blob message are genuinely exercised. Coordinates must be multiples
    * of [[Granularity]] nanodegrees (the default granularity this writer
    * declares).
    */
  def write(nodes: Seq[Node], blobsOf: Int = 8000): Array[Byte] =
    writeFull(nodes, Seq.empty, Seq.empty, blobsOf)

  def writeAll(nodes: Seq[Node], ways: Seq[Way], blobsOf: Int = 8000): Array[Byte] =
    writeFull(nodes, ways, Seq.empty, blobsOf)

  /** [[write]] plus ways and relations: way/relation blobs follow the
    * node blobs, each serialized per osmformat.proto (`id` plain varint
    * int64, packed uint32 `keys`/`vals` string-table indices; ways carry
    * packed sint64 DELTA `refs`, relations packed `roles_sid` +
    * DELTA `memids` + `types` — all delta chains restart per element).
    * The fixture feed for `a1l_osm_ways` / `a1m_osm_relations`,
    * exercising both compression legs like the node path.
    */
  def writeFull(nodes: Seq[Node], ways: Seq[Way], relations: Seq[Relation],
      blobsOf: Int = 8000): Array[Byte] = {
    val out = new ArrayBuffer[Byte]()
    def frame(kind: String, body: Array[Byte], deflate: Boolean): Unit = {
      val blob = new ArrayBuffer[Byte]()
      varintField(blob, 2, body.length.toLong) // raw_size
      if (deflate) {
        val d = new java.util.zip.Deflater()
        d.setInput(body); d.finish()
        val tmp = new Array[Byte](body.length + 64)
        val zb = new ArrayBuffer[Byte]()
        while (!d.finished()) {
          val n = d.deflate(tmp)
          zb ++= tmp.take(n)
        }
        d.end()
        lenDelim(blob, 3, zb.toArray) // zlib_data
      } else lenDelim(blob, 1, body) // raw
      val header = new ArrayBuffer[Byte]()
      lenDelim(header, 1, kind.getBytes("UTF-8"))
      varintField(header, 3, blob.length.toLong) // datasize
      out ++= ByteBuffer.allocate(4).putInt(header.length).array()
      out ++= header
      out ++= blob
    }
    // OSMHeader: the two required features this subset provides
    val hb = new ArrayBuffer[Byte]()
    lenDelim(hb, 4, "OsmSchema-V0.6".getBytes("UTF-8"))
    lenDelim(hb, 4, "DenseNodes".getBytes("UTF-8"))
    frame("OSMHeader", hb.toArray, deflate = false)

    nodes.grouped(blobsOf).zipWithIndex.foreach { case (chunk, bi) =>
      // string table: index 0 is the empty string by spec
      val strings = ArrayBuffer[String]("")
      val strIdx = scala.collection.mutable.HashMap[String, Int]("" -> 0)
      def intern(s: String): Long = strIdx.getOrElseUpdate(s, { strings += s; strings.length - 1 }).toLong
      val ids = new ArrayBuffer[Long](); val lats = new ArrayBuffer[Long]()
      val lons = new ArrayBuffer[Long](); val kvs = new ArrayBuffer[Long]()
      var pid = 0L; var plat = 0L; var plon = 0L
      chunk.foreach { n =>
        require(n.latNano % Granularity == 0 && n.lonNano % Granularity == 0,
          s"osmpbf: node ${n.id} coords not multiples of $Granularity nanodeg")
        ids += zigzag(n.id - pid); pid = n.id
        lats += zigzag(n.latNano / Granularity - plat); plat = n.latNano / Granularity
        lons += zigzag(n.lonNano / Granularity - plon); plon = n.lonNano / Granularity
        n.tags.toSeq.sortBy(_._1).foreach { case (k, v) => kvs += intern(k); kvs += intern(v) }
        kvs += 0L
      }
      val dense = new ArrayBuffer[Byte]()
      packed(dense, 1, ids.toSeq)
      packed(dense, 8, lats.toSeq)
      packed(dense, 9, lons.toSeq)
      packed(dense, 10, kvs.toSeq)
      val group = new ArrayBuffer[Byte]()
      lenDelim(group, 2, dense.toArray)
      val st = new ArrayBuffer[Byte]()
      strings.foreach(s => lenDelim(st, 1, s.getBytes("UTF-8")))
      val block = new ArrayBuffer[Byte]()
      lenDelim(block, 1, st.toArray)
      lenDelim(block, 2, group.toArray)
      varintField(block, 17, Granularity) // granularity
      varintField(block, 19, 0L) // lat_offset
      varintField(block, 20, 0L) // lon_offset
      frame("OSMData", block.toArray, deflate = bi % 2 == 1)
    }

    ways.grouped(blobsOf).zipWithIndex.foreach { case (chunk, bi) =>
      val strings = ArrayBuffer[String]("")
      val strIdx = scala.collection.mutable.HashMap[String, Int]("" -> 0)
      def intern(s: String): Long = strIdx.getOrElseUpdate(s, { strings += s; strings.length - 1 }).toLong
      val group = new ArrayBuffer[Byte]()
      chunk.foreach { way =>
        val wb = new ArrayBuffer[Byte]()
        varintField(wb, 1, way.id) // int64 id — plain varint per spec
        val keys = new ArrayBuffer[Long](); val vals = new ArrayBuffer[Long]()
        way.tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
          keys += intern(k); vals += intern(v)
        }
        if (keys.nonEmpty) { packed(wb, 2, keys.toSeq); packed(wb, 3, vals.toSeq) }
        var prev = 0L
        packed(wb, 8, way.refs.map { r => val d = zigzag(r - prev); prev = r; d })
        lenDelim(group, 3, wb.toArray) // PrimitiveGroup.ways
      }
      val st = new ArrayBuffer[Byte]()
      strings.foreach(s => lenDelim(st, 1, s.getBytes("UTF-8")))
      val block = new ArrayBuffer[Byte]()
      lenDelim(block, 1, st.toArray)
      lenDelim(block, 2, group.toArray)
      frame("OSMData", block.toArray, deflate = bi % 2 == 0)
    }

    relations.grouped(blobsOf).zipWithIndex.foreach { case (chunk, bi) =>
      val strings = ArrayBuffer[String]("")
      val strIdx = scala.collection.mutable.HashMap[String, Int]("" -> 0)
      def intern(s: String): Long = strIdx.getOrElseUpdate(s, { strings += s; strings.length - 1 }).toLong
      val group = new ArrayBuffer[Byte]()
      chunk.foreach { rel =>
        require(rel.memberIds.length == rel.memberRoles.length &&
          rel.memberIds.length == rel.memberTypes.length,
          s"osmpbf: relation ${rel.id} member arrays disagree")
        val rb = new ArrayBuffer[Byte]()
        varintField(rb, 1, rel.id)
        val keys = new ArrayBuffer[Long](); val vals = new ArrayBuffer[Long]()
        rel.tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
          keys += intern(k); vals += intern(v)
        }
        if (keys.nonEmpty) { packed(rb, 2, keys.toSeq); packed(rb, 3, vals.toSeq) }
        packed(rb, 8, rel.memberRoles.map(intern)) // roles_sid
        var prev = 0L
        packed(rb, 9, rel.memberIds.map { m => val d = zigzag(m - prev); prev = m; d })
        packed(rb, 10, rel.memberTypes.map(_.toLong))
        lenDelim(group, 4, rb.toArray) // PrimitiveGroup.relations
      }
      val st = new ArrayBuffer[Byte]()
      strings.foreach(s => lenDelim(st, 1, s.getBytes("UTF-8")))
      val block = new ArrayBuffer[Byte]()
      lenDelim(block, 1, st.toArray)
      lenDelim(block, 2, group.toArray)
      frame("OSMData", block.toArray, deflate = bi % 2 == 1)
    }
    out.toArray
  }

  // ------------------------------------------------------------- reader
  private def inflate(z: Array[Byte], rawSize: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(z)
    val out = new Array[Byte](rawSize)
    var n = 0
    while (n < rawSize && !inf.finished()) n += inf.inflate(out, n, rawSize - n)
    inf.end()
    require(n == rawSize, s"osmpbf: zlib blob inflated to $n bytes, raw_size said $rawSize")
    out
  }

  /** Parse a BlobHeader at [off, off+hLen): (type, datasize). */
  private def parseBlobHeader(bytes: Array[Byte], off: Int, hLen: Int): (String, Long) = {
    val hw = new Walker(bytes, off, off + hLen)
    var kind: String = null; var dataSize = -1L
    while (hw.hasMore) {
      val tag = hw.varint(); val f = (tag >> 3).toInt; val w = (tag & 7).toInt
      (f, w) match {
        case (1, 2) => kind = new String(hw.bytes(hw.varint().toInt), "UTF-8")
        case (3, 0) => dataSize = hw.varint()
        case _ => hw.skip(w)
      }
    }
    require(kind != null && dataSize >= 0, "osmpbf: BlobHeader missing type/datasize")
    (kind, dataSize)
  }

  /** Decode one Blob message at [off, off+len): raw or inflated body. */
  private def decodeBlob(bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val bw = new Walker(bytes, off, off + len)
    var raw: Array[Byte] = null; var zlib: Array[Byte] = null; var rawSize = -1
    while (bw.hasMore) {
      val tag = bw.varint(); val f = (tag >> 3).toInt; val w = (tag & 7).toInt
      (f, w) match {
        case (1, 2) => raw = bw.bytes(bw.varint().toInt)
        case (2, 0) => rawSize = bw.varint().toInt
        case (3, 2) => zlib = bw.bytes(bw.varint().toInt)
        case (f2, _) if f2 >= 4 && f2 <= 7 =>
          throw new IllegalArgumentException(
            s"osmpbf: blob uses compression field $f2 (lzma/bzip2/lz4/zstd) — only raw/zlib supported")
        case _ => bw.skip(w)
      }
    }
    if (raw != null) raw
    else if (zlib != null) { require(rawSize >= 0, "osmpbf: zlib blob without raw_size"); inflate(zlib, rawSize) }
    else throw new IllegalArgumentException("osmpbf: blob carries neither raw nor zlib_data")
  }

  /** Parse one complete .osm.pbf byte stream to its nodes. */
  def parse(bytes: Array[Byte]): Seq[Node] = {
    val nodes = new ArrayBuffer[Node]()
    var off = 0
    while (off < bytes.length) {
      require(off + 4 <= bytes.length, "osmpbf: truncated frame length")
      val hLen = ByteBuffer.wrap(bytes, off, 4).getInt
      off += 4
      val (kind, dataSize) = parseBlobHeader(bytes, off, hLen)
      off += hLen
      val body = decodeBlob(bytes, off, dataSize.toInt)
      off += dataSize.toInt
      kind match {
        case "OSMHeader" => checkHeader(body)
        case "OSMData" => parseBlock(body, nodes)
        case other => throw new IllegalArgumentException(s"osmpbf: unknown blob type '$other'")
      }
    }
    nodes.toSeq
  }

  /** Per spec a reader MUST refuse a file whose required_features it
    * does not implement.
    */
  private val Supported = Set("OsmSchema-V0.6", "DenseNodes")
  private def checkHeader(body: Array[Byte]): Unit = {
    val w = new Walker(body, 0, body.length)
    while (w.hasMore) {
      val tag = w.varint(); val f = (tag >> 3).toInt; val wt = (tag & 7).toInt
      if (f == 4 && wt == 2) {
        val feat = new String(w.bytes(w.varint().toInt), "UTF-8")
        require(Supported(feat),
          s"osmpbf: file requires unsupported feature '$feat' — refusing (spec mandate)")
      } else w.skip(wt)
    }
  }

  private def parseBlock(body: Array[Byte], out: ArrayBuffer[Node]): Unit =
    parseBlock(body, out, null, null)

  private def parseBlock(body: Array[Byte], out: ArrayBuffer[Node],
      waysOut: ArrayBuffer[Way]): Unit =
    parseBlock(body, out, waysOut, null)

  /** A null `waysOut`/`relsOut` keeps the corresponding subset contract:
    * an element group the caller did not ask for throws loudly (a
    * silently-partial scan is worse than a loud one); a non-null buffer
    * collects it. `lenient = true` switches an unwanted group from THROW
    * to SKIP — for the single-element split readers, where asking for
    * ways IS the statement that node/relation blobs are someone else's
    * (selection, not a partial scan).
    */
  private def parseBlock(body: Array[Byte], out: ArrayBuffer[Node],
      waysOut: ArrayBuffer[Way], relsOut: ArrayBuffer[Relation]): Unit =
    parseBlock(body, out, waysOut, relsOut, lenient = false)

  private def parseBlock(body: Array[Byte], out: ArrayBuffer[Node],
      waysOut: ArrayBuffer[Way], relsOut: ArrayBuffer[Relation],
      lenient: Boolean): Unit = {
    val w = new Walker(body, 0, body.length)
    val strings = new ArrayBuffer[String]()
    val groups = new ArrayBuffer[Array[Byte]]()
    var granularity = 100L; var latOff = 0L; var lonOff = 0L
    while (w.hasMore) {
      val tag = w.varint(); val f = (tag >> 3).toInt; val wt = (tag & 7).toInt
      (f, wt) match {
        case (1, 2) => // stringtable: repeated field-1 len-delimited entries
          val stLen = w.varint().toInt // read length FIRST — it advances off
          val stEnd = w.off + stLen
          while (w.off < stEnd) {
            val t2 = w.varint()
            require((t2 >> 3).toInt == 1 && (t2 & 7) == 2, "osmpbf: stringtable shape")
            strings += new String(w.bytes(w.varint().toInt), "UTF-8")
          }
        case (2, 2) => groups += w.bytes(w.varint().toInt)
        case (17, 0) => granularity = w.varint()
        case (18, 0) => w.varint() // date_granularity — unused
        case (19, 0) => latOff = w.varint()
        case (20, 0) => lonOff = w.varint()
        case _ => w.skip(wt)
      }
    }
    groups.foreach { g =>
      val gw = new Walker(g, 0, g.length)
      while (gw.hasMore) {
        val tag = gw.varint(); val f = (tag >> 3).toInt; val wt = (tag & 7).toInt
        (f, wt) match {
          case (2, 2) =>
            if (out != null)
              parseDense(gw.bytes(gw.varint().toInt), strings.toSeq, granularity, latOff, lonOff, out)
            else if (lenient) gw.bytes(gw.varint().toInt)
            else throw new IllegalArgumentException(
              "osmpbf: file contains dense nodes the caller did not ask for")
          case (3, 2) =>
            if (waysOut != null)
              waysOut += parseWay(gw.bytes(gw.varint().toInt), strings.toSeq)
            else if (lenient) gw.bytes(gw.varint().toInt)
            else throw new IllegalArgumentException(
              "osmpbf: file contains ways — outside this reader's DenseNodes subset " +
                "(use readWays/wayFeatures for way-aware reads)")
          case (4, 2) =>
            if (relsOut != null)
              relsOut += parseRelation(gw.bytes(gw.varint().toInt), strings.toSeq)
            else if (lenient) gw.bytes(gw.varint().toInt)
            else throw new IllegalArgumentException(
              "osmpbf: file contains relations — outside this reader's subset " +
                "(use readRelations/multipolygonFeatures for relation-aware reads)")
          case _ => gw.skip(wt)
        }
      }
    }
  }

  private def parseDense(d: Array[Byte], strings: Seq[String],
      granularity: Long, latOff: Long, lonOff: Long, out: ArrayBuffer[Node]): Unit = {
    val ids = new ArrayBuffer[Long](); val lats = new ArrayBuffer[Long]()
    val lons = new ArrayBuffer[Long](); val kvs = new ArrayBuffer[Long]()
    val w = new Walker(d, 0, d.length)
    def readPacked(into: ArrayBuffer[Long], zz: Boolean): Unit = {
      val len = w.varint().toInt // read length FIRST — it advances off
      val end = w.off + len
      while (w.off < end) {
        val v = w.varint()
        into += (if (zz) unzigzag(v) else v)
      }
    }
    while (w.hasMore) {
      val tag = w.varint(); val f = (tag >> 3).toInt; val wt = (tag & 7).toInt
      (f, wt) match {
        case (1, 2) => readPacked(ids, zz = true)
        case (8, 2) => readPacked(lats, zz = true)
        case (9, 2) => readPacked(lons, zz = true)
        case (10, 2) => readPacked(kvs, zz = false)
        case _ => w.skip(wt)
      }
    }
    require(ids.length == lats.length && ids.length == lons.length,
      s"osmpbf: dense arrays disagree (${ids.length}/${lats.length}/${lons.length})")
    var id = 0L; var la = 0L; var lo = 0L; var ki = 0
    var i = 0
    while (i < ids.length) {
      id += ids(i); la += lats(i); lo += lons(i)
      var tags = Map.empty[String, String]
      if (kvs.nonEmpty) {
        while (ki < kvs.length && kvs(ki) != 0L) {
          require(ki + 1 < kvs.length, "osmpbf: dangling key index in keys_vals")
          tags += strings(kvs(ki).toInt) -> strings(kvs(ki + 1).toInt)
          ki += 2
        }
        ki += 1 // the 0 terminator
      }
      out += Node(id, lonOff + granularity * lo, latOff + granularity * la, tags)
      i += 1
    }
  }

  /** Parse one Way message: plain-varint int64 id, packed uint32
    * keys/vals (string-table indices, parallel arrays), packed sint64
    * DELTA refs (zigzag per element, cumulative chain restarting per
    * way — the osmformat.proto contract).
    */
  private def parseWay(d: Array[Byte], strings: Seq[String]): Way = {
    val w = new Walker(d, 0, d.length)
    var id = 0L
    val keys = new ArrayBuffer[Long](); val vals = new ArrayBuffer[Long]()
    val deltas = new ArrayBuffer[Long]()
    def readPacked(into: ArrayBuffer[Long], zz: Boolean): Unit = {
      val len = w.varint().toInt
      val end = w.off + len
      while (w.off < end) {
        val v = w.varint()
        into += (if (zz) unzigzag(v) else v)
      }
    }
    while (w.hasMore) {
      val tag = w.varint(); val f = (tag >> 3).toInt; val wt = (tag & 7).toInt
      (f, wt) match {
        case (1, 0) => id = w.varint()
        case (2, 2) => readPacked(keys, zz = false)
        case (3, 2) => readPacked(vals, zz = false)
        case (8, 2) => readPacked(deltas, zz = true)
        case _ => w.skip(wt)
      }
    }
    require(keys.length == vals.length,
      s"osmpbf: way $id keys/vals disagree (${keys.length}/${vals.length})")
    var acc = 0L
    val refs = deltas.map { dd => acc += dd; acc }
    Way(id, refs.toSeq,
      keys.zip(vals).map { case (k, v) => strings(k.toInt) -> strings(v.toInt) }.toMap)
  }

  /** Parse one Relation message: plain-varint int64 id, packed uint32
    * keys/vals, packed uint32 roles_sid (string-table indices), packed
    * sint64 DELTA memids, packed MemberType (0=node, 1=way, 2=relation).
    */
  private def parseRelation(d: Array[Byte], strings: Seq[String]): Relation = {
    val w = new Walker(d, 0, d.length)
    var id = 0L
    val keys = new ArrayBuffer[Long](); val vals = new ArrayBuffer[Long]()
    val roles = new ArrayBuffer[Long](); val deltas = new ArrayBuffer[Long]()
    val types = new ArrayBuffer[Long]()
    def readPacked(into: ArrayBuffer[Long], zz: Boolean): Unit = {
      val len = w.varint().toInt
      val end = w.off + len
      while (w.off < end) {
        val v = w.varint()
        into += (if (zz) unzigzag(v) else v)
      }
    }
    while (w.hasMore) {
      val tag = w.varint(); val f = (tag >> 3).toInt; val wt = (tag & 7).toInt
      (f, wt) match {
        case (1, 0) => id = w.varint()
        case (2, 2) => readPacked(keys, zz = false)
        case (3, 2) => readPacked(vals, zz = false)
        case (8, 2) => readPacked(roles, zz = false)
        case (9, 2) => readPacked(deltas, zz = true)
        case (10, 2) => readPacked(types, zz = false)
        case _ => w.skip(wt)
      }
    }
    require(keys.length == vals.length,
      s"osmpbf: relation $id keys/vals disagree (${keys.length}/${vals.length})")
    require(roles.length == deltas.length && roles.length == types.length,
      s"osmpbf: relation $id member arrays disagree " +
        s"(roles ${roles.length} / memids ${deltas.length} / types ${types.length})")
    var acc = 0L
    val memids = deltas.map { dd => acc += dd; acc }
    Relation(id, memids.toSeq, roles.map(r => strings(r.toInt)).toSeq,
      types.map(_.toInt).toSeq,
      keys.zip(vals).map { case (k, v) => strings(k.toInt) -> strings(v.toInt) }.toMap)
  }

  /** Parse one complete .osm.pbf byte stream to nodes, ways AND
    * relations — the full-element reader. [[parse]]/[[parseAll]] keep
    * their narrower loud-refusal contracts.
    */
  def parseFull(bytes: Array[Byte]): (Seq[Node], Seq[Way], Seq[Relation]) = {
    val nodes = new ArrayBuffer[Node]()
    val ways = new ArrayBuffer[Way]()
    val rels = new ArrayBuffer[Relation]()
    var off = 0
    while (off < bytes.length) {
      require(off + 4 <= bytes.length, "osmpbf: truncated frame length")
      val hLen = ByteBuffer.wrap(bytes, off, 4).getInt
      off += 4
      val (kind, dataSize) = parseBlobHeader(bytes, off, hLen)
      off += hLen
      val body = decodeBlob(bytes, off, dataSize.toInt)
      off += dataSize.toInt
      kind match {
        case "OSMHeader" => checkHeader(body)
        case "OSMData" => parseBlock(body, nodes, ways, rels)
        case other => throw new IllegalArgumentException(s"osmpbf: unknown blob type '$other'")
      }
    }
    (nodes.toSeq, ways.toSeq, rels.toSeq)
  }

  /** Parse one complete .osm.pbf byte stream to nodes AND ways (the
    * way-aware twin of [[parse]]; relations still refuse loudly).
    */
  def parseAll(bytes: Array[Byte]): (Seq[Node], Seq[Way]) = {
    val nodes = new ArrayBuffer[Node]()
    val ways = new ArrayBuffer[Way]()
    var off = 0
    while (off < bytes.length) {
      require(off + 4 <= bytes.length, "osmpbf: truncated frame length")
      val hLen = ByteBuffer.wrap(bytes, off, 4).getInt
      off += 4
      val (kind, dataSize) = parseBlobHeader(bytes, off, hLen)
      off += hLen
      val body = decodeBlob(bytes, off, dataSize.toInt)
      off += dataSize.toInt
      kind match {
        case "OSMHeader" => checkHeader(body)
        case "OSMData" => parseBlock(body, nodes, ways)
        case other => throw new IllegalArgumentException(s"osmpbf: unknown blob type '$other'")
      }
    }
    (nodes.toSeq, ways.toSeq)
  }

  /** Distributed way scan: one task per file, emitting
    * (id, refs, tags) — geometry deliberately absent (see [[Way]]).
    */
  def readWays(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select($"content").as[Array[Byte]]
      .flatMap(bytes => parseAll(bytes)._2)
      .toDF()
  }

  /** Assemble way geometries as a DISTRIBUTED join against the node
    * store — the only shape that survives a planet-sized node table:
    *
    *  1. explode (way_id, pos, ref) — the ref list is the join's probe
    *     side, shuffled on the node id (plain equi-join: AQE skew-split
    *     and broadcast both apply when the node side is small);
    *  2. re-assemble per way with a sort_array(collect_list(struct)) —
    *     bounded state, because the OSM spec caps a way at 2 000 nodes;
    *  3. build WKB: a CLOSED ring (first ref = last ref, ≥ 4 points)
    *     with `area=yes` or a `building` tag → Polygon (outer ring);
    *     anything else → LineString. Coordinates are nanodegrees / 1e9 —
    *     both engines compute the same IEEE double.
    *
    * LOUD on dangling refs: a way whose node is missing from the store
    * throws with the way id (a silently-shortened geometry is a wrong
    * geometry).
    *
    * Columns: way_id, kind, n_points, geom (WKB), tags.
    */
  /** Shared path-assembly step: (way_id, n_refs, n_joined, pts) with pts
    * sorted by member position — the refs→nodes equi-join both
    * [[assembleWays]] and [[assembleMultipolygons]] ride.
    */
  private def wayPaths(waysDf: DataFrame, nodesDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val s = waysDf.sparkSession
    import s.implicits._
    val refs = waysDf.select($"id".as("way_id"), posexplode($"refs").as(Seq("pos", "ref")))
    val nd = nodesDf.select($"id".as("ref"), $"lonNano", $"latNano")
    val pts = refs.join(nd, Seq("ref"))
      .groupBy($"way_id")
      .agg(count(lit(1)).as("n_joined"),
        sort_array(collect_list(struct($"pos", $"lonNano", $"latNano"))).as("pts"))
    // LEFT join back to the way list: a way whose refs are ALL dangling
    // (or whose refs list is empty) produces no pts group — an inner join
    // here silently dropped it, breaking the loud-refusal contract the
    // consumers document (the dangling require never saw the row). With
    // n_joined coalesced to 0, the nJoined == nRefs check downstream
    // fires for the all-dangling case too; pts stays null and is never
    // touched past that check.
    waysDf.select($"id".as("way_id"), size($"refs").as("n_refs"), $"tags")
      .join(pts, Seq("way_id"), "left")
      .withColumn("n_joined", coalesce($"n_joined", lit(0L)))
  }

  /** Shared loud refs-vs-joined contract for the assembly UDFs: empty
    * refs, dangling refs, and duplicate node ids (n_joined OVERSHOOTS
    * n_refs when the same node id appears in several source files — the
    * join fans out) each get their own named refusal.
    */
  private def requireFullyJoined(what: String, nRefs: Int, nJoined: Long): Unit = {
    require(nRefs > 0, s"osmpbf: $what has an empty refs list — no geometry to assemble")
    if (nJoined > nRefs)
      throw new IllegalArgumentException(
        s"osmpbf: $what joined $nJoined node rows for $nRefs refs — duplicate " +
          "node ids in the node store (same id across globbed files?)")
    require(nJoined == nRefs,
      s"osmpbf: $what has ${nRefs - nJoined} dangling node refs — " +
        "refusing a silently-partial geometry")
  }

  def assembleWays(s: SparkSession, waysDf: DataFrame, nodesDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val build = udf { (wayId: Long, nRefs: Int, nJoined: Long,
        pts: Seq[org.apache.spark.sql.Row], tags: Map[String, String]) =>
      requireFullyJoined(s"way $wayId", nRefs, nJoined)
      val coords = pts.map(r => (r.getLong(1) / 1e9, r.getLong(2) / 1e9))
      val closed = coords.length >= 4 && coords.head == coords.last
      val polygonal = closed &&
        (tags.get("area").contains("yes") || tags.contains("building"))
      if (polygonal) ("POLYGON", graft.functions.Wkb.polygon(Seq(coords)))
      else ("LINESTRING", graft.functions.Wkb.lineString(coords.toSeq))
    }
    wayPaths(waysDf, nodesDf)
      .withColumn("g", build($"way_id", $"n_refs", $"n_joined", $"pts", $"tags"))
      .select($"way_id", $"g._1".as("kind"), $"n_refs".as("n_points"),
        $"g._2".as("geom"), $"tags")
  }

  /** Distributed relation scan: one task per file, emitting
    * (id, memberIds, memberRoles, memberTypes, tags).
    */
  def readRelations(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select($"content").as[Array[Byte]]
      .flatMap(bytes => parseFull(bytes)._3)
      .toDF()
  }

  /** Assemble `type=multipolygon` relations into Polygon/MultiPolygon
    * WKB as TWO distributed joins — members→way paths (way id), then the
    * shared refs→nodes join inside [[wayPaths]] — the only shape that
    * survives planet-sized node/way tables:
    *
    *  1. relations are FILTERED to `type=multipolygon` (routes/boundaries
    *     etc. pass through [[readRelations]] untouched — filtering is
    *     selection, not refusal);
    *  2. each member must be a WAY with role `outer`/`inner`; rings
    *     split across several OPEN ways are STITCHED per role (r15b):
    *     deterministic endpoint chaining — ring starts at the unused
    *     chain with the lowest way id, extends with the lowest-id unused
    *     chain sharing the current endpoint (reversed when it matches
    *     tail-to-tail; endpoints are node-identical doubles, so equality
    *     is exact), until the ring closes. Nested relation members are
    *     OUTSIDE the subset and throw loudly, as do node members,
    *     unknown roles, a member way missing from the way store, a
    *     dangling node ref, and an unstitchable ring (no chain continues
    *     the endpoint, or chains exhaust unclosed);
    *  3. each inner ring is assigned to the outer ring containing its
    *     first vertex (ray-cast containment); one outer → Polygon with
    *     holes, several outers → MultiPolygon (loud if an inner matches
    *     no outer).
    *
    * Columns: relation_id, kind, n_outer, n_inner (RING counts after
    * stitching, not member counts), geom (WKB), tags.
    */
  def assembleMultipolygons(s: SparkSession, relsDf: DataFrame,
      waysDf: DataFrame, nodesDf: DataFrame): DataFrame =
    assembleRings(s, relsDf, waysDf, nodesDf, relType = "multipolygon",
      nodeRolesSelectedOut = Set.empty, emptyRoleAsOuter = false)

  /** `type=boundary` relations through the SAME ring machinery as
    * [[assembleMultipolygons]] (an admin boundary IS a multipolygon in
    * the data model) with the three boundary-specific conventions real
    * extracts use: node members with role `admin_centre`/`label` and
    * RELATION members with role `subarea` (pointers to child admin
    * areas, each assembled as its own relation) are SELECTED OUT —
    * annotations, not geometry — and an empty member role means `outer`
    * (the historical tagging for admin boundaries). Everything else
    * keeps the loud arms.
    */
  def assembleBoundaries(s: SparkSession, relsDf: DataFrame,
      waysDf: DataFrame, nodesDf: DataFrame): DataFrame =
    assembleRings(s, relsDf, waysDf, nodesDf, relType = "boundary",
      nodeRolesSelectedOut = Set("admin_centre", "label"),
      relRolesSelectedOut = Set("subarea"), emptyRoleAsOuter = true)

  private def assembleRings(s: SparkSession, relsDf: DataFrame,
      waysDf: DataFrame, nodesDf: DataFrame, relType: String,
      nodeRolesSelectedOut: Set[String],
      relRolesSelectedOut: Set[String] = Set.empty,
      emptyRoleAsOuter: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val mp = relsDf.filter(element_at($"tags", "type") === relType)
    // posexplode_OUTER: an empty member list must surface as a loud error
    // inside the build (a plain posexplode emits no rows and the relation
    // vanished silently — inconsistent with every other malformed arm)
    val members = mp.select($"id".as("relation_id"), $"tags",
        posexplode_outer(arrays_zip($"memberIds", $"memberRoles", $"memberTypes"))
          .as(Seq("pos", "m")))
      .select($"relation_id", $"tags", $"pos",
        $"m.memberIds".as("mid"), $"m.memberRoles".as("role"),
        $"m.memberTypes".as("mtype"),
        // node/relation members must NOT probe the way store — node and
        // way ids live in separate OSM id spaces, so an id-equal way
        // would bind accidentally
        when($"m.memberTypes" === 1, $"m.memberIds").as("way_id"))
    val paths = wayPaths(waysDf, nodesDf)
      .select($"way_id", $"n_refs", $"n_joined", $"pts")
    // left join: a member way missing from the way store must surface as
    // a loud error inside the build, not vanish in an inner join
    val joined = members.join(paths, Seq("way_id"), "left")
      .groupBy($"relation_id")
      .agg(first($"tags").as("tags"),
        sort_array(collect_list(struct($"pos", $"role", $"mtype", $"mid",
          $"n_refs", $"n_joined", $"pts"))).as("ms"))
    val build = udf { (relId: Long, ms: Seq[org.apache.spark.sql.Row]) =>
      import graft.functions.Wkb
      val outerChains = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Double, Double)])]
      val innerChains = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Double, Double)])]
      ms.foreach { m =>
        // a null member struct is posexplode_outer's marker for an EMPTY
        // member list — the arm a plain explode used to drop silently
        require(!m.isNullAt(2),
          s"osmpbf: relation $relId is type=$relType but has no members — refusing")
        val role0 = m.getString(1); val mtype = m.getInt(2); val wayId = m.getLong(3)
        // boundary hierarchies: `subarea` RELATION members are pointers to
        // child admin areas (each assembled as its own relation), not
        // geometry of THIS one — selected out like admin_centre nodes
        if (!(mtype == 0 && nodeRolesSelectedOut(role0)) &&
            !(mtype == 2 && relRolesSelectedOut(role0))) {
          require(mtype == 1,
            s"osmpbf: relation $relId member of type $mtype (0=node, 2=relation) — " +
              s"only way members carry $relType geometry in this subset")
          val role = if (role0.isEmpty && emptyRoleAsOuter) "outer" else role0
          require(role == "outer" || role == "inner",
            s"osmpbf: relation $relId member role '$role' — expected outer/inner")
          require(!m.isNullAt(4),
            s"osmpbf: relation $relId references way $wayId missing from the way store")
          val nRefs = m.getInt(4); val nJoined = m.getLong(5)
          requireFullyJoined(s"relation $relId member way $wayId", nRefs, nJoined)
          val pts = m.getSeq[org.apache.spark.sql.Row](6)
            .map(r => (r.getLong(1) / 1e9, r.getLong(2) / 1e9))
          require(pts.length >= 2,
            s"osmpbf: relation $relId member way $wayId has ${pts.length} points")
          if (role == "outer") outerChains += (wayId -> pts) else innerChains += (wayId -> pts)
        }
      }
      // deterministic ring stitching: rings start at the lowest unused way
      // id; extension picks the lowest-id unused chain sharing the current
      // endpoint, reversed when it matches tail-to-tail. Endpoint equality
      // is exact — shared nodes yield identical nano/1e9 doubles.
      def stitch(chains: Seq[(Long, Seq[(Double, Double)])]): Seq[Seq[(Double, Double)]] = {
        val order = chains.sortBy(_._1)
        val used = Array.fill(order.length)(false)
        val rings = scala.collection.mutable.ArrayBuffer.empty[Seq[(Double, Double)]]
        order.indices.foreach { i =>
          if (!used(i)) {
            used(i) = true
            var ring = order(i)._2.toVector
            while (ring.head != ring.last) {
              val end = ring.last
              val next = order.indices
                .filter(k => !used(k) &&
                  (order(k)._2.head == end || order(k)._2.last == end))
                .minByOption(k => order(k)._1)
                .getOrElse(throw new IllegalArgumentException(
                  s"osmpbf: relation $relId ring starting at way ${order(i)._1} " +
                    s"cannot continue past $end — unstitchable (open boundary), refusing"))
              used(next) = true
              val c = order(next)._2
              ring = ring ++ (if (c.head == end) c.tail else c.reverse.tail)
            }
            require(ring.length >= 4,
              s"osmpbf: relation $relId produced a degenerate ${ring.length}-point ring")
            rings += ring
          }
        }
        rings.toSeq
      }
      val outers = stitch(outerChains.toSeq)
      val inners = stitch(innerChains.toSeq)
      require(outers.nonEmpty, s"osmpbf: relation $relId has no outer ring")
      val holesOf = outers.map(_ => scala.collection.mutable.ArrayBuffer
        .empty[Seq[(Double, Double)]])
      inners.foreach { h =>
        val probe = h.head
        val oi = outers.indexWhere(o =>
          Wkb.containsPoint(Wkb.polygon(Seq(o)), probe._1, probe._2))
        require(oi >= 0,
          s"osmpbf: relation $relId inner ring at $probe is inside no outer ring")
        holesOf(oi) += h
      }
      val geom =
        if (outers.length == 1) ("POLYGON", Wkb.polygon(outers.head +: holesOf.head.toSeq))
        else ("MULTIPOLYGON", Wkb.multi(6, outers.zip(holesOf).map {
          case (o, hs) => Wkb.polygon(o +: hs.toSeq)
        }))
      (geom._1, geom._2, outers.length.toLong, inners.length.toLong)
    }
    joined
      .withColumn("g", build($"relation_id", $"ms"))
      .select($"relation_id", $"g._1".as("kind"), $"g._3".as("n_outer"),
        $"g._4".as("n_inner"), $"g._2".as("geom"), $"tags")
  }

  /** End-to-end multipolygon features from .osm.pbf files — all three
    * element scans blob-split (one task per blob).
    */
  def multipolygonFeatures(spark: SparkSession, pathGlob: String): DataFrame =
    assembleMultipolygons(spark, readSplitRelations(spark, pathGlob),
      readSplitWays(spark, pathGlob), readSplitNodesLenient(spark, pathGlob))

  /** End-to-end boundary features (admin boundaries as polygons). */
  def boundaryFeatures(spark: SparkSession, pathGlob: String): DataFrame =
    assembleBoundaries(spark, readSplitRelations(spark, pathGlob),
      readSplitWays(spark, pathGlob), readSplitNodesLenient(spark, pathGlob))

  /** Route-relation nesting cap: iterative resolution joins once per
    * level, so the cap bounds driver rounds, not correctness — real
    * planet hierarchies (route_master → route, international collection
    * chains) stay under 8; deeper data refuses loudly.
    */
  private val RouteMaxDepth = 8

  /** Assemble `type=route` relations into LineString/MultiLineString WKB
    * — the non-areal sibling of [[assembleMultipolygons]], closing the
    * "route/boundary relations pass through unassembled" gap:
    *
    *  1. relations are FILTERED to `type=route` (selection);
    *  2. NODE members (stops/platforms) are annotations, not geometry —
    *     counted into `n_stops` at ANY nesting level, never joined
    *     against the way store (node and way ids are separate OSM id
    *     spaces);
    *  3. RELATION members are resolved to ARBITRARY depth (super-routes:
    *     route_master → route → ways, international collections nesting
    *     deeper) by ITERATIVE substitution — one distributed
    *     members→relations join per level, bounded by `RouteMaxDepth`
    *     (real planet hierarchies are < 8 deep). Members order by their
    *     POSITION PATH (the pos at each ancestor level, compared
    *     lexicographically), so a resolved grandchild sorts exactly
    *     where its ancestor sat. A child missing from the relation
    *     store, an empty child, a membership CYCLE (a relation reached
    *     through its own descendants — the ancestor chain rides along
    *     and is checked per step), and a hierarchy deeper than the cap
    *     all refuse loudly — markers propagate through the joins and
    *     throw in the build, never silently truncate;
    *  4. way chains merge greedily end-to-end (deterministic: start at
    *     the lowest unused way id, extend tail then head with the
    *     lowest-id chain sharing the endpoint, reversing on tail-to-tail
    *     matches) into MAXIMAL open chains — no closure requirement,
    *     roads have gaps; 1 chain → LineString, several →
    *     MultiLineString.
    *
    * Scale shape: the same two distributed joins as the multipolygon
    * path (members→way paths→nodes) plus one members→relations join PER
    * NESTING LEVEL (each frontier persisted so the iteration doesn't
    * recompute its lineage; levels are bounded by RouteMaxDepth, and a
    * real extract's frontier shrinks geometrically); per-relation state
    * is member-bounded.
    *
    * Columns: relation_id, kind, n_ways, n_stops, n_chains, geom, tags.
    */
  def assembleRoutes(s: SparkSession, relsDf: DataFrame,
      waysDf: DataFrame, nodesDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val routes = relsDf.filter(element_at($"tags", "type") === "route")
    val m = routes.select($"id".as("relation_id"), $"tags",
        posexplode_outer(arrays_zip($"memberIds", $"memberRoles", $"memberTypes"))
          .as(Seq("pos", "mm")))
      .select($"relation_id", $"tags", $"pos",
        $"mm.memberIds".as("mid"), $"mm.memberTypes".as("mtype"))
    val children = relsDf.select($"id".as("cid"),
      $"memberIds".as("c_mids"), $"memberTypes".as("c_mtypes"))
    // resolved rows: (relation_id, tags, path, mid, mtype, err) — path is
    // the pos at each ancestor level (lexicographic order key), err a
    // loud-refusal marker the build throws on
    def asResolved(df: DataFrame, err: org.apache.spark.sql.Column): DataFrame =
      df.select($"relation_id", $"tags", $"path", $"mid",
        lit(2).cast("int").as("mtype"), err.as("err"))
    // level 0: direct non-relation members (ways, stops, and the
    // empty-parent null marker)
    var resolved = m.filter($"mtype".isNull || $"mtype" =!= 2)
      .select($"relation_id", $"tags", array($"pos").as("path"), $"mid", $"mtype",
        when($"mtype".isNull, lit("parent_empty")).as("err"))
    // frontier: unresolved relation members, with the ancestor id chain
    // riding along for cycle detection. Every persisted level feeds the
    // RETURNED plan (resolved unions reference each level's expanded
    // frame), so the persists go through the CacheRegistry ownership
    // contract — the caller releases after the final action, exactly
    // like the self-join barriers in TierCSim.
    var frontier = graft.CacheRegistry.persist(m.filter($"mtype" === 2)
      .select($"relation_id", $"tags", array($"pos").as("path"), $"mid",
        array($"relation_id").as("chain")))
    var depth = 0
    while (depth < RouteMaxDepth && !frontier.isEmpty) {
      val step = frontier.join(children, frontier("mid") === children("cid"), "left")
      val missing = asResolved(step.filter($"cid".isNull), lit("child_missing"))
      val cycles = asResolved(
        step.filter($"cid".isNotNull && array_contains($"chain", $"mid")),
        lit("cycle"))
      val expanded = graft.CacheRegistry.persist(step
        .filter($"cid".isNotNull && !array_contains($"chain", $"mid"))
        .withColumnRenamed("mid", "pmid")
        .select($"relation_id", $"tags", $"path", $"pmid", $"chain",
          posexplode_outer(arrays_zip($"c_mids", $"c_mtypes")).as(Seq("cpos", "cm")))
        .select($"relation_id", $"tags",
          concat($"path", array(coalesce($"cpos", lit(-1)))).as("path"),
          // on the null-cm marker (empty child) the parent's member id
          // survives for the error message
          coalesce($"cm.c_mids", $"pmid").as("mid"),
          $"cm.c_mtypes".as("mtype"),
          concat($"chain", array($"pmid")).as("chain"),
          $"cm".isNull.as("child_empty")))
      resolved = resolved
        .unionByName(missing).unionByName(cycles)
        .unionByName(expanded.filter($"child_empty")
          .select($"relation_id", $"tags", $"path", $"mid",
            lit(2).cast("int").as("mtype"), lit("child_empty").as("err")))
        .unionByName(expanded.filter(!$"child_empty" && $"mtype" =!= 2)
          .select($"relation_id", $"tags", $"path", $"mid", $"mtype",
            lit(null).cast("string").as("err")))
      frontier = expanded.filter(!$"child_empty" && $"mtype" === 2)
        .select($"relation_id", $"tags", $"path", $"mid", $"chain")
      depth += 1
    }
    // a frontier surviving the cap: deeper than any real hierarchy —
    // refuse loudly rather than silently truncate
    resolved = resolved.unionByName(asResolved(frontier, lit("too_deep")))
    val all = resolved
      .withColumn("way_id", when($"mtype" === 1 && $"err".isNull, $"mid"))
    val paths = wayPaths(waysDf, nodesDf)
      .select($"way_id", $"n_refs", $"n_joined", $"pts")
    val joined = all.join(paths, Seq("way_id"), "left")
      .groupBy($"relation_id")
      .agg(first($"tags").as("tags"),
        sort_array(collect_list(struct($"path", $"mtype", $"mid",
          $"err", $"n_refs", $"n_joined", $"pts"))).as("ms"))
    val build = udf { (relId: Long, ms: Seq[org.apache.spark.sql.Row]) =>
      import graft.functions.Wkb
      val chains = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Double, Double)])]
      var nStops = 0L
      ms.foreach { mr =>
        // rows: (path, mtype, mid, err, n_refs, n_joined, pts)
        val mid = if (mr.isNullAt(2)) relId else mr.getLong(2)
        if (!mr.isNullAt(3)) mr.getString(3) match {
          case "parent_empty" => throw new IllegalArgumentException(
            s"osmpbf: relation $relId is type=route but has no members — refusing")
          case "child_missing" => throw new IllegalArgumentException(
            s"osmpbf: route $relId references relation $mid missing " +
              "from the relation store — refusing a silently-partial route")
          case "child_empty" => throw new IllegalArgumentException(
            s"osmpbf: route $relId child relation $mid has no members — refusing")
          case "cycle" => throw new IllegalArgumentException(
            s"osmpbf: route $relId membership CYCLE through relation $mid — " +
              "refusing (a relation cannot contain itself through any chain)")
          case "too_deep" => throw new IllegalArgumentException(
            s"osmpbf: route $relId nests relations deeper than $RouteMaxDepth " +
              s"levels (unresolved relation $mid) — refusing a silent truncation")
          case other => throw new IllegalArgumentException(
            s"osmpbf: route $relId internal marker '$other'")
        }
        val mtype = mr.getInt(1)
        mtype match {
          case 0 => nStops += 1L // stops/platforms at any level: annotation
          case 1 =>
            require(!mr.isNullAt(4),
              s"osmpbf: route $relId references way $mid missing from the way store")
            val nRefs = mr.getInt(4); val nJoined = mr.getLong(5)
            requireFullyJoined(s"route $relId member way $mid", nRefs, nJoined)
            val pts = mr.getSeq[org.apache.spark.sql.Row](6)
              .map(r => (r.getLong(1) / 1e9, r.getLong(2) / 1e9))
            require(pts.length >= 2,
              s"osmpbf: route $relId member way $mid has ${pts.length} points")
            chains += (mid -> pts)
          case other => throw new IllegalArgumentException(
            s"osmpbf: route $relId member of unknown type $other")
        }
      }
      require(chains.nonEmpty,
        s"osmpbf: route $relId has no way members — no geometry to assemble")
      // greedy deterministic merge into MAXIMAL open chains
      val order = chains.sortBy(_._1)
      val used = Array.fill(order.length)(false)
      val merged = scala.collection.mutable.ArrayBuffer.empty[Vector[(Double, Double)]]
      order.indices.foreach { i =>
        if (!used(i)) {
          used(i) = true
          var chain = order(i)._2.toVector
          var extended = true
          while (extended) {
            extended = false
            val tail = chain.last
            order.indices
              .filter(k => !used(k) &&
                (order(k)._2.head == tail || order(k)._2.last == tail))
              .minByOption(k => order(k)._1)
              .foreach { k =>
                used(k) = true
                val c = order(k)._2
                chain = chain ++ (if (c.head == tail) c.tail else c.reverse.tail)
                extended = true
              }
            if (!extended) {
              val head = chain.head
              order.indices
                .filter(k => !used(k) &&
                  (order(k)._2.head == head || order(k)._2.last == head))
                .minByOption(k => order(k)._1)
                .foreach { k =>
                  used(k) = true
                  val c = order(k)._2
                  chain = (if (c.last == head) c.dropRight(1)
                    else c.reverse.dropRight(1)).toVector ++ chain
                  extended = true
                }
            }
          }
          merged += chain
        }
      }
      val geom =
        if (merged.length == 1) ("LINESTRING", Wkb.lineString(merged.head))
        else ("MULTILINESTRING", Wkb.multi(5, merged.toSeq.map(Wkb.lineString)))
      (geom._1, geom._2, chains.length.toLong, nStops, merged.length.toLong)
    }
    joined
      .withColumn("g", build($"relation_id", $"ms"))
      .select($"relation_id", $"g._1".as("kind"), $"g._3".as("n_ways"),
        $"g._4".as("n_stops"), $"g._5".as("n_chains"), $"g._2".as("geom"), $"tags")
  }

  /** End-to-end route features from .osm.pbf files — blob-split scans. */
  def routeFeatures(spark: SparkSession, pathGlob: String): DataFrame =
    assembleRoutes(spark, readSplitRelations(spark, pathGlob),
      readSplitWays(spark, pathGlob), readSplitNodesLenient(spark, pathGlob))

  /** End-to-end way features from .osm.pbf files: BLOB-SPLIT scans of
    * both element kinds (one task per blob — the planet-file shape, since
    * ways-bearing files are usually the single huge ones), then
    * [[assembleWays]].
    */
  def wayFeatures(spark: SparkSession, pathGlob: String): DataFrame =
    assembleWays(spark, readSplitWays(spark, pathGlob),
      readSplitNodesLenient(spark, pathGlob))

  /** Distributed scan: one task per .osm.pbf file (binaryFile source),
    * emitting (feature_id, lon_nano, lat_nano, tags). For a SINGLE huge
    * file (the 70+ GB planet ships as one), use [[readSplit]] — the
    * format is splittable at blob boundaries and this path isn't.
    */
  def read(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select($"content")
      .as[Array[Byte]]
      .flatMap(parse _)
      .toDF()
  }

  /** One OSMData blob's byte range inside a file. */
  final case class BlobRef(path: String, offset: Long, length: Int)

  /** Index a file's blob frames reading ONLY the 4-byte lengths and
    * BlobHeaders (payloads are seeked over, never read) — O(#blobs)
    * tiny reads regardless of file size. OSMHeader blobs are decoded
    * and their required_features verified HERE, so a file this subset
    * cannot honor is refused before any task runs (the spec mandate).
    */
  def indexBlobs(conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.Path): Seq[BlobRef] = {
    val fs = file.getFileSystem(conf)
    val size = fs.getFileStatus(file).getLen
    val in = fs.open(file)
    try {
      val refs = new ArrayBuffer[BlobRef]()
      var off = 0L
      while (off < size) {
        require(off + 4 <= size, s"osmpbf: truncated frame length in $file")
        in.seek(off)
        val hLen = in.readInt()
        val hdr = new Array[Byte](hLen)
        in.readFully(hdr)
        val (kind, dataSize) = parseBlobHeader(hdr, 0, hLen)
        val dataOff = off + 4 + hLen
        kind match {
          case "OSMHeader" =>
            val blob = new Array[Byte](dataSize.toInt)
            in.readFully(blob)
            checkHeader(decodeBlob(blob, 0, blob.length))
          case "OSMData" =>
            refs += BlobRef(file.toString, dataOff, dataSize.toInt)
          case other =>
            throw new IllegalArgumentException(s"osmpbf: unknown blob type '$other' in $file")
        }
        off = dataOff + dataSize
      }
      refs.toSeq
    } finally in.close()
  }

  /** Blob-split distributed scan — ONE TASK PER OSMData BLOB, the shape
    * that parallelizes a single planet-sized file: a header-only index
    * pass (driver, O(#blobs) seeks), then each task range-reads and
    * decodes exactly its blob. Correct because every PrimitiveBlock is
    * self-contained by construction — its own string table, granularity/
    * offsets, and delta chains that restart at the block boundary (the
    * property [[write]] also maintains). Output is identical to [[read]]
    * modulo row order.
    */
  def readSplit(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val (refs, box) = splitRefs(spark, pathGlob)
    refs.flatMap { ref =>
        val blob = rangeRead(ref, box)
        val out = new ArrayBuffer[Node]()
        parseBlock(decodeBlob(blob, 0, blob.length), out) // nodes-STRICT
        out.toSeq
      }
      .toDF()
  }

  /** Shared blob-split skeleton: index every file's OSMData blobs (driver,
    * header-only seeks), broadcast the Hadoop conf, and return one row
    * per blob pre-partitioned to the cluster plus the conf handle each
    * consumer closure captures — each task then range-reads exactly its
    * blob.
    */
  private def splitRefs(spark: SparkSession, pathGlob: String)
      : (org.apache.spark.sql.Dataset[BlobRef],
         org.apache.spark.sql.graftbridge.HadoopConfBridge.ConfBox) = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val glob = new org.apache.hadoop.fs.Path(pathGlob)
    val statuses = glob.getFileSystem(conf).globStatus(glob)
    require(statuses != null && statuses.nonEmpty, s"osmpbf: no files match $pathGlob")
    val refs = statuses.toSeq.flatMap(st => indexBlobs(conf, st.getPath))
    // driver Hadoop conf rides a broadcast into the range-read tasks —
    // a fresh default Configuration would drop object-store credentials/
    // endpoints (s3a et al.), breaking any authenticated FS at scale
    val bcConf = org.apache.spark.sql.graftbridge.HadoopConfBridge
      .broadcast(spark.sparkContext)
    (spark.createDataset(refs)
      .repartition(math.min(refs.length,
        math.max(1, spark.sparkContext.defaultParallelism))), bcConf)
  }

  private def rangeRead(ref: BlobRef,
      confBox: org.apache.spark.sql.graftbridge.HadoopConfBridge.ConfBox): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(ref.path)
    val in = p.getFileSystem(confBox.conf).open(p)
    try {
      in.seek(ref.offset)
      val blob = new Array[Byte](ref.length)
      in.readFully(blob)
      blob
    } finally in.close()
  }

  /** Blob-split single-element readers — ONE TASK PER BLOB, the planet-
    * file shape, for each element kind: asking for one kind is a
    * SELECTION, so blobs of the other kinds are skipped (lenient), not
    * refused — unlike [[readSplit]], whose DenseNodes-subset contract
    * keeps the loud refusal.
    */
  def readSplitNodesLenient(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val (refs, box) = splitRefs(spark, pathGlob)
    refs.flatMap { ref =>
      val blob = rangeRead(ref, box)
      val out = new ArrayBuffer[Node]()
      parseBlock(decodeBlob(blob, 0, blob.length), out, null, null, lenient = true)
      out.toSeq
    }.toDF()
  }

  def readSplitWays(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val (refs, box) = splitRefs(spark, pathGlob)
    refs.flatMap { ref =>
      val blob = rangeRead(ref, box)
      val ways = new ArrayBuffer[Way]()
      parseBlock(decodeBlob(blob, 0, blob.length), null, ways, null, lenient = true)
      ways.toSeq
    }.toDF()
  }

  def readSplitRelations(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val (refs, box) = splitRefs(spark, pathGlob)
    refs.flatMap { ref =>
      val blob = rangeRead(ref, box)
      val rels = new ArrayBuffer[Relation]()
      parseBlock(decodeBlob(blob, 0, blob.length), null, null, rels, lenient = true)
      rels.toSeq
    }.toDF()
  }
}
