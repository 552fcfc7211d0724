package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QuerySpec
import graft.sources.Tables

/** Multimodal-column support (north-star `BASELINE.json:6`): media travel
  * through the pipeline as opaque `BinaryType` payloads plus a typed
  * metadata struct — the same transport pattern as the Tier A WKB
  * geometry column, generalized to image/audio/video.
  *
  * The DECODE step is a clearly-marked deterministic STUB
  * ([[MediaCodec.decodeStub]]): this container ships no image/audio
  * libraries, so the codec derives fake-but-stable "dimensions" from the
  * payload bytes. Everything around it — schema, per-partition batch
  * iteration, partitioning, output shape — is real Spark plumbing that a
  * production codec would drop into unchanged.
  *
  * Scale posture: decode/feature-extract runs inside `mapPartitions`
  * (one codec instance per partition, streaming batch iteration — the
  * Scala analog of a Pandas-UDF `mapInPandas` loop), so 100 TB of media
  * decodes with per-partition parallelism and zero driver involvement.
  */
object Multimodal {

  /** Typed record for the media pipeline. */
  final case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte])
  final case class MediaFeatures(
      media_id: Long, kind: String, nbytes: Long,
      width: Int, height: Int, checksum: Long)

  object MediaCodec {
    /** STUB — deterministic fake decode. A real deployment binds an image
      * library here (payload → pixel buffer → (width, height)); offline we
      * derive stable pseudo-dimensions from the byte content so tests and
      * declared queries are reproducible.
      */
    def decodeStub(payload: Array[Byte]): (Int, Int) = {
      val h = java.util.Arrays.hashCode(payload)
      (64 + (h & 0x3f), 64 + ((h >>> 8) & 0x3f))
    }

    /** Deterministic payload checksum (sum of unsigned bytes — exact,
      * order-fixed, SQL-replayable).
      */
    def checksum(payload: Array[Byte]): Long = {
      var acc = 0L
      var i = 0
      while (i < payload.length) { acc += payload(i) & 0xff; i += 1 }
      acc
    }
  }

  final case class MediaFrame(
      media_id: Long, frame_no: Int, offset: Long, frame: Array[Byte])

  object MediaCodecTransforms {
    /** STUB resize — a real codec rescales the pixel buffer to (w, h).
      * The fake emits a deterministic byte subsample of w*h/64 bytes
      * (stride-sampled so the output depends on all regions of the
      * input), keeping the payload→payload shape and sizing real.
      */
    def resizeStub(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val outLen = math.max(1, math.min(payload.length, w * h / 64))
      val out = new Array[Byte](outLen)
      var i = 0
      while (i < outLen) {
        out(i) = payload((i.toLong * payload.length / outLen).toInt)
        i += 1
      }
      out
    }

    /** Frame sampling — a real video codec seeks keyframes; the stub
      * treats the payload as fixed-size frames and keeps every n-th,
      * which is exactly the batch shape (id, frame_no, offset, bytes)
      * the real thing produces.
      */
    def sampleFrames(payload: Array[Byte], frameSize: Int, everyN: Int): Seq[(Int, Long, Array[Byte])] = {
      require(frameSize > 0 && everyN > 0)
      val nFrames = payload.length / frameSize
      (0 until nFrames).by(everyN).map { f =>
        val off = f.toLong * frameSize
        (f, off, java.util.Arrays.copyOfRange(payload, off.toInt, off.toInt + frameSize))
      }
    }
  }

  /** Resize pass: per-partition batch iteration, payload → payload. */
  def resizeAll(records: Dataset[MediaRecord], w: Int, h: Int): Dataset[MediaRecord] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.map(r =>
      r.copy(payload = MediaCodecTransforms.resizeStub(r.payload, w, h))))
  }

  /** Frame-sample pass: one media record fans out to its kept frames —
    * the row-explosion shape a video pipeline feeds to per-frame models.
    */
  def sampleFramesAll(records: Dataset[MediaRecord], frameSize: Int, everyN: Int): Dataset[MediaFrame] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.flatMap(r =>
      MediaCodecTransforms.sampleFrames(r.payload, frameSize, everyN).map {
        case (no, off, bytes) => MediaFrame(r.media_id, no, off, bytes)
      }))
  }

  /** Batch decode: one codec per partition, streaming iterator — the real
    * plumbing a production decode would use.
    */
  def decodeFeatures(records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      // per-partition codec init would go here (native lib handles, etc.)
      it.map { r =>
        val (w, h) = MediaCodec.decodeStub(r.payload)
        MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, w, h,
          MediaCodec.checksum(r.payload))
      }
    }
  }

  /** documents → media records: UTF-8 payload bytes standing in for real
    * media blobs (the transport layer is identical).
    */
  def mediaRecords(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    // (Par.spread measured a net LOSS here — the decode stub is cheap, so
    // the exchange cost exceeded the unlocked parallelism: c6h +0.45 s,
    // c6k +0.34 s min-of-2; see OPTIMIZATION_r17.md.)
    Tables.documents(s, d)
      .select($"doc_id".as("media_id"), lit("text/plain").as("kind"),
        encode($"text", "UTF-8").as("payload"))
      .as[MediaRecord]
  }

  private val c6 = QuerySpec(
    "c6_multimodal",
    "Multimodal binary-column pipeline: payload bytes + typed metadata through mapPartitions batch decode; SQL-replayable outputs (size, head bytes, md5, byte checksum) verify the binary transport end-to-end. Decode dims are a marked stub (no media libs in image).",
    Some("""SELECT doc_id AS media_id, 'text/plain' AS kind,
            CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS nbytes,
            hex(CAST(left(text, 8) AS BLOB)) AS head_hex,
            md5(text) AS payload_md5
            FROM documents ORDER BY media_id"""),
    (s, d) => {
      import s.implicits._
      val feats = decodeFeatures(mediaRecords(s, d))
      // join the decoded features back onto SQL-replayable payload probes:
      // the oracle can't replay the stubbed decode (width/height), so the
      // declared output keeps the verifiable columns; decode correctness
      // is covered by MultimodalSpec.
      feats.toDF().select($"media_id", $"kind", $"nbytes")
        .join(
          Tables.documents(s, d).select($"doc_id".as("media_id"),
            hex(substring($"text", 1, 8).cast(BinaryType)).as("head_hex"),
            md5(encode($"text", "UTF-8")).as("payload_md5")),
          "media_id")
        .orderBy($"media_id")
    }
  )

  /** Frame sampling as a DECLARED query (the c6 family's second oracle
    * row): every media payload splits into fixed 256-byte frames, every
    * 3rd kept — the keyframe-sampling batch shape — and each kept frame
    * emits SQL-replayable evidence (offset arithmetic + md5 of the exact
    * byte slice). Replay rests on documents.text being pure ASCII (chars
    * = bytes, so DuckDB's character substr slices the same bytes the
    * engine's byte copy does) — pinned by the TablesSpec ASCII canary
    * alongside the BMP one. Short payloads (< one frame) vanish from both
    * sides. Scale: mapPartitions fan-out, no state, no shuffle except the
    * presentation sort.
    */
  private val FrameSize = 256
  private val FrameEvery = 3
  private val c6b = QuerySpec(
    "c6b_frame_sample",
    s"Multimodal frame sampling: fixed $FrameSize-byte frames, every ${FrameEvery}rd kept, per-frame (offset, length, md5-of-slice) — the mapPartitions video-sampling batch shape with the byte arithmetic and slice hashing oracle-replayed (ASCII canary pins chars = bytes).",
    Some(s"""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
              FROM documents),
            f AS (SELECT doc_id, CAST(unnest(range(0, len // $FrameSize)) AS BIGINT) AS frame_no,
              text FROM t)
            SELECT doc_id AS media_id, frame_no, frame_no * $FrameSize AS "offset",
              CAST($FrameSize AS BIGINT) AS frame_len,
              md5(substr(text, CAST(frame_no * $FrameSize + 1 AS INTEGER), $FrameSize)) AS frame_md5
            FROM f WHERE frame_no % $FrameEvery = 0 ORDER BY media_id, frame_no"""),
    (s, d) => {
      import s.implicits._
      sampleFramesAll(mediaRecords(s, d), FrameSize, FrameEvery).toDF()
        .select($"media_id", $"frame_no".cast(LongType).as("frame_no"),
          $"offset", length($"frame").cast(LongType).as("frame_len"),
          md5($"frame").as("frame_md5"))
        .orderBy($"media_id", $"frame_no")
    }
  )

  /** Overlapping-window chunking — the ASR/audio segmentation batch shape
    * (windows share bytes: stride < window), vs [[sampleFramesAll]]'s
    * disjoint frames. A real pipeline feeds each chunk to an acoustic
    * model; offline the chunk is the exact byte slice plus its
    * PCM-arithmetic timestamp (16 kHz mono s16le ⇒ ms = bytes·1000/32000,
    * integer-exact), so the oracle replays offsets, timestamps, and slice
    * hashes bit-for-bit.
    */
  def chunkAudio(payload: Array[Byte], window: Int, hop: Int): Seq[(Int, Long, Array[Byte])] = {
    require(window > 0 && hop > 0)
    if (payload.length < window) Seq.empty
    else (0 to (payload.length - window) / hop).map { k =>
      val off = k.toLong * hop
      (k, off, java.util.Arrays.copyOfRange(payload, off.toInt, off.toInt + window))
    }
  }

  final case class MediaChunk(
      media_id: Long, chunk_no: Int, start_byte: Long, chunk: Array[Byte])

  def chunkAudioAll(records: Dataset[MediaRecord], window: Int, hop: Int): Dataset[MediaChunk] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.flatMap(r =>
      chunkAudio(r.payload, window, hop).map {
        case (no, off, bytes) => MediaChunk(r.media_id, no, off, bytes)
      }))
  }

  private val ChunkWindow = 256
  private val ChunkHop = 192
  private val c6c = QuerySpec(
    "c6c_audio_chunk",
    s"Multimodal overlapping-window chunking: $ChunkWindow-byte windows at $ChunkHop-byte hop (25% overlap, the ASR segmentation shape), per-chunk (start byte, PCM-16k/s16le start ms, md5-of-slice); payloads shorter than one window vanish. mapPartitions fan-out, no shuffle except the presentation sort.",
    Some(s"""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
              FROM documents WHERE length(text) >= $ChunkWindow),
            c AS (SELECT doc_id, text,
              CAST(unnest(range(0, (len - $ChunkWindow) // $ChunkHop + 1)) AS BIGINT) AS chunk_no
              FROM t)
            SELECT doc_id AS media_id, chunk_no,
              chunk_no * $ChunkHop AS start_byte,
              (chunk_no * $ChunkHop * 1000) // 32000 AS start_ms,
              md5(substr(text, CAST(chunk_no * $ChunkHop + 1 AS INTEGER), $ChunkWindow)) AS chunk_md5
            FROM c ORDER BY media_id, chunk_no"""),
    (s, d) => {
      import s.implicits._
      chunkAudioAll(mediaRecords(s, d), ChunkWindow, ChunkHop).toDF()
        .select($"media_id", $"chunk_no".cast(LongType).as("chunk_no"),
          $"start_byte",
          expr("(start_byte * 1000) div 32000").as("start_ms"),
          md5($"chunk").as("chunk_md5"))
        .orderBy($"media_id", $"chunk_no")
    }
  )

  // ------------------------------------------------------- magic sniffing
  /** Container-format detection by MAGIC BYTES — the first thing a real
    * multimodal ingest does to an opaque blob (upload MIME types lie;
    * the bytes don't): JPEG = FF D8 FF, PNG = 89 50 4E 47 0D 0A 1A 0A,
    * WAV = 'RIFF' ++ u32size ++ 'WAVE'. The sniffer below implements the
    * genuine rules; the declared query PLANTS a real header per record
    * (media_id mod 3 picks the container) in front of the text payload
    * and must recover the modality by actually parsing bytes — the
    * oracle states the planted rule, so the hash match proves
    * sniff ∘ plant = identity end-to-end, not that two CASE expressions
    * agree.
    */
  object MediaSniff {
    val JpegMagic: Array[Byte] = Array(0xff.toByte, 0xd8.toByte, 0xff.toByte)
    val PngMagic: Array[Byte] =
      Array(0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    private val Riff = "RIFF".getBytes("ISO-8859-1")
    private val Wave = "WAVE".getBytes("ISO-8859-1")

    /** A syntactically valid 12-byte RIFF/WAVE header (size field zeroed —
      * sniffing must not depend on it, real files in flight often carry a
      * stale one).
      */
    val WavHeader: Array[Byte] = Riff ++ Array[Byte](0, 0, 0, 0) ++ Wave

    private def startsWith(p: Array[Byte], m: Array[Byte], off: Int = 0): Boolean =
      p.length >= off + m.length && {
        var i = 0
        while (i < m.length && p(off + i) == m(i)) i += 1
        i == m.length
      }

    def headerFor(mediaId: Long): Array[Byte] = (mediaId % 3) match {
      case 0 => JpegMagic
      case 1 => PngMagic
      case _ => WavHeader
    }

    def sniff(p: Array[Byte]): String =
      if (startsWith(p, JpegMagic)) "jpeg"
      else if (startsWith(p, PngMagic)) "png"
      else if (startsWith(p, Riff) && startsWith(p, Wave, 8)) "wav"
      else "unknown"
  }

  private val c6d = QuerySpec(
    "c6d_sniff",
    "Magic-byte container detection: real JPEG/PNG/RIFF-WAVE headers planted per record (media_id mod 3), modality recovered by genuinely parsing the bytes in mapPartitions; per (modality, source) record/byte totals — the hash match proves sniff(plant(x)) equals the planted rule.",
    Some("""WITH m AS (SELECT doc_id, source,
              CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'wav' END AS modality,
              CAST(length(text) + CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 8 ELSE 12 END AS BIGINT) AS nbytes
              FROM documents)
            SELECT modality, source, COUNT(*) AS n,
              CAST(SUM(nbytes) AS BIGINT) AS total_bytes,
              MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
            FROM m GROUP BY modality, source
            ORDER BY modality, source"""),
    (s, d) => {
      import s.implicits._
      val planted = Tables.documents(s, d)
        .select($"doc_id".as("media_id"), $"source",
          encode($"text", "UTF-8").as("body")).as[(Long, String, Array[Byte])]
        .mapPartitions(_.map { case (id, src, body) =>
          (id, src, MediaSniff.headerFor(id) ++ body)
        })
      planted
        .mapPartitions(_.map { case (id, src, payload) =>
          (id, src, MediaSniff.sniff(payload), payload.length.toLong)
        })
        .toDF("media_id", "source", "modality", "nbytes")
        .groupBy($"modality", $"source")
        .agg(count(lit(1)).as("n"), sum($"nbytes").as("total_bytes"),
          min($"media_id").as("first_id"), max($"media_id").as("last_id"))
        .orderBy($"modality", $"source")
    }
  )

  // ----------------------------------------------------- c6e_wav_header
  /** RIFF/WAVE metadata extraction — one parsing level below c6d's
    * magic-byte sniff: build a REAL 44-byte canonical WAV header
    * (RIFF size, fmt chunk with u16/u32 little-endian fields, data
    * chunk) per record, then recover sample rate / channels / duration
    * by GENUINELY walking the chunk list with a little-endian reader in
    * mapPartitions — the hash match proves parse(build(x)) equals the
    * planted closed form, not that two CASE expressions agree. Duration
    * uses the byte rate READ FROM the header (that's what's under
    * test), in exact integer microseconds: data_bytes·1e6 div byte_rate
    * (positive operands, so Spark div and DuckDB // agree). The text
    * corpus is ASCII (the c6b char≡byte precedent), so data size
    * replays as length(text).
    *
    * Scale posture: header build and parse are both per-row map work in
    * mapPartitions (streaming iterator, no driver involvement); the
    * only shuffle is the final small rollup.
    */
  object WavCodec {
    private def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    private def rd16(p: Array[Byte], o: Int): Int =
      (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    private def rd32(p: Array[Byte], o: Int): Long =
      (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) |
        ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)
    private def tag(p: Array[Byte], o: Int): String =
      new String(p.slice(o, o + 4), "ISO-8859-1")

    /** Canonical 44-byte PCM WAV header + payload. */
    def build(rate: Int, channels: Int, bits: Int, pcm: Array[Byte]): Array[Byte] = {
      val byteRate = rate.toLong * channels * (bits / 8)
      val blockAlign = channels * (bits / 8)
      "RIFF".getBytes("ISO-8859-1") ++ le32(36L + pcm.length) ++
        "WAVE".getBytes("ISO-8859-1") ++
        "fmt ".getBytes("ISO-8859-1") ++ le32(16L) ++
        le16(1) ++ le16(channels) ++ le32(rate.toLong) ++ le32(byteRate) ++
        le16(blockAlign) ++ le16(bits) ++
        "data".getBytes("ISO-8859-1") ++ le32(pcm.length.toLong) ++ pcm
    }

    final case class WavMeta(rate: Long, channels: Int, bits: Int,
        byteRate: Long, dataBytes: Long) {
      def durationUs: Long = dataBytes * 1000000L / byteRate
    }

    /** Genuine chunk walk — throws loudly on malformed input rather than
      * guessing (the FlatGeobuf/GML loud-throw discipline).
      */
    def parse(p: Array[Byte]): WavMeta = {
      require(p.length >= 12 && tag(p, 0) == "RIFF" && tag(p, 8) == "WAVE",
        "not a RIFF/WAVE container")
      var off = 12
      var fmt: Option[(Long, Int, Int, Long)] = None
      var data: Option[Long] = None
      while (off + 8 <= p.length && (fmt.isEmpty || data.isEmpty)) {
        val id = tag(p, off)
        val sz = rd32(p, off + 4)
        id match {
          case "fmt " =>
            require(sz >= 16, s"fmt chunk too short: $sz")
            fmt = Some((rd32(p, off + 12), rd16(p, off + 10), rd16(p, off + 22),
              rd32(p, off + 16)))
          case "data" => data = Some(sz)
          case _ => () // unknown chunks are legal in RIFF; skip
        }
        off += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
      }
      val (rate, ch, bits, byteRate) =
        fmt.getOrElse(throw new IllegalArgumentException("no fmt chunk"))
      WavMeta(rate, ch, bits, byteRate,
        data.getOrElse(throw new IllegalArgumentException("no data chunk")))
    }

    def rateFor(id: Long): Int = (id % 3) match {
      case 0 => 8000; case 1 => 16000; case _ => 44100
    }
    def channelsFor(id: Long): Int = 1 + (id % 2).toInt
  }

  private val c6e = QuerySpec(
    "c6e_wav_header",
    "RIFF/WAVE metadata extraction: a real 44-byte little-endian PCM header built per record (rate/channels planted by id), sample rate, channels, and exact integer-microsecond duration recovered by genuinely walking the chunk list in mapPartitions; per (rate, channels) rollup — parse(build(x)) must equal the planted closed form.",
    Some("""WITH m AS (SELECT doc_id,
              CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS BIGINT) AS sample_rate,
              CAST(1 + doc_id % 2 AS BIGINT) AS channels,
              CAST(length(text) AS BIGINT) AS data_bytes
              FROM documents),
            t AS (SELECT doc_id, sample_rate, channels, data_bytes,
              CAST(data_bytes * 1000000 // (sample_rate * channels * 2) AS BIGINT) AS duration_us
              FROM m)
            SELECT sample_rate, channels, COUNT(*) AS n,
              CAST(SUM(data_bytes) AS BIGINT) AS total_bytes,
              CAST(SUM(duration_us) AS BIGINT) AS total_duration_us
            FROM t GROUP BY sample_rate, channels
            ORDER BY sample_rate, channels"""),
    (s, d) => {
      import s.implicits._
      val wavs = Tables.documents(s, d)
        .select($"doc_id", encode($"text", "UTF-8").as("pcm"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, pcm) =>
          (id, WavCodec.build(WavCodec.rateFor(id), WavCodec.channelsFor(id), 16, pcm))
        })
      wavs
        .mapPartitions(_.map { case (id, payload) =>
          val m = WavCodec.parse(payload)
          (id, m.rate, m.channels.toLong, m.dataBytes, m.durationUs)
        })
        .toDF("media_id", "sample_rate", "channels", "data_bytes", "duration_us")
        .groupBy($"sample_rate", $"channels")
        .agg(count(lit(1)).as("n"),
          sum($"data_bytes").cast(LongType).as("total_bytes"),
          sum($"duration_us").cast(LongType).as("total_duration_us"))
        .orderBy($"sample_rate", $"channels")
    }
  )

  // ----------------------------------------------------- c6f_png_header
  /** PNG IHDR metadata extraction — the BIG-endian transpose of
    * [[WavCodec]]'s little-endian RIFF walk, with a genuinely-verified
    * CRC: build a REAL PNG container per record (8-byte signature, IHDR
    * chunk with network-order u32 width/height + depth/colortype, a CRC32
    * computed over type+data exactly as the spec demands, an IDAT stub
    * carrying the payload, IEND), then recover width/height/color type by
    * walking the chunk list AND recomputing the IHDR CRC — a corrupted
    * byte fails the parse loudly instead of yielding plausible garbage.
    * parse(build(x)) must equal the planted closed form (the c6d/c6e
    * discipline); the hash match covers byte order, chunk framing, and
    * the CRC both ways.
    *
    * Scale posture: build and parse are per-row mapPartitions work; the
    * only shuffle is the ≤2-row rollup.
    */
  object PngCodec {
    private def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def rd32(p: Array[Byte], o: Int): Long =
      ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    private val Sig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)
    private def crc32(bs: Array[Byte]*): Long = {
      val c = new java.util.zip.CRC32
      bs.foreach(b => c.update(b))
      c.getValue
    }
    private def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val t = tag.getBytes("ISO-8859-1")
      be32(data.length.toLong) ++ t ++ data ++ be32(crc32(t, data))
    }
    /** Public chunk writer (the metadata-planting side of [[PngStrip]]). */
    def chunkFor(tag: String, data: Array[Byte]): Array[Byte] = chunk(tag, data)

    def build(width: Long, height: Long, colorType: Int, payload: Array[Byte]): Array[Byte] = {
      val ihdr = be32(width) ++ be32(height) ++
        Array(8.toByte, colorType.toByte, 0.toByte, 0.toByte, 0.toByte)
      Sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", payload) ++ chunk("IEND", Array.empty)
    }

    final case class PngMeta(width: Long, height: Long, colorType: Int, idatBytes: Long)

    /** Chunk walk with CRC verification on IHDR — loud-throw discipline. */
    def parse(p: Array[Byte]): PngMeta = {
      require(p.length >= 8 && java.util.Arrays.equals(p.slice(0, 8), Sig),
        "not a PNG signature")
      var off = 8
      var meta: Option[(Long, Long, Int)] = None
      var idat = 0L
      while (off + 12 <= p.length) {
        val len = rd32(p, off).toInt
        val tag = new String(p.slice(off + 4, off + 8), "ISO-8859-1")
        val data = p.slice(off + 8, off + 8 + len)
        tag match {
          case "IHDR" =>
            require(len == 13, s"IHDR length $len")
            val stored = rd32(p, off + 8 + len)
            val actual = crc32(p.slice(off + 4, off + 8), data)
            require(stored == actual, f"IHDR CRC mismatch: $stored%08x vs $actual%08x")
            meta = Some((rd32(data, 0), rd32(data, 4), data(9) & 0xff))
          case "IDAT" => idat += len
          case _ => ()
        }
        off += 12 + len
      }
      val (w, h, ct) = meta.getOrElse(throw new IllegalArgumentException("no IHDR"))
      PngMeta(w, h, ct, idat)
    }

    def widthFor(id: Long): Long = 16L + id % 1000
    def heightFor(id: Long): Long = 16L + id % 777
    def colorTypeFor(id: Long): Int = ((id % 2) * 2).toInt // 0 gray, 2 truecolor
  }

  private val c6f = QuerySpec(
    "c6f_png_header",
    "PNG IHDR metadata extraction: a real PNG container built per record (big-endian IHDR, genuine CRC32 over type+data, IDAT stub), width/height/color type recovered by walking the chunks and RE-VERIFYING the CRC in mapPartitions; per color-type rollup with exact pixel totals — parse(build(x)) must equal the planted closed form.",
    Some("""WITH m AS (SELECT doc_id,
              CAST(16 + doc_id % 1000 AS BIGINT) AS width,
              CAST(16 + doc_id % 777 AS BIGINT) AS height,
              CAST((doc_id % 2) * 2 AS BIGINT) AS color_type,
              CAST(length(text) AS BIGINT) AS idat_bytes
              FROM documents)
            SELECT color_type, COUNT(*) AS n,
              CAST(SUM(width * height) AS BIGINT) AS total_pixels,
              CAST(MAX(width) AS BIGINT) AS max_width,
              CAST(MAX(height) AS BIGINT) AS max_height,
              CAST(SUM(idat_bytes) AS BIGINT) AS total_idat
            FROM m GROUP BY color_type ORDER BY color_type"""),
    (s, d) => {
      import s.implicits._
      val pngs = Tables.documents(s, d)
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, payload) =>
          (id, PngCodec.build(PngCodec.widthFor(id), PngCodec.heightFor(id),
            PngCodec.colorTypeFor(id), payload))
        })
      pngs
        .mapPartitions(_.map { case (id, p) =>
          val m = PngCodec.parse(p)
          (id, m.width, m.height, m.colorType.toLong, m.idatBytes)
        })
        .toDF("media_id", "width", "height", "color_type", "idat_bytes")
        .groupBy($"color_type")
        .agg(count(lit(1)).as("n"),
          sum($"width" * $"height").cast(LongType).as("total_pixels"),
          max($"width").as("max_width"), max($"height").as("max_height"),
          sum($"idat_bytes").cast(LongType).as("total_idat"))
        .orderBy($"color_type")
    }
  )

  // ----------------------------------------------------- c6g_tiff_header
  /** TIFF IFD metadata extraction — the DUAL-ENDIAN member of the codec
    * family (WAV = little-endian chunk list, PNG = big-endian + CRC, and
    * now a format whose byte order is DECLARED IN THE FILE): records
    * alternate between II (little) and MM (big) containers by id, the
    * builder emits genuinely different bytes for each, and ONE parser
    * must read the order mark, verify magic 42 under that order, and
    * walk the IFD entries (tag/type/count/value) to recover
    * width/height. A parser that hardcodes either order fails half the
    * corpus — that is the planted trap. parse(build(x)) must equal the
    * closed form, censused per byte order.
    *
    * Scale posture: per-row mapPartitions build+parse; one ≤2-row rollup.
    */
  object TiffCodec {
    private def u16(v: Int, le: Boolean): Array[Byte] =
      if (le) Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      else Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def u32(v: Long, le: Boolean): Array[Byte] =
      if (le) Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      else Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def rd16(p: Array[Byte], o: Int, le: Boolean): Int =
      if (le) (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
      else ((p(o) & 0xff) << 8) | (p(o + 1) & 0xff)
    private def rd32(p: Array[Byte], o: Int, le: Boolean): Long =
      if (le) (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) |
        ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)
      else ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)

    private def entry(tag: Int, value: Long, le: Boolean): Array[Byte] =
      u16(tag, le) ++ u16(4, le) ++ u32(1L, le) ++ u32(value, le) // type 4 = LONG

    /** Minimal single-IFD TIFF: header, 2-entry IFD (ImageWidth 256,
      * ImageLength 257), zero next-IFD, payload appended after.
      */
    def build(width: Long, height: Long, le: Boolean, payload: Array[Byte]): Array[Byte] = {
      val order = if (le) "II" else "MM"
      order.getBytes("ISO-8859-1") ++ u16(42, le) ++ u32(8L, le) ++
        u16(2, le) ++ entry(256, width, le) ++ entry(257, height, le) ++
        u32(0L, le) ++ payload
    }

    final case class TiffMeta(width: Long, height: Long, littleEndian: Boolean)

    /** Order-mark dispatch + magic check + IFD walk — loud-throw. */
    def parse(p: Array[Byte]): TiffMeta = {
      require(p.length >= 8, "truncated TIFF header")
      val order = new String(p.slice(0, 2), "ISO-8859-1")
      val le = order match {
        case "II" => true
        case "MM" => false
        case o => throw new IllegalArgumentException(s"not a TIFF order mark: $o")
      }
      require(rd16(p, 2, le) == 42, "bad TIFF magic")
      val ifd = rd32(p, 4, le).toInt
      val n = rd16(p, ifd, le)
      var w = -1L; var h = -1L
      var i = 0
      while (i < n) {
        val off = ifd + 2 + i * 12
        rd16(p, off, le) match {
          case 256 => w = rd32(p, off + 8, le)
          case 257 => h = rd32(p, off + 8, le)
          case _ => ()
        }
        i += 1
      }
      require(w >= 0 && h >= 0, "IFD missing ImageWidth/ImageLength")
      TiffMeta(w, h, le)
    }

    def widthFor(id: Long): Long = 32L + id % 1920
    def heightFor(id: Long): Long = 32L + id % 1080
    def littleFor(id: Long): Boolean = id % 2 == 0
  }

  private val c6g = QuerySpec(
    "c6g_tiff_header",
    "TIFF IFD metadata extraction with in-file byte order: records alternate II/MM containers by id, one parser dispatches on the order mark, verifies magic 42, and walks the IFD to recover width/height in mapPartitions — per-byte-order rollup; a parser hardcoding either endianness fails half the corpus.",
    Some("""WITH m AS (SELECT doc_id,
              CAST(32 + doc_id % 1920 AS BIGINT) AS width,
              CAST(32 + doc_id % 1080 AS BIGINT) AS height,
              CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order
              FROM documents)
            SELECT byte_order, COUNT(*) AS n,
              CAST(SUM(width * height) AS BIGINT) AS total_pixels,
              CAST(MAX(width) AS BIGINT) AS max_width,
              CAST(MAX(height) AS BIGINT) AS max_height
            FROM m GROUP BY byte_order ORDER BY byte_order"""),
    (s, d) => {
      import s.implicits._
      val tiffs = Tables.documents(s, d)
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, payload) =>
          (id, TiffCodec.build(TiffCodec.widthFor(id), TiffCodec.heightFor(id),
            TiffCodec.littleFor(id), payload))
        })
      tiffs
        .mapPartitions(_.map { case (id, p) =>
          val m = TiffCodec.parse(p)
          (id, m.width, m.height, if (m.littleEndian) "II" else "MM")
        })
        .toDF("media_id", "width", "height", "byte_order")
        .groupBy($"byte_order")
        .agg(count(lit(1)).as("n"),
          sum($"width" * $"height").cast(LongType).as("total_pixels"),
          max($"width").as("max_width"), max($"height").as("max_height"))
        .orderBy($"byte_order")
    }
  )

  // ----------------------------------------------------- c6h dHash dedup
  /** Perceptual-hash near-dup detection over the BINARY media column —
    * the image-dedup stage every multimodal training pipeline runs, and
    * the visual analog of the text tier's SimHash: a 56-bit difference
    * hash (dHash) per payload, 4×14-bit band blocking, Hamming refine.
    *
    * The "resize to an 8×8 grid" step of real dHash is, like every
    * decode in this family, a deterministic byte-level stand-in (no
    * image libs in this container): grid value k samples the payload at
    * byte (k·7 mod min(nbytes, 449)) — length-normalized over the first
    * 448 bytes so trailing edits don't shift every sample, which is
    * exactly the robustness property real downscaling provides. Each of
    * the 8 rows compares its 8 samples pairwise (7 bits/row → 56 bits;
    * 56 not 64 keeps every band mask and the pack itself clear of the
    * BIGINT sign bit). A production codec swaps [[MediaCodec.dHash]]'s
    * sampler for real luma pixels; everything downstream — banding,
    * bucket cap, Hamming join — is the shipping path.
    *
    * Banding semantics are the standard LSH contract: hamming ≤ 3 pairs
    * are GUARANTEED caught (pigeonhole over 4 bands), 4–6 probabilistic —
    * same recall trade the SimHash operator documents. Buckets hotter
    * than [[DHashBucketCap]] are dropped whole (boilerplate media, not
    * dup signal — the df-cap discipline), so worst-case join fan-out is
    * cap² per bucket, never corpus².
    *
    * Oracle replay: payload bytes ≡ ASCII chars (TablesSpec canary), so
    * DuckDB rebuilds every grid sample via ord(substr(...)), packs the
    * same 56 bits, and replays banding + xor/bit_count exactly — all
    * integers.
    */
  private val DHashBucketCap = 256
  object DHash {
    /** 56-bit difference hash of a payload (stub sampler, real packing). */
    def dHash(payload: Array[Byte]): Long = {
      val m = math.min(payload.length, 449)
      if (m == 0) return 0L
      var h = 0L
      var k = 0
      var bit = 0
      while (k < 63) {
        if (k % 8 < 7) {
          val a = payload((k * 7) % m) & 0xff
          val b = payload(((k + 1) * 7) % m) & 0xff
          if (b > a) h |= 1L << bit
          bit += 1
        }
        k += 1
      }
      h
    }
  }
  /** dHash near-dup candidate pairs (shared by [[c6h]] and the cluster
    * rollup [[c6i]]): banded bucket join under the cap, Hamming ≤ 6.
    * The result and the hash frame under it are persisted for the
    * query's lifetime ([[graft.CacheRegistry]]).
    */
  private[operators] def dHashPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashes = graft.CacheRegistry.persist(
      mediaRecords(s, d)
        .filter(_.payload.nonEmpty)
        .mapPartitions(_.map(r => (r.media_id, DHash.dHash(r.payload))))
        .toDF("doc_id", "h"))
    val e = hashes
      .select($"doc_id", $"h", explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("(h >> (band * 14)) & CAST(16383 AS BIGINT)"))
    val ok = e.groupBy($"band", $"bv").agg(count(lit(1)).as("n"))
      .filter($"n" <= DHashBucketCap).select($"band", $"bv")
    val kept = e.join(ok, Seq("band", "bv"))
    graft.CacheRegistry.persist(kept
      .select($"band", $"bv", $"doc_id".as("id_a"), $"h".as("ha"))
      .join(kept.select($"band", $"bv", $"doc_id".as("id_b"), $"h".as("hb")),
        Seq("band", "bv"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b", $"ha", $"hb").distinct()
      .withColumn("ham", bit_count($"ha".bitwiseXOR($"hb")).cast(LongType))
      .filter($"ham" <= 6)
      .select($"id_a", $"id_b", $"ham"))
  }

  private val c6h = QuerySpec(
    "c6h_dhash_pairs",
    s"Perceptual dHash near-dup pairs over the binary media column: 56-bit difference hash in mapPartitions (stub byte sampler, real packing), 4x14-bit band blocking with a $DHashBucketCap-doc bucket cap, bit_count(xor) Hamming refine <= 6 — (id_a, id_b, ham); hamming<=3 recall guaranteed by pigeonhole, the image analog of c2_simhash.",
    Some(s"""WITH k AS (SELECT unnest(range(0, 64)) AS k),
            |g AS (SELECT d.doc_id, k.k,
            |    ord(substr(d.text, CAST((k.k*7) % least(length(d.text), 449) + 1 AS INTEGER), 1)) AS v
            |  FROM documents d CROSS JOIN k WHERE length(d.text) > 0),
            |b AS (SELECT a.doc_id,
            |    CAST(SUM(CASE WHEN nx.v > a.v THEN CAST(1 AS BIGINT) << CAST(a.k - a.k // 8 AS INTEGER) ELSE 0 END) AS BIGINT) AS h
            |  FROM g a JOIN g nx ON nx.doc_id = a.doc_id AND nx.k = a.k + 1
            |  WHERE a.k % 8 < 7 GROUP BY a.doc_id),
            |e AS (SELECT doc_id, h, band, (h >> CAST(band*14 AS INTEGER)) & 16383 AS bv
            |  FROM (SELECT doc_id, h, unnest(range(0, 4)) AS band FROM b)),
            |kept AS (SELECT e.* FROM e JOIN (
            |    SELECT band, bv FROM e GROUP BY band, bv HAVING COUNT(*) <= $DHashBucketCap) ok
            |  ON ok.band = e.band AND ok.bv = e.bv),
            |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.h AS ha, y.h AS hb
            |  FROM kept x JOIN kept y ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
            |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS ham
            |FROM cand WHERE bit_count(xor(ha, hb)) <= 6
            |ORDER BY id_a, id_b""".stripMargin),
    (s, d) => {
      import s.implicits._
      dHashPairs(s, d).orderBy($"id_a", $"id_b")
    }
  )

  // ----------------------------------------------------- c6i media dedup
  /** Media dedup end-to-end — the [[c6h]] pair graph closed into CLUSTERS
    * and priced: star-contraction connected components over the dHash
    * pairs (the same audited CC every text dedup stage runs), then a
    * keep-best representative per cluster (largest payload, doc_id
    * tie-break — "keep the highest-resolution copy") and the byte savings
    * deleting the rest would buy. The image-pipeline twin of
    * `c2_dedup_corpus` + `c1w_dedup_savings`.
    *
    * Oracle: the c6h banding chain feeds a recursive-reachability CTE
    * restricted to paired docs (the c2_cluster replay discipline);
    * keep-best replays as a row_number over (nbytes DESC, doc_id) — no
    * arg_max, whose tie rule differs between engines.
    *
    * Scale shape: pair mine as c6h (capped buckets); CC is O(log n)
    * star contraction on a pair-bounded node set; the rollup is one
    * partial-agged groupBy(cluster) plus a deterministic per-cluster
    * top-1 window (WindowGroupLimit prunes map-side).
    */
  private val c6i = QuerySpec(
    "c6i_media_dedup",
    "Media dedup clusters: star-contraction CC over the c6h dHash pair graph, keep-best representative per cluster (max payload bytes, doc_id tie-break) and exact bytes shed — cluster id/size/rep/total/shed; the image twin of c2_dedup_corpus + c1w_dedup_savings.",
    Some(s"""WITH RECURSIVE k AS (SELECT unnest(range(0, 64)) AS k),
            |g AS (SELECT d.doc_id, k.k,
            |    ord(substr(d.text, CAST((k.k*7) % least(length(d.text), 449) + 1 AS INTEGER), 1)) AS v
            |  FROM documents d CROSS JOIN k WHERE length(d.text) > 0),
            |b AS (SELECT a.doc_id,
            |    CAST(SUM(CASE WHEN nx.v > a.v THEN CAST(1 AS BIGINT) << CAST(a.k - a.k // 8 AS INTEGER) ELSE 0 END) AS BIGINT) AS h
            |  FROM g a JOIN g nx ON nx.doc_id = a.doc_id AND nx.k = a.k + 1
            |  WHERE a.k % 8 < 7 GROUP BY a.doc_id),
            |e0 AS (SELECT doc_id, h, band, (h >> CAST(band*14 AS INTEGER)) & 16383 AS bv
            |  FROM (SELECT doc_id, h, unnest(range(0, 4)) AS band FROM b)),
            |kept AS (SELECT e0.* FROM e0 JOIN (
            |    SELECT band, bv FROM e0 GROUP BY band, bv HAVING COUNT(*) <= $DHashBucketCap) ok
            |  ON ok.band = e0.band AND ok.bv = e0.bv),
            |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.h AS ha, y.h AS hb
            |  FROM kept x JOIN kept y ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id),
            |prs AS (SELECT id_a, id_b FROM cand WHERE bit_count(xor(ha, hb)) <= 6),
            |e AS (SELECT id_a AS s, id_b AS d FROM prs UNION ALL SELECT id_b, id_a FROM prs),
            |n AS (SELECT DISTINCT s AS id FROM e),
            |reach AS (SELECT id, id AS root FROM n
            |  UNION
            |  SELECT e.d, reach.root FROM reach JOIN e ON e.s = reach.id),
            |lbl AS (SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY id),
            |mem AS (SELECT l.cluster_id, l.doc_id, CAST(length(d.text) AS BIGINT) AS nbytes
            |  FROM lbl l JOIN documents d ON d.doc_id = l.doc_id),
            |rep AS (SELECT cluster_id, doc_id AS rep_id, nbytes AS rep_bytes FROM (
            |    SELECT cluster_id, doc_id, nbytes,
            |      row_number() OVER (PARTITION BY cluster_id ORDER BY nbytes DESC, doc_id) AS rn
            |    FROM mem) WHERE rn = 1)
            |SELECT m.cluster_id, CAST(COUNT(*) AS BIGINT) AS sz, r.rep_id,
            |  CAST(SUM(m.nbytes) AS BIGINT) AS total_bytes,
            |  CAST(SUM(m.nbytes) - r.rep_bytes AS BIGINT) AS shed_bytes
            |FROM mem m JOIN rep r ON r.cluster_id = m.cluster_id
            |GROUP BY m.cluster_id, r.rep_id, r.rep_bytes ORDER BY m.cluster_id""".stripMargin),
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val pairs = graft.CacheRegistry.persist(
        dHashPairs(s, d).select($"id_a", $"id_b"))
      val nodes = pairs.select($"id_a".as("id"))
        .union(pairs.select($"id_b".as("id"))).distinct()
      val labels = TierCSim.connectedComponentsStar(s, nodes,
        pairs.select($"id_a".as("src"), $"id_b".as("dst")))
      val mem = labels.select($"id".as("doc_id"), $"cluster".as("cluster_id"))
        .join(Tables.documents(s, d)
          .select($"doc_id", length($"text").cast(LongType).as("nbytes")), Seq("doc_id"))
      val rep = mem
        .withColumn("rn", row_number().over(
          Window.partitionBy($"cluster_id").orderBy($"nbytes".desc, $"doc_id")))
        .filter($"rn" === 1)
        .select($"cluster_id", $"doc_id".as("rep_id"), $"nbytes".as("rep_bytes"))
      mem.groupBy($"cluster_id")
        .agg(count(lit(1)).as("sz"), sum($"nbytes").cast(LongType).as("total_bytes"))
        .join(rep, Seq("cluster_id"))
        .select($"cluster_id", $"sz", $"rep_id", $"total_bytes",
          ($"total_bytes" - $"rep_bytes").cast(LongType).as("shed_bytes"))
        .orderBy($"cluster_id")
    }
  )


  // ----------------------------------------------------- c6j scene cuts
  /** Frame-delta scene-cut detection — the video-segmentation batch
    * stage: the payload fans out to consecutive fixed-size frames
    * ([[MediaCodecTransforms.sampleFrames]], every frame), each frame
    * reduces to its exact byte checksum ([[MediaCodec.checksum]] — a
    * real pipeline would use a perceptual frame feature; the checksum is
    * the codec-free stand-in with the same shape), and a cut fires where
    * the frame-to-frame checksum delta exceeds the threshold. Per media:
    * frame count, cut count, first cut position, max delta — the shot
    * table a video curation pipeline samples keyframes from.
    *
    * Oracle: ASCII char≡byte (the c6b replay), so DuckDB rebuilds every
    * frame checksum as a SUM of ord() over the exact slice and replays
    * the lag/threshold chain — all integers, no quantization at all.
    *
    * Scale shape: mapPartitions frame fan-out (no shuffle), ONE window
    * keyed on media_id for the lag, one partial-agged rollup. Media with
    * fewer than two full frames have no transitions and drop from both
    * engines identically.
    */
  private val SceneFrame = 128
  private val SceneCutDelta = 300L
  private val c6j = QuerySpec(
    "c6j_scene_cut",
    s"Frame-delta scene cuts: payloads fan out to consecutive $SceneFrame-byte frames in mapPartitions, exact byte-sum checksums, cut where |delta| > $SceneCutDelta via a media-keyed lag window — per-media frame/cut counts, first cut, max delta; all-integer, the video-segmentation batch shape.",
    Some(s"""WITH d AS (SELECT doc_id, text, length(text) // $SceneFrame AS nf
            |  FROM documents WHERE length(text) >= ${2 * SceneFrame}),
            |f AS (SELECT doc_id, CAST(unnest(range(0, nf)) AS BIGINT) AS fno, text FROM d),
            |ch AS (SELECT doc_id, fno,
            |    CAST(SUM(ord(substr(text, CAST(fno*$SceneFrame + i AS INTEGER), 1))) AS BIGINT) AS csum
            |  FROM f, (SELECT unnest(range(1, ${SceneFrame + 1})) AS i) GROUP BY doc_id, fno),
            |dl AS (SELECT doc_id, fno, csum,
            |    abs(csum - lag(csum) OVER (PARTITION BY doc_id ORDER BY fno)) AS delta FROM ch)
            |SELECT doc_id AS media_id,
            |  CAST(COUNT(*) AS BIGINT) AS n_frames,
            |  CAST(SUM(CASE WHEN delta > $SceneCutDelta THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
            |  CAST(COALESCE(MIN(CASE WHEN delta > $SceneCutDelta THEN fno END), -1) AS BIGINT) AS first_cut,
            |  CAST(COALESCE(MAX(delta), 0) AS BIGINT) AS max_delta
            |FROM dl GROUP BY doc_id ORDER BY media_id""".stripMargin),
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val frames = mediaRecords(s, d)
        .mapPartitions(_.flatMap(r =>
          MediaCodecTransforms.sampleFrames(r.payload, SceneFrame, 1).map {
            case (no, _, bytes) => (r.media_id, no.toLong, MediaCodec.checksum(bytes))
          }))
        .toDF("media_id", "fno", "csum")
      val dl = frames.withColumn("delta",
        abs($"csum" - lag($"csum", 1).over(
          Window.partitionBy($"media_id").orderBy($"fno"))))
      dl.groupBy($"media_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(when($"delta" > SceneCutDelta, 1L).otherwise(0L)).cast(LongType).as("n_cuts"),
          coalesce(min(when($"delta" > SceneCutDelta, $"fno")), lit(-1L)).cast(LongType).as("first_cut"),
          coalesce(max($"delta"), lit(0L)).cast(LongType).as("max_delta"))
        .filter($"n_frames" >= 2)
        .orderBy($"media_id")
    }
  )


  // ----------------------------------------------------- c6k keyframes
  /** Keyframe extraction — the stage a video curation pipeline runs right
    * after [[c6j]]'s cut detection: every cut opens a new SHOT, and each
    * shot contributes its FIRST frame as the keyframe the vision encoder
    * sees (one representative per shot, not per frame — the standard
    * token-budget move). Emits (media, shot, keyframe position, md5 of
    * the exact keyframe bytes, shot length) — the c6b slice-hash
    * evidence discipline on the c6j shot structure.
    *
    * Scale shape: the same mapPartitions frame fan-out as c6j (frame
    * bytes ride the one media-keyed exchange at 128 B/row), two window
    * passes (lag delta, running shot id) on that single exchange, one
    * rollup, and a (media, fno) self-join to fetch the keyframe hash —
    * co-keyed with the exchange it came from.
    */
  private val c6k = QuerySpec(
    "c6k_keyframes",
    s"Keyframe extraction: shots = cut-delimited frame islands (c6j deltas, running-sum shot ids), keyframe = first frame per shot with md5-of-slice evidence and shot length — per-media shot table; same single media-keyed exchange as c6j plus one co-keyed hash fetch.",
    Some(s"""WITH d AS (SELECT doc_id, text, length(text) // $SceneFrame AS nf
            |  FROM documents WHERE length(text) >= ${2 * SceneFrame}),
            |f AS (SELECT doc_id, CAST(unnest(range(0, nf)) AS BIGINT) AS fno, text FROM d),
            |ch AS (SELECT doc_id, fno, text,
            |    CAST(SUM(ord(substr(text, CAST(fno*$SceneFrame + i AS INTEGER), 1))) AS BIGINT) AS csum
            |  FROM f, (SELECT unnest(range(1, ${SceneFrame + 1})) AS i) GROUP BY doc_id, fno, text),
            |dl AS (SELECT doc_id, fno, text,
            |    abs(csum - lag(csum) OVER (PARTITION BY doc_id ORDER BY fno)) AS delta FROM ch),
            |sh AS (SELECT doc_id, fno, text,
            |    CAST(SUM(CASE WHEN delta IS NOT NULL AND delta > $SceneCutDelta THEN 1 ELSE 0 END)
            |      OVER (PARTITION BY doc_id ORDER BY fno
            |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS shot
            |  FROM dl)
            |SELECT doc_id AS media_id, shot,
            |  MIN(fno) AS kf_fno,
            |  md5(substr(MIN(text), CAST(MIN(fno) * $SceneFrame + 1 AS INTEGER), $SceneFrame)) AS kf_md5,
            |  CAST(COUNT(*) AS BIGINT) AS shot_frames
            |FROM sh GROUP BY doc_id, shot ORDER BY media_id, shot""".stripMargin),
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val frames = mediaRecords(s, d)
        .mapPartitions(_.flatMap(r =>
          MediaCodecTransforms.sampleFrames(r.payload, SceneFrame, 1).map {
            case (no, _, bytes) => (r.media_id, no.toLong, MediaCodec.checksum(bytes), bytes)
          }))
        .toDF("media_id", "fno", "csum", "frame")
      val wLag = Window.partitionBy($"media_id").orderBy($"fno")
      val wRun = Window.partitionBy($"media_id").orderBy($"fno")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sh = frames
        .withColumn("nf", count(lit(1)).over(Window.partitionBy($"media_id")))
        .filter($"nf" >= 2)
        .withColumn("delta", abs($"csum" - lag($"csum", 1).over(wLag)))
        .withColumn("shot", sum(when($"delta".isNotNull && $"delta" > SceneCutDelta, 1L)
          .otherwise(0L)).over(wRun))
      val shots = sh.groupBy($"media_id", $"shot")
        .agg(min($"fno").as("kf_fno"), count(lit(1)).as("shot_frames"))
      shots.join(sh.select($"media_id", $"fno".as("kf_fno"), md5($"frame").as("kf_md5")),
          Seq("media_id", "kf_fno"))
        .select($"media_id", $"shot", $"kf_fno", $"kf_md5", $"shot_frames")
        .orderBy($"media_id", $"shot")
    }
  )

  // ----------------------------------------------------- c6l_gif_header
  /** GIF logical-screen-descriptor extraction — the third byte-order
    * regime after [[WavCodec]] (LE RIFF) and [[PngCodec]] (BE chunks):
    * GIF is little-endian with BIT-PACKED descriptor flags and
    * length-prefixed data sub-blocks. Build a REAL container per record
    * (GIF87a/89a header, LE u16 dims, packed GCT-flag/color-resolution/
    * GCT-size byte, a deterministic global color table of 2^(bits+1)
    * entries, image descriptor, LZW stub carrying the payload as ≤255-byte
    * sub-blocks, trailer), then recover version/dims/GCT size/data bytes
    * by walking the blocks with the loud-throw discipline: a descriptor
    * that disagrees with the LSD, a surprise local color table, or an
    * unknown block tag all fail the parse instead of yielding plausible
    * garbage. parse(build(x)) must equal the planted closed form.
    *
    * Scale posture: build and parse are per-row mapPartitions work; the
    * only shuffle is the ≤8-row rollup.
    */
  object GifCodec {
    private def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private def rd16(p: Array[Byte], o: Int): Int =
      (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)

    def build(version89: Boolean, width: Int, height: Int, gctBits: Int,
        payload: Array[Byte]): Array[Byte] = {
      require(width > 0 && width <= 0xffff && height > 0 && height <= 0xffff &&
        gctBits >= 0 && gctBits <= 7, s"bad GIF params ($width, $height, $gctBits)")
      val hdr = (if (version89) "GIF89a" else "GIF87a").getBytes("ISO-8859-1")
      // GCT present | color resolution 8 bpp | GCT size bits
      val packed = (0x80 | (7 << 4) | gctBits).toByte
      val lsd = le16(width) ++ le16(height) ++ Array(packed, 0.toByte, 0.toByte)
      val entries = 1 << (gctBits + 1)
      val gct = new Array[Byte](3 * entries)
      var i = 0
      while (i < entries) { // deterministic palette
        gct(3 * i) = i.toByte; gct(3 * i + 1) = (255 - i).toByte
        gct(3 * i + 2) = (i ^ 0x55).toByte
        i += 1
      }
      val imgDesc = Array(0x2c.toByte) ++ le16(0) ++ le16(0) ++
        le16(width) ++ le16(height) ++ Array(0.toByte)
      val sub = payload.grouped(255)
        .flatMap(b => Array(b.length.toByte) ++ b).toArray
      hdr ++ lsd ++ gct ++ imgDesc ++ Array(8.toByte) ++ sub ++
        Array(0.toByte, 0x3b.toByte)
    }

    final case class GifMeta(
        version89: Boolean, width: Int, height: Int, gctEntries: Int, dataBytes: Long)

    /** Block walk with the loud-throw discipline. */
    def parse(p: Array[Byte]): GifMeta = {
      val ver = new String(p.slice(0, 6), "ISO-8859-1")
      require(ver == "GIF89a" || ver == "GIF87a", s"not a GIF: $ver")
      val width = rd16(p, 6); val height = rd16(p, 8)
      val packed = p(10) & 0xff
      require((packed & 0x80) != 0, "expected a global color table")
      val entries = 1 << ((packed & 0x07) + 1)
      var off = 13 + 3 * entries
      var data = 0L
      var done = false
      while (!done) {
        (p(off) & 0xff) match {
          case 0x2c =>
            val iw = rd16(p, off + 5); val ih = rd16(p, off + 7)
            require(iw == width && ih == height,
              s"image descriptor ($iw x $ih) disagrees with LSD ($width x $height)")
            require((p(off + 9) & 0x80) == 0, "unexpected local color table")
            off += 11 // descriptor (10) + LZW min code size (1)
            var len = p(off) & 0xff
            while (len != 0) { data += len; off += 1 + len; len = p(off) & 0xff }
            off += 1
          case 0x3b => done = true
          case b => throw new IllegalArgumentException(
            f"unexpected GIF block 0x$b%02x at $off")
        }
      }
      GifMeta(ver == "GIF89a", width, height, entries, data)
    }

    def widthFor(id: Long): Int = (8 + id % 640).toInt
    def heightFor(id: Long): Int = (8 + id % 480).toInt
    def gctBitsFor(id: Long): Int = (id % 8).toInt
    def version89For(id: Long): Boolean = id % 2 == 0
  }

  // ----------------------------------------------------- c6m_png_strip
  /** PNG metadata strip — the privacy transform a media ingest runs
    * before training (EXIF/author/location metadata must not reach the
    * corpus): containers are built WITH planted ancillary chunks (a tEXt
    * comment carrying the source tag and a 7-byte tIME), then
    * [[PngCodec.strip]] walks the chunk list and keeps only the critical
    * set (IHDR/PLTE/IDAT/IEND), re-verifying the IHDR CRC on the way.
    * strip(buildWithMeta(x)) must byte-equal build(x) — asserted per row
    * — and the removed byte count replays from the planted closed form.
    *
    * Scale posture: per-row mapPartitions byte work; one ≤2-row rollup.
    */
  object PngStrip {
    private val Critical = Set("IHDR", "PLTE", "IDAT", "IEND")

    /** Keeps only critical chunks; verifies the walk via [[PngCodec.parse]]
      * loud-throw semantics (signature + IHDR CRC).
      */
    def strip(p: Array[Byte]): Array[Byte] = {
      PngCodec.parse(p) // loud verification of signature + IHDR CRC
      val buf = new java.io.ByteArrayOutputStream(p.length)
      buf.write(p, 0, 8) // signature
      var off = 8
      while (off + 12 <= p.length) {
        val len = ((p(off) & 0xff) << 24) | ((p(off + 1) & 0xff) << 16) |
          ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff)
        val tag = new String(p, off + 4, 4, "ISO-8859-1")
        val total = 12 + len
        if (Critical(tag)) buf.write(p, off, total)
        off += total
      }
      buf.toByteArray
    }
  }

  private val c6m = QuerySpec(
    "c6m_png_strip",
    "PNG metadata strip (the pre-training privacy transform): containers built with planted tEXt + tIME ancillary chunks, stripped back to the critical chunk set in mapPartitions with strip(buildWithMeta(x)) == build(x) asserted per row; per color-type rollup of exact removed-byte totals replaying the planted closed form.",
    Some("""WITH m AS (SELECT doc_id, source,
              CAST((doc_id % 2) * 2 AS BIGINT) AS color_type,
              CAST(12 + 8 + length(source) + 12 + 7 AS BIGINT) AS removed
              FROM documents)
            SELECT color_type, COUNT(*) AS n,
              CAST(SUM(removed) AS BIGINT) AS bytes_removed,
              CAST(MIN(removed) AS BIGINT) AS min_removed,
              CAST(MAX(removed) AS BIGINT) AS max_removed
            FROM m GROUP BY color_type ORDER BY color_type"""),
    (s, d) => {
      import s.implicits._
      val recs = Tables.documents(s, d)
        .select($"doc_id", $"source", encode($"text", "UTF-8").as("payload"))
        .as[(Long, String, Array[Byte])]
      recs.mapPartitions(_.map { case (id, source, payload) =>
          val clean = PngCodec.build(PngCodec.widthFor(id), PngCodec.heightFor(id),
            PngCodec.colorTypeFor(id), payload)
          // plant a tEXt ("Comment\0" + source) and a 7-byte tIME chunk
          // between IHDR and IDAT: rebuild with the same chunk writer
          val sig = clean.slice(0, 8)
          val ihdrTotal = 12 + 13
          val ihdr = clean.slice(8, 8 + ihdrTotal)
          val rest = clean.drop(8 + ihdrTotal)
          val tData = ("Comment\u0000" + source).getBytes("ISO-8859-1")
          val tChunk = PngCodec.chunkFor("tEXt", tData)
          val timeChunk = PngCodec.chunkFor("tIME", Array[Byte](7, -56, 1, 1, 0, 0, 0))
          val dirty = sig ++ ihdr ++ tChunk ++ timeChunk ++ rest
          val stripped = PngStrip.strip(dirty)
          require(java.util.Arrays.equals(stripped, clean),
            s"strip(buildWithMeta) must equal build for doc $id")
          (PngCodec.colorTypeFor(id).toLong, (dirty.length - stripped.length).toLong)
        })
        .toDF("color_type", "removed")
        .groupBy($"color_type")
        .agg(count(lit(1)).as("n"),
          sum($"removed").cast(LongType).as("bytes_removed"),
          min($"removed").as("min_removed"), max($"removed").as("max_removed"))
        .orderBy($"color_type")
    }
  )

  private val c6l = QuerySpec(
    "c6l_gif_header",
    "GIF logical screen descriptor extraction: a real GIF container built per record (87a/89a header by id parity, LE u16 dims, bit-packed GCT byte, deterministic palette, length-prefixed LZW sub-blocks), version/dims/GCT size/data bytes recovered by walking the blocks in mapPartitions with loud-throw verification; per GCT-bits rollup with exact totals — parse(build(x)) must equal the planted closed form.",
    Some("""WITH m AS (SELECT doc_id,
              CAST(doc_id % 8 AS BIGINT) AS gct_bits,
              CAST(8 + doc_id % 640 AS BIGINT) AS width,
              CAST(8 + doc_id % 480 AS BIGINT) AS height,
              CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS is89,
              CAST(length(text) AS BIGINT) AS data_bytes
              FROM documents)
            SELECT gct_bits, COUNT(*) AS n,
              CAST(SUM(is89) AS BIGINT) AS n_89a,
              CAST((CAST(1 AS BIGINT) << CAST(gct_bits + 1 AS INTEGER)) AS BIGINT) AS gct_entries,
              CAST(SUM(width * height) AS BIGINT) AS total_pixels,
              CAST(SUM(data_bytes) AS BIGINT) AS total_data
            FROM m GROUP BY gct_bits ORDER BY gct_bits"""),
    (s, d) => {
      import s.implicits._
      val gifs = Tables.documents(s, d)
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, payload) =>
          (id, GifCodec.build(GifCodec.version89For(id), GifCodec.widthFor(id),
            GifCodec.heightFor(id), GifCodec.gctBitsFor(id), payload))
        })
      gifs
        .mapPartitions(_.map { case (id, p) =>
          val m = GifCodec.parse(p)
          // the GCT-bits group key is re-derived from the PARSED entry
          // count (entries = 2^(bits+1)) — the planted id % 8 never
          // touches the output path
          (id, if (m.version89) 1L else 0L, m.width.toLong, m.height.toLong,
            (31 - Integer.numberOfLeadingZeros(m.gctEntries)).toLong - 1L, m.dataBytes)
        })
        .toDF("media_id", "is89", "width", "height", "gct_bits", "data_bytes")
        .groupBy($"gct_bits")
        .agg(count(lit(1)).as("n"),
          sum($"is89").cast(LongType).as("n_89a"),
          sum($"width" * $"height").cast(LongType).as("total_pixels"),
          sum($"data_bytes").cast(LongType).as("total_data"))
        .select($"gct_bits", $"n", $"n_89a",
          expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(gct_bits + 1 AS INT)) AS BIGINT)")
            .as("gct_entries"),
          $"total_pixels", $"total_data")
        .orderBy($"gct_bits")
    }
  )

  // ----------------------------------------------------- c6n_mp4_boxes
  /** ISO-BMFF (MP4) box walk — the video-container transpose of the
    * [[WavCodec]] RIFF and [[PngCodec]] chunk walks: build a REAL MP4
    * skeleton per record (`ftyp` with planted major brand, `moov`
    * containing a spec-layout 100-byte `mvhd` v0 with big-endian u32
    * timescale/duration, `mdat` carrying the payload), then recover
    * brand, timescale, duration, and mdat size by genuinely walking the
    * top-level box list — including the 64-bit `largesize == 1` escape
    * (parsed, exercised by MultimodalSpec) and the nested moov→mvhd
    * descent with version-1 (u64 duration) support. Exact integer
    * duration: ms = duration·1000 // timescale. parse(build(x)) must
    * equal the planted closed form (the c6d/c6e/c6f discipline).
    *
    * Scale posture: build and parse are per-row mapPartitions byte work;
    * the only shuffle is the ≤6-row (brand × timescale) rollup.
    */
  object Mp4Codec {
    private def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def rd32(p: Array[Byte], o: Int): Long =
      ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    private def rd64(p: Array[Byte], o: Int): Long =
      (rd32(p, o) << 32) | rd32(p, o + 4)
    private def tag4(p: Array[Byte], o: Int): String =
      new String(p, o, 4, "ISO-8859-1")
    private def box(tag: String, data: Array[Byte]): Array[Byte] =
      be32(8L + data.length) ++ tag.getBytes("ISO-8859-1") ++ data

    def build(brand: String, timescale: Long, duration: Long, payload: Array[Byte]): Array[Byte] = {
      require(brand.length == 4, "major brand is a 4CC")
      val ftyp = box("ftyp",
        brand.getBytes("ISO-8859-1") ++ be32(0) ++ "isom".getBytes("ISO-8859-1"))
      // mvhd v0 body is exactly 100 bytes: ver/flags, ctime, mtime,
      // timescale, duration, then rate/volume/reserved/matrix/predefined/
      // next_track_id — zeroed here, but the LENGTH is the spec's
      val mvhd = box("mvhd",
        Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
          be32(timescale) ++ be32(duration) ++ new Array[Byte](80))
      ftyp ++ box("moov", mvhd) ++ box("mdat", payload)
    }

    final case class Mp4Meta(
        brand: String, timescale: Long, duration: Long,
        mdatBytes: Long, nBoxes: Long)

    /** Top-level box walk + moov→mvhd descent; loud-throw discipline. */
    def parse(p: Array[Byte]): Mp4Meta = {
      var off = 0L
      var brand: Option[String] = None
      var tsDur: Option[(Long, Long)] = None
      var mdat = 0L
      var n = 0L
      while (off + 8 <= p.length) {
        val o = off.toInt
        var size = rd32(p, o)
        var hdr = 8L
        if (size == 1) { size = rd64(p, o + 8); hdr = 16L } // largesize escape
        require(size >= hdr && off + size <= p.length, s"bad box size $size at $off")
        tag4(p, o + 4) match {
          case "ftyp" => brand = Some(tag4(p, (off + hdr).toInt))
          case "moov" =>
            var co = off + hdr
            val end = off + size
            while (co + 8 <= end) {
              val c = co.toInt
              val csz = rd32(p, c)
              require(csz >= 8 && co + csz <= end, s"bad child box size $csz")
              if (tag4(p, c + 4) == "mvhd") {
                val ver = p(c + 8) & 0xff
                tsDur = Some(
                  if (ver == 0) (rd32(p, c + 20), rd32(p, c + 24))
                  else (rd32(p, c + 28), rd64(p, c + 32))) // v1: u64 times
              }
              co += csz
            }
          case "mdat" => mdat += size - hdr
          case _ => () // free/skip/uuid boxes are legal; walk past
        }
        n += 1
        off += size
      }
      val (ts, dur) = tsDur.getOrElse(throw new IllegalArgumentException("no mvhd"))
      Mp4Meta(brand.getOrElse(throw new IllegalArgumentException("no ftyp")),
        ts, dur, mdat, n)
    }

    def brandFor(id: Long): String = if (id % 2 == 0) "isom" else "mp42"
    def timescaleFor(id: Long): Long = (id % 3) match {
      case 0 => 600L; case 1 => 1000L; case _ => 90000L
    }
    def durationFor(id: Long): Long = 1000L + id % 100000
  }

  private val c6n = QuerySpec(
    "c6n_mp4_boxes",
    "ISO-BMFF (MP4) metadata extraction: a real box skeleton built per record (ftyp brand, moov>mvhd v0 with big-endian timescale/duration, mdat payload), recovered by genuinely walking the top-level boxes (incl. 64-bit largesize escape) and descending into moov in mapPartitions; per (brand, timescale) rollup with exact integer-ms durations — parse(build(x)) must equal the planted closed form.",
    Some("""WITH m AS (SELECT doc_id,
              CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
              CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS BIGINT) AS timescale,
              CAST(1000 + doc_id % 100000 AS BIGINT) AS duration,
              CAST(length(text) AS BIGINT) AS mdat_bytes
              FROM documents),
            t AS (SELECT doc_id, brand, timescale, mdat_bytes,
              CAST(duration * 1000 // timescale AS BIGINT) AS duration_ms
              FROM m)
            SELECT brand, timescale, COUNT(*) AS n,
              CAST(SUM(mdat_bytes) AS BIGINT) AS total_mdat,
              CAST(SUM(duration_ms) AS BIGINT) AS total_duration_ms,
              CAST(MAX(duration_ms) AS BIGINT) AS max_duration_ms
            FROM t GROUP BY brand, timescale ORDER BY brand, timescale"""),
    (s, d) => {
      import s.implicits._
      val mp4s = Tables.documents(s, d)
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, payload) =>
          (id, Mp4Codec.build(Mp4Codec.brandFor(id), Mp4Codec.timescaleFor(id),
            Mp4Codec.durationFor(id), payload))
        })
      mp4s
        .mapPartitions(_.map { case (id, p) =>
          val m = Mp4Codec.parse(p)
          (id, m.brand, m.timescale, m.mdatBytes, m.duration * 1000L / m.timescale)
        })
        .toDF("media_id", "brand", "timescale", "mdat_bytes", "duration_ms")
        .groupBy($"brand", $"timescale")
        .agg(count(lit(1)).as("n"),
          sum($"mdat_bytes").cast(LongType).as("total_mdat"),
          sum($"duration_ms").cast(LongType).as("total_duration_ms"),
          max($"duration_ms").as("max_duration_ms"))
        .orderBy($"brand", $"timescale")
    }
  )

  // ----------------------------------------------------- c6o_jpeg_sof
  /** JPEG marker walk — the third byte-order regime in the codec family
    * (PNG: big-endian chunk list; WAV/GIF/TIFF: little-endian; JPEG:
    * big-endian MARKER stream where segment length INCLUDES its own two
    * bytes): build a real JPEG skeleton per record (SOI, JFIF APP0, a COM
    * segment carrying the payload, SOF0 with planted height/width u16 and
    * 1 or 3 components with genuine sampling-factor bytes, EOI), then
    * recover precision/height/width/components by walking markers to the
    * SOF0 — accepting any SOF0–SOF15 except the DHT/JPG/DAC exclusions,
    * exactly as a real decoder's dimension probe does. parse(build(x))
    * must equal the planted closed form.
    *
    * The COM payload is capped at 60000 bytes (segment length is u16 and
    * includes itself) — enforced at build, replayed as least() in the
    * oracle.
    *
    * Scale posture: per-row mapPartitions byte work; one ≤2-row rollup.
    */
  object JpegCodec {
    private def be16(v: Int): Array[Byte] =
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def rd16(p: Array[Byte], o: Int): Int =
      ((p(o) & 0xff) << 8) | (p(o + 1) & 0xff)
    private def seg(marker: Int, data: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, marker.toByte) ++ be16(data.length + 2) ++ data

    val ComCap = 60000

    def build(width: Int, height: Int, nComp: Int, payload: Array[Byte]): Array[Byte] = {
      require(nComp == 1 || nComp == 3, "grayscale or YCbCr")
      val app0 = seg(0xe0, "JFIF\u0000".getBytes("ISO-8859-1") ++
        Array[Byte](1, 1, 0) ++ be16(1) ++ be16(1) ++ Array[Byte](0, 0))
      val com = seg(0xfe, payload.take(ComCap))
      val comps = (1 to nComp).flatMap(c => Array(c.toByte,
        (if (c == 1) 0x22 else 0x11).toByte, // luma 2x2, chroma 1x1
        (if (c == 1) 0 else 1).toByte)).toArray
      val sof = seg(0xc0, Array(8.toByte) ++ be16(height) ++ be16(width) ++
        Array(nComp.toByte) ++ comps)
      Array(0xff.toByte, 0xd8.toByte) ++ app0 ++ com ++ sof ++
        Array(0xff.toByte, 0xd9.toByte)
    }

    final case class JpegMeta(
        precision: Int, width: Int, height: Int, nComp: Int,
        comBytes: Long, nSegments: Long)

    /** Marker walk to SOF; loud-throw on lost sync or missing SOF. */
    def parse(p: Array[Byte]): JpegMeta = {
      require(p.length >= 4 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8,
        "not a JPEG SOI")
      var off = 2
      var meta: Option[(Int, Int, Int, Int)] = None
      var com = 0L
      var segs = 0L
      var done = false
      while (!done && off + 2 <= p.length) {
        require((p(off) & 0xff) == 0xff, s"marker sync lost at $off")
        val m = p(off + 1) & 0xff
        if (m == 0xd9) { done = true; off += 2 } // EOI
        else {
          val len = rd16(p, off + 2) // includes its own 2 bytes
          require(len >= 2 && off + 2 + len <= p.length, s"bad segment length $len")
          segs += 1
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
            meta = Some((p(off + 4) & 0xff, rd16(p, off + 7), rd16(p, off + 5),
              p(off + 9) & 0xff))
          } else if (m == 0xfe) com += len - 2
          off += 2 + len
        }
      }
      val (prec, w, h, nc) =
        meta.getOrElse(throw new IllegalArgumentException("no SOF segment"))
      JpegMeta(prec, w, h, nc, com, segs)
    }

    def widthFor(id: Long): Int = (32L + id % 2000).toInt
    def heightFor(id: Long): Int = (32L + id % 1200).toInt
    def nCompFor(id: Long): Int = (1L + 2 * (id % 2)).toInt
  }

  private val c6o = QuerySpec(
    "c6o_jpeg_sof",
    "JPEG SOF metadata extraction: a real marker stream built per record (SOI, JFIF APP0, COM carrying the payload capped at the u16 segment limit, SOF0 with planted u16 height/width and 1/3 components, EOI), dimensions recovered by genuinely walking markers to the SOF in mapPartitions; per component-count rollup — parse(build(x)) must equal the planted closed form.",
    Some("""WITH m AS (SELECT doc_id,
              CAST(32 + doc_id % 2000 AS BIGINT) AS width,
              CAST(32 + doc_id % 1200 AS BIGINT) AS height,
              CAST(1 + 2 * (doc_id % 2) AS BIGINT) AS n_comp,
              CAST(least(length(text), 60000) AS BIGINT) AS com_bytes
              FROM documents)
            SELECT n_comp, COUNT(*) AS n,
              CAST(SUM(width * height) AS BIGINT) AS total_pixels,
              CAST(MAX(width) AS BIGINT) AS max_width,
              CAST(MAX(height) AS BIGINT) AS max_height,
              CAST(SUM(com_bytes) AS BIGINT) AS total_com,
              CAST(COUNT(*) * 3 AS BIGINT) AS total_segments
            FROM m GROUP BY n_comp ORDER BY n_comp"""),
    (s, d) => {
      import s.implicits._
      val jpegs = Tables.documents(s, d)
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, payload) =>
          (id, JpegCodec.build(JpegCodec.widthFor(id), JpegCodec.heightFor(id),
            JpegCodec.nCompFor(id), payload))
        })
      jpegs
        .mapPartitions(_.map { case (id, p) =>
          val m = JpegCodec.parse(p)
          (id, m.width.toLong, m.height.toLong, m.nComp.toLong, m.comBytes, m.nSegments)
        })
        .toDF("media_id", "width", "height", "n_comp", "com_bytes", "n_segments")
        .groupBy($"n_comp")
        .agg(count(lit(1)).as("n"),
          sum($"width" * $"height").cast(LongType).as("total_pixels"),
          max($"width").as("max_width"), max($"height").as("max_height"),
          sum($"com_bytes").cast(LongType).as("total_com"),
          sum($"n_segments").cast(LongType).as("total_segments"))
        .orderBy($"n_comp")
    }
  )

  // -------------------------------------------------------- c6q_wav_rms
  /** PCM16 waveform statistics — the first c6 op that decodes the audio
    * PAYLOAD, not just the container: [[WavCodec]] builds a real 16-bit
    * WAV per record (PCM = the record's text bytes, the c6e char≡byte
    * precedent), the walker locates the data chunk by genuinely chasing
    * the RIFF chunk list (NOT by assuming offset 44), and a tight
    * per-partition loop decodes little-endian int16 samples and computes
    * the triage statistics every audio ingest pipeline runs first: sample
    * count, energy (Σ s², exact long), peak |s|, and zero-crossing count
    * (strict sign flips — the cheap voiced/unvoiced & silence heuristic).
    * Samples are centered (−16384) so the ASCII payload genuinely crosses
    * zero (space-valued high bytes go negative, letter-valued stay
    * positive).
    *
    * Exactness: decode/center/square/flip are pure integers; only the
    * final per-source RMS takes one double divide + sqrt floored at e3
    * (the b121 quantized-sqrt discipline). The oracle replays the sample
    * stream positionally (ascii(lo) + 256·ascii(hi) − 16384) with a
    * per-doc lag window for the flips; the engine's long sums cast to
    * BIGINT oracle-side (DuckDB SUM would widen to HUGEINT — the
    * check.py fatal-type lint).
    *
    * Scale posture: build, chunk walk, and the sample loop are all
    * streaming per-row mapPartitions work (no materialized sample table
    * engine-side — the oracle pays that so the engine doesn't have to);
    * the only shuffle is the per-source rollup.
    */
  /** PCM16 triage core shared by the batch query ([[c6q]]) and the
    * streaming pipeline ([[graft.streaming.FeaturePipeline.waveformStream]]):
    * genuine RIFF chunk chase to the data payload, int16 LE decode
    * centered at −16384, returning (samples, Σs², peak, strict flips).
    * Pure integers — the two halves can never drift.
    */
  private[graft] def pcm16Stats(wav: Array[Byte]): (Long, Long, Long, Long) = {
    var off = 12
    var dataOff = -1
    var dataLen = 0L
    while (off + 8 <= wav.length && dataOff < 0) {
      val tag = new String(wav.slice(off, off + 4), "ISO-8859-1")
      val sz = (wav(off + 4) & 0xffL) | ((wav(off + 5) & 0xffL) << 8) |
        ((wav(off + 6) & 0xffL) << 16) | ((wav(off + 7) & 0xffL) << 24)
      if (tag == "data") { dataOff = off + 8; dataLen = sz }
      else off += 8 + sz.toInt + (sz.toInt & 1)
    }
    require(dataOff >= 0, "no data chunk")
    val n = (dataLen / 2L).toInt
    var i = 0
    var sumSq = 0L
    var peak = 0L
    var flips = 0L
    var prev = 0L
    while (i < n) {
      val v = ((wav(dataOff + 2 * i) & 0xff) |
        ((wav(dataOff + 2 * i + 1) & 0xff) << 8)).toLong - 16384L
      sumSq += v * v
      val a = math.abs(v)
      if (a > peak) peak = a
      if (i > 0 && v * prev < 0L) flips += 1L
      prev = v
      i += 1
    }
    (n.toLong, sumSq, peak, flips)
  }

  private val c6q = QuerySpec(
    "c6q_wav_rms",
    "PCM16 waveform triage stats: real WAVs decoded by chasing the RIFF chunk list to the data payload, int16 LE samples centered at -16384, per-source sample count, exact Σs² energy, peak, strict zero-crossings, and e3-floored RMS — payload decode is a streaming per-partition loop, one rollup shuffle.",
    Some("""WITH t AS (SELECT doc_id, source, text,
              CAST(length(text) // 2 AS BIGINT) AS ns FROM documents),
            pos AS (SELECT doc_id, source, text,
              CAST(unnest(range(1, ns + 1)) AS INTEGER) AS i FROM t WHERE ns > 0),
            s AS (SELECT doc_id, source, i,
              CAST(ascii(substr(text, 2*i - 1, 1))
                 + 256 * ascii(substr(text, 2*i, 1)) - 16384 AS BIGINT) AS v
              FROM pos),
            f AS (SELECT doc_id, source, v,
              CASE WHEN v * lag(v) OVER (PARTITION BY doc_id ORDER BY i) < 0
                THEN 1 ELSE 0 END AS flip
              FROM s)
            SELECT source,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_clips,
              CAST(COUNT(*) AS BIGINT) AS n_samples,
              CAST(SUM(v * v) AS BIGINT) AS sum_sq,
              CAST(MAX(abs(v)) AS BIGINT) AS max_peak,
              CAST(SUM(flip) AS BIGINT) AS n_crossings,
              CAST(floor(1000.0 * sqrt(CAST(SUM(v * v) AS DOUBLE) / COUNT(*))) AS BIGINT) AS rms_e3
            FROM f GROUP BY source ORDER BY source"""),
    (s, d) => {
      import s.implicits._
      val stats = Tables.documents(s, d)
        .select($"doc_id", $"source", encode($"text", "UTF-8").as("pcm"))
        .as[(Long, String, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, src, pcm) =>
          val wav = WavCodec.build(WavCodec.rateFor(id), WavCodec.channelsFor(id), 16, pcm)
          // genuine chunk chase to the data payload (never offset-44 trust)
          val (n, sumSq, peak, flips) = pcm16Stats(wav)
          if (n == 0L) Iterator.empty
          else Iterator.single((src, n, sumSq, peak, flips))
        })
        .toDF("source", "n_samples", "sum_sq", "peak", "flips")
      stats.groupBy($"source")
        .agg(count(lit(1)).as("n_clips"),
          sum($"n_samples").cast(LongType).as("n_samples"),
          sum($"sum_sq").cast(LongType).as("sum_sq"),
          max($"peak").cast(LongType).as("max_peak"),
          sum($"flips").cast(LongType).as("n_crossings"),
          floor(lit(1000.0) * sqrt(sum($"sum_sq").cast(DoubleType) / sum($"n_samples")))
            .cast(LongType).as("rms_e3"))
        .orderBy($"source")
    }
  )

  // ------------------------------------------------------ c6r_luma_hist
  /** Luminance histogram — the image-payload twin of [[c6q]]'s waveform
    * stats and the standard first-pass image triage (exposure/contrast
    * screening before any model sees a pixel): [[PngCodec]] builds a real
    * PNG per record (IDAT = the record's bytes, the stub-decode
    * discipline — a real inflate would need zlib variability), the walker
    * chases the chunk list and CONCATENATES every IDAT payload (multi-
    * chunk IDAT is legal PNG — readers must merge), and a per-partition
    * loop bins the 8-bit luma samples into 16-wide buckets and tracks
    * sum/min/max. Per-source output: image count, pixel count, the 8
    * occupied histogram columns, e3 mean luma, and full-range contrast.
    *
    * Exactness: binning, sums, and extrema are pure integers; mean is
    * one integer-scaled division (x·1000 div n). The oracle replays the
    * byte stream positionally with ascii() — the c6e char≡byte precedent.
    *
    * Scale posture: build, walk, and the histogram loop are one
    * streaming mapPartitions pass emitting a 12-number row per image
    * (the sample table never materializes engine-side); the only
    * exchanges are the per-source rollup and the presentation sort.
    */
  private val c6r = QuerySpec(
    "c6r_luma_hist",
    "Image luminance triage: PNGs walked chunk-by-chunk with every IDAT payload concatenated, 8-bit luma binned x16 in one mapPartitions pass; per source pixel count, 8-bin histogram, e3 mean, and full-range contrast — exact integers, one rollup shuffle.",
    Some("""WITH pos AS (SELECT doc_id, source,
              CAST(unnest(range(1, length(text) + 1)) AS INTEGER) AS i, text
              FROM documents WHERE length(text) > 0),
            px AS (SELECT doc_id, source,
              CAST(ascii(substr(text, i, 1)) AS BIGINT) AS v FROM pos)
            SELECT source,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_imgs,
              CAST(COUNT(*) AS BIGINT) AS n_px,
              CAST(SUM(CASE WHEN v // 16 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
              CAST(SUM(CASE WHEN v // 16 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
              CAST(SUM(CASE WHEN v // 16 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3,
              CAST(SUM(CASE WHEN v // 16 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS h4,
              CAST(SUM(CASE WHEN v // 16 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS h5,
              CAST(SUM(CASE WHEN v // 16 = 6 THEN 1 ELSE 0 END) AS BIGINT) AS h6,
              CAST(SUM(CASE WHEN v // 16 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS h7,
              CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT) AS mean_e3,
              CAST(MAX(v) - MIN(v) AS BIGINT) AS contrast
            FROM px GROUP BY source ORDER BY source"""),
    (s, d) => {
      import s.implicits._
      val stats = Tables.documents(s, d)
        .select($"doc_id", $"source", encode($"text", "UTF-8").as("px"))
        .filter(length($"text") > 0)
        .as[(Long, String, Array[Byte])]
        .mapPartitions(_.map { case (id, src, payload) =>
          val png = PngCodec.build(PngCodec.widthFor(id), PngCodec.heightFor(id),
            PngCodec.colorTypeFor(id), payload)
          // genuine chunk chase: concatenate EVERY IDAT payload (multi-chunk
          // IDAT is legal; trusting a single fixed offset is not a parser)
          val buf = new scala.collection.mutable.ArrayBuffer[Byte]()
          var off = 8
          while (off + 12 <= png.length) {
            val len = ((png(off) & 0xffL) << 24 | (png(off + 1) & 0xffL) << 16 |
              (png(off + 2) & 0xffL) << 8 | (png(off + 3) & 0xffL)).toInt
            val tag = new String(png.slice(off + 4, off + 8), "ISO-8859-1")
            if (tag == "IDAT") buf ++= png.slice(off + 8, off + 8 + len)
            off += 12 + len
          }
          val hist = new Array[Long](16)
          var sum = 0L
          var mn = 255L
          var mx = 0L
          var i = 0
          while (i < buf.length) {
            val v = (buf(i) & 0xff).toLong
            hist((v / 16).toInt) += 1L
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          (src, 1L, buf.length.toLong, hist(1), hist(2), hist(3), hist(4),
            hist(5), hist(6), hist(7), sum, mn, mx)
        })
        .toDF("source", "one", "n_px", "h1", "h2", "h3", "h4", "h5", "h6", "h7",
          "lsum", "lmin", "lmax")
      stats.groupBy($"source")
        .agg(sum($"one").cast(LongType).as("n_imgs"),
          sum($"n_px").cast(LongType).as("n_px"),
          sum($"h1").cast(LongType).as("h1"), sum($"h2").cast(LongType).as("h2"),
          sum($"h3").cast(LongType).as("h3"), sum($"h4").cast(LongType).as("h4"),
          sum($"h5").cast(LongType).as("h5"), sum($"h6").cast(LongType).as("h6"),
          sum($"h7").cast(LongType).as("h7"),
          expr("sum(lsum) * 1000 div sum(n_px)").cast(LongType).as("mean_e3"),
          (max($"lmax") - min($"lmin")).cast(LongType).as("contrast"))
        .orderBy($"source")
    }
  )

  // ------------------------------------------------------- c6s_srt_cues
  /** SRT subtitle/caption track codec — the TEXT-track modality (captions
    * are first-class multimodal training data: they align text to
    * timeline, and their reading speed is the standard quality screen
    * for auto-generated tracks). Build a REAL SubRip document per record
    * (1-based cue index, `HH:MM:SS,mmm --> HH:MM:SS,mmm` timing line with
    * genuine zero-padded field formatting, payload, blank separator) from
    * the record's 8-token chunks (the c4_chunk_dedup window), then parse
    * it back with a real line walker — index-line monotonicity checked,
    * every timestamp decoded field-by-field (h·3.6e6 + m·6e4 + s·1e3 +
    * mmm), loud-throw on malformed framing. parse(build(x)) must equal
    * the planted closed form (cue i spans [2500·i, 2500·i + 2000) ms).
    *
    * Per-source rollup: track/cue counts, captioned milliseconds, payload
    * chars, and chars-per-second at e3 (the reading-speed screen; ~>25
    * cps flags machine-garbage tracks in real pipelines).
    *
    * Scale posture: build + parse are one streaming mapPartitions pass;
    * the only exchanges are the per-source rollup and the presentation
    * sort. Exactness is pure integers (fixed cue duration, char counts,
    * one integer-scaled division).
    */
  private val c6s = QuerySpec(
    "c6s_srt_cues",
    "SRT caption-track codec: real SubRip documents built from 8-token chunks (zero-padded HH:MM:SS,mmm timing lines) and re-parsed with a genuine line/timestamp walker; per-source tracks, cues, captioned ms, payload chars, and e3 chars-per-second reading speed — streaming mapPartitions, one rollup shuffle.",
    Some("""WITH t AS (SELECT doc_id, source,
              list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents),
            ch AS (SELECT doc_id, source,
              CAST(unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS BIGINT) AS idx,
              toks FROM t WHERE len(toks) > 0),
            cue AS (SELECT doc_id, source,
              CAST(length(array_to_string(toks[idx*8+1 : idx*8+8], ' ')) AS BIGINT) AS chars
              FROM ch),
            d AS (SELECT source, doc_id, CAST(COUNT(*) AS BIGINT) AS n_cues,
              CAST(SUM(chars) AS BIGINT) AS chars FROM cue GROUP BY source, doc_id)
            SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_tracks,
              CAST(SUM(n_cues) AS BIGINT) AS n_cues,
              CAST(SUM(n_cues) * 2000 AS BIGINT) AS cue_ms,
              CAST(SUM(chars) AS BIGINT) AS total_chars,
              CAST(SUM(chars) * 1000000 // (SUM(n_cues) * 2000) AS BIGINT) AS cps_e3
            FROM d GROUP BY source ORDER BY source"""),
    (s, d) => {
      import s.implicits._
      def fmtTs(ms: Long): String = {
        val h = ms / 3600000L; val m = ms % 3600000L / 60000L
        val sec = ms % 60000L / 1000L; val mmm = ms % 1000L
        f"$h%02d:$m%02d:$sec%02d,$mmm%03d"
      }
      def parseTs(t: String): Long = {
        val Array(hms, mmm) = t.split(",")
        val Array(h, m, sec) = hms.split(":")
        h.toLong * 3600000L + m.toLong * 60000L + sec.toLong * 1000L + mmm.toLong
      }
      val stats = Tables.documents(s, d)
        .select($"doc_id", $"source", $"text")
        .as[(Long, String, String)]
        .mapPartitions(_.flatMap { case (_, src, text) =>
          val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
          if (toks.isEmpty) Iterator.empty
          else {
            val srt = toks.grouped(8).zipWithIndex.map { case (chunk, i) =>
              val start = i.toLong * 2500L
              s"${i + 1}\n${fmtTs(start)} --> ${fmtTs(start + 2000L)}\n${chunk.mkString(" ")}\n"
            }.mkString("\n")
            // genuine SubRip walk: index line, timing line, payload lines
            // to the blank separator — loud-throw on any framing defect
            val lines = srt.split("\n", -1)
            var li = 0
            var cueIdx = 0L
            var ms = 0L
            var chars = 0L
            while (li < lines.length && lines(li).nonEmpty) {
              val idx = lines(li).toLong
              require(idx == cueIdx + 1, s"cue index $idx after $cueIdx")
              val Array(ts0, ts1) = lines(li + 1).split(" --> ")
              val (a, b) = (parseTs(ts0), parseTs(ts1))
              require(b > a, s"cue $idx: end $b before start $a")
              var pj = li + 2
              var payload = new StringBuilder
              while (pj < lines.length && lines(pj).nonEmpty) {
                if (payload.nonEmpty) payload ++= " "
                payload ++= lines(pj)
                pj += 1
              }
              cueIdx = idx
              ms += b - a
              chars += payload.length.toLong
              li = pj + 1
            }
            Iterator.single((src, 1L, cueIdx, ms, chars))
          }
        })
        .toDF("source", "one", "n_cues", "cue_ms", "chars")
      stats.groupBy($"source")
        .agg(sum($"one").cast(LongType).as("n_tracks"),
          sum($"n_cues").cast(LongType).as("n_cues"),
          sum($"cue_ms").cast(LongType).as("cue_ms"),
          sum($"chars").cast(LongType).as("total_chars"),
          expr("sum(chars) * 1000000 div sum(cue_ms)").cast(LongType).as("cps_e3"))
        .orderBy($"source")
    }
  )

  // ------------------------------------------------------- c6t_id3_tag
  /** ID3v2.4 tag codec — the SYNCSAFE-integer byte regime, the fifth
    * length-encoding discipline in the codec family after WAV-LE, PNG-BE
    * +CRC, MP4 box trees, and JPEG marker walks: ID3 sizes store 28 bits
    * across four 7-BIT bytes (high bit always clear, so the byte stream
    * can never alias an MPEG frame sync), and a parser that treats them
    * as plain BE u32 silently mis-frames every tag over 127 bytes. Build
    * a real ID3v2.4 tag per record (10-byte header with syncsafe tag
    * size, TIT2 title = first 24 chars, TALB album = the source name,
    * TIT3 subtitle = the full text so the multi-byte syncsafe path
    * genuinely exercises), then walk it back: header magic/version
    * checked, every frame's syncsafe size decoded with the
    * high-bit-clear requirement, album REQUIRED to equal the planted
    * source — loud-throw discipline throughout.
    *
    * Scale posture: build + walk are one streaming mapPartitions pass;
    * the only exchanges are the per-source rollup and the presentation
    * sort. Exactness: every output is a byte/char count the oracle
    * states closed-form from the planted layout.
    */
  private val c6t = QuerySpec(
    "c6t_id3_tag",
    "ID3v2.4 tag codec (syncsafe regime): real tags built per record (TIT2/TALB/TIT3 text frames, 7-bit syncsafe sizes) and re-walked with high-bit-clear checks and a planted-album equality requirement; per-source tracks, full tag bytes, title and subtitle chars — streaming mapPartitions, one rollup shuffle.",
    Some("""WITH m AS (SELECT source,
              CAST(least(length(text), 24) AS BIGINT) AS title_len,
              CAST(length(text) AS BIGINT) AS sub_len,
              CAST(length(source) AS BIGINT) AS alb_len
            FROM documents WHERE length(text) > 0)
            SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_tracks,
              CAST(SUM(10 + (10 + 1 + title_len) + (10 + 1 + alb_len)
                       + (10 + 1 + sub_len)) AS BIGINT) AS tag_bytes,
              CAST(SUM(title_len) AS BIGINT) AS title_chars,
              CAST(SUM(sub_len) AS BIGINT) AS sub_chars
            FROM m GROUP BY source ORDER BY source"""),
    (s, d) => {
      import s.implicits._
      def syncsafe(v: Int): Array[Byte] = {
        require(v < (1 << 28), s"syncsafe overflow: $v")
        Array(((v >> 21) & 0x7f).toByte, ((v >> 14) & 0x7f).toByte,
          ((v >> 7) & 0x7f).toByte, (v & 0x7f).toByte)
      }
      def frame(id: String, payload: Array[Byte]): Array[Byte] =
        id.getBytes("ISO-8859-1") ++ syncsafe(payload.length + 1) ++
          Array(0.toByte, 0.toByte) ++ (3.toByte +: payload) // 3 = UTF-8 encoding byte
      val stats = Tables.documents(s, d)
        .select($"source", $"text")
        .filter(length($"text") > 0)
        .as[(String, String)]
        .mapPartitions(_.map { case (src, text) =>
          val frames = frame("TIT2", text.take(24).getBytes("UTF-8")) ++
            frame("TALB", src.getBytes("UTF-8")) ++
            frame("TIT3", text.getBytes("UTF-8"))
          val tag = "ID3".getBytes("ISO-8859-1") ++ Array(4.toByte, 0.toByte, 0.toByte) ++
            syncsafe(frames.length) ++ frames
          // genuine walk-back with the syncsafe high-bit-clear requirement
          def rdSync(o: Int): Int = {
            (0 until 4).foreach { i =>
              require((tag(o + i) & 0x80) == 0, s"syncsafe byte $i has the sync bit set")
            }
            ((tag(o) & 0x7f) << 21) | ((tag(o + 1) & 0x7f) << 14) |
              ((tag(o + 2) & 0x7f) << 7) | (tag(o + 3) & 0x7f)
          }
          require(new String(tag.slice(0, 3), "ISO-8859-1") == "ID3" && tag(3) == 4,
            "not an ID3v2.4 tag")
          val tagSize = rdSync(6)
          require(tagSize == tag.length - 10, s"tag size $tagSize vs ${tag.length - 10}")
          var off = 10
          var titleChars = 0L
          var commChars = 0L
          var album = ""
          while (off < tag.length) {
            val id = new String(tag.slice(off, off + 4), "ISO-8859-1")
            val sz = rdSync(off + 4)
            val body = new String(tag.slice(off + 11, off + 10 + sz), "UTF-8")
            id match {
              case "TIT2" => titleChars = body.length.toLong
              case "TALB" => album = body
              case "TIT3" => commChars = body.length.toLong
              case other  => throw new IllegalArgumentException(s"unexpected frame $other")
            }
            off += 10 + sz
          }
          require(album == src, s"album '$album' does not match planted source '$src'")
          (src, 1L, tag.length.toLong, titleChars, commChars)
        })
        .toDF("source", "one", "tag_bytes", "title_chars", "sub_chars")
      stats.groupBy($"source")
        .agg(sum($"one").cast(LongType).as("n_tracks"),
          sum($"tag_bytes").cast(LongType).as("tag_bytes"),
          sum($"title_chars").cast(LongType).as("title_chars"),
          sum($"sub_chars").cast(LongType).as("sub_chars"))
        .orderBy($"source")
    }
  )

  // -------------------------------------------------------- c6u_zip_dir
  /** ZIP container codec — the sixth length/framing regime in the codec
    * family, and the one with a genuinely different PARSE DIRECTION:
    * a correct ZIP reader starts at the END (scan backward for the
    * End-Of-Central-Directory signature), reads the central directory
    * offset/count from it, walks the central directory records, and only
    * then visits each local file header — archives are how web corpora
    * actually arrive, and front-to-back "parsers" break on any archive
    * with a prefix. Build a real stored-method (no compression — the
    * deflate stream would be library-dependent) two-entry ZIP per record
    * (`meta.json` = a fixed-shape stanza, `data.txt` = the text), with
    * genuine CRC-32s, LE fields, and correct local/central header pairs;
    * parse it back the spec's way: EOCD backward scan, central walk,
    * local-header cross-check (name + sizes must agree), CRC re-verified
    * over the stored payload. Loud-throw on any disagreement.
    *
    * Scale posture: build + walk are one streaming mapPartitions pass;
    * the only exchanges are the per-source rollup and the presentation
    * sort. Outputs are byte/entry counts the oracle states closed-form
    * from the planted layout (ASCII char≡byte).
    */
  private val c6u = QuerySpec(
    "c6u_zip_dir",
    "ZIP codec (backward-scan regime): real stored-method two-entry archives with genuine CRC-32s; parsed spec-correctly — EOCD found by backward signature scan, central directory walked, every local header cross-checked and payload CRC re-verified; per-source archives, entries, payload and archive bytes.",
    Some("""WITH m AS (SELECT source,
              CAST(length(text) AS BIGINT) AS data_len,
              CAST(43 + length(source) AS BIGINT) AS meta_len
            FROM documents WHERE length(text) > 0)
            SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_archives,
              CAST(COUNT(*) * 2 AS BIGINT) AS n_entries,
              CAST(SUM(meta_len + data_len) AS BIGINT) AS payload_bytes,
              CAST(SUM((30 + 9 + meta_len) + (30 + 8 + data_len)
                       + (46 + 9) + (46 + 8) + 22) AS BIGINT) AS archive_bytes
            FROM m GROUP BY source ORDER BY source"""),
    (s, d) => {
      import s.implicits._
      def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      def le32(v: Long): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def rd16(p: Array[Byte], o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
      def rd32(p: Array[Byte], o: Int): Long = (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) |
        ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)
      def crc(b: Array[Byte]): Long = {
        val c = new java.util.zip.CRC32; c.update(b); c.getValue
      }
      val stats = Tables.documents(s, d)
        .select($"source", $"text")
        .filter(length($"text") > 0)
        .as[(String, String)]
        .mapPartitions(_.map { case (src, text) =>
          val entries = Seq(
            "meta.json" -> s"""{"source":"$src","schema":"graft.v1","ok":true}""".getBytes("UTF-8"),
            "data.txt" -> text.getBytes("UTF-8"))
          // build: local headers + payloads, then the central directory,
          // then EOCD — all little-endian, stored method, genuine CRCs
          val locals = new scala.collection.mutable.ArrayBuffer[Byte]()
          val offsets = entries.map { case (name, data) =>
            val off = locals.length.toLong
            locals ++= le32(0x04034b50L) ++ le16(20) ++ le16(0) ++ le16(0) ++
              le16(0) ++ le16(0) ++ le32(crc(data)) ++ le32(data.length.toLong) ++
              le32(data.length.toLong) ++ le16(name.length) ++ le16(0) ++
              name.getBytes("UTF-8") ++ data
            off
          }
          val cdStart = locals.length.toLong
          entries.zip(offsets).foreach { case ((name, data), off) =>
            locals ++= le32(0x02014b50L) ++ le16(20) ++ le16(20) ++ le16(0) ++ le16(0) ++
              le16(0) ++ le16(0) ++ le32(crc(data)) ++ le32(data.length.toLong) ++
              le32(data.length.toLong) ++ le16(name.length) ++ le16(0) ++ le16(0) ++
              le16(0) ++ le16(0) ++ le32(0L) ++ le32(off) ++ name.getBytes("UTF-8")
          }
          val cdLen = locals.length.toLong - cdStart
          locals ++= le32(0x06054b50L) ++ le16(0) ++ le16(0) ++
            le16(entries.length) ++ le16(entries.length) ++ le32(cdLen) ++
            le32(cdStart) ++ le16(0)
          val zip = locals.toArray
          // parse, the spec's way: backward scan for the EOCD signature
          var eo = zip.length - 22
          while (eo >= 0 && rd32(zip, eo) != 0x06054b50L) eo -= 1
          require(eo >= 0, "no EOCD record")
          val nEntries = rd16(zip, eo + 10)
          val cdOff = rd32(zip, eo + 16)
          var off = cdOff.toInt
          var payloadBytes = 0L
          var seen = 0
          while (seen < nEntries) {
            require(rd32(zip, off) == 0x02014b50L, "central directory signature")
            val ccrc = rd32(zip, off + 16)
            val csize = rd32(zip, off + 24)
            val nameLen = rd16(zip, off + 28)
            val lhOff = rd32(zip, off + 42).toInt
            val cname = new String(zip.slice(off + 46, off + 46 + nameLen), "UTF-8")
            // cross-check the local header the central record points at
            require(rd32(zip, lhOff) == 0x04034b50L, "local header signature")
            val lNameLen = rd16(zip, lhOff + 26)
            val lname = new String(zip.slice(lhOff + 30, lhOff + 30 + lNameLen), "UTF-8")
            require(lname == cname, s"name mismatch: local '$lname' vs central '$cname'")
            require(rd32(zip, lhOff + 18) == csize, "size mismatch local vs central")
            val data = zip.slice(lhOff + 30 + lNameLen, lhOff + 30 + lNameLen + csize.toInt)
            require(crc(data) == ccrc, s"CRC mismatch for $cname")
            payloadBytes += csize
            off += 46 + nameLen
            seen += 1
          }
          (src, 1L, nEntries.toLong, payloadBytes, zip.length.toLong)
        })
        .toDF("source", "one", "n_entries", "payload_bytes", "archive_bytes")
      stats.groupBy($"source")
        .agg(sum($"one").cast(LongType).as("n_archives"),
          sum($"n_entries").cast(LongType).as("n_entries"),
          sum($"payload_bytes").cast(LongType).as("payload_bytes"),
          sum($"archive_bytes").cast(LongType).as("archive_bytes"))
        .orderBy($"source")
    }
  )

  // -------------------------------------------------------- c6v_varint
  /** Protobuf wire-format codec — the VARINT regime, the seventh length
    * discipline in the codec family and the one every columnar/metadata
    * stack ultimately rests on (Parquet footers, proto records, gRPC
    * payloads): integers serialize as little-endian 7-bit groups with a
    * continuation MSB, and lengths of nested fields are themselves
    * varints — misread one continuation bit and every later field
    * misframes. Build a real wire message per record (field 1 varint =
    * doc_id, field 2 length-delimited = source, field 3 length-delimited
    * = text, field 4 varint = zigzag(-doc_id) so the signed path genuinely
    * exercises), parse it back with a genuine varint/tag walker (wire
    * types dispatched from the tag's low 3 bits, unknown fields rejected
    * loudly), and require the planted values to survive.
    *
    * Scale posture: build + walk are one streaming mapPartitions pass;
    * the only exchanges are the per-source rollup and the presentation
    * sort. Outputs replay closed-form: varint(doc_id) length is the
    * exact ⌈bits/7⌉ chain the oracle states with integer CASE arithmetic.
    */
  private val c6v = QuerySpec(
    "c6v_varint",
    "Protobuf wire codec (varint regime): real 4-field messages (varint id, two length-delimited strings, zigzag signed varint) built and re-walked with genuine continuation-bit decode and tag dispatch; per-source messages, payload bytes, wire bytes, and total varint bytes — the ceil(bits/7) chain replayed closed-form.",
    Some("""WITH m AS (SELECT source, doc_id,
              CAST(length(text) AS BIGINT) AS tlen,
              CAST(length(source) AS BIGINT) AS slen,
              CAST(CASE WHEN doc_id < 0 THEN 10
                WHEN doc_id < 128 THEN 1 WHEN doc_id < 16384 THEN 2
                WHEN doc_id < 2097152 THEN 3 WHEN doc_id < 268435456 THEN 4
                WHEN doc_id < 34359738368 THEN 5 WHEN doc_id < 4398046511104 THEN 6
                WHEN doc_id < 562949953421312 THEN 7 WHEN doc_id < 72057594037927936 THEN 8
                ELSE 9 END AS BIGINT) AS id_vlen,
              CAST(CASE WHEN doc_id < 0 THEN
                -- zigzag(-doc_id) with -doc_id > 0 encodes -2*doc_id (small
                -- for small |doc_id|); thresholds stated as doc_id >= -(2^(7k-1)-1)
                -- to avoid the -2*doc_id overflow at the BIGINT floor
                (CASE WHEN doc_id >= -63 THEN 1 WHEN doc_id >= -8191 THEN 2
                  WHEN doc_id >= -1048575 THEN 3 WHEN doc_id >= -134217727 THEN 4
                  WHEN doc_id >= -17179869183 THEN 5 WHEN doc_id >= -2199023255551 THEN 6
                  WHEN doc_id >= -281474976710655 THEN 7 WHEN doc_id >= -36028797018963967 THEN 8
                  WHEN doc_id >= -4611686018427387903 THEN 9
                  ELSE 10 END)
                WHEN doc_id = 0 THEN 1
                WHEN doc_id <= 64 THEN 1 WHEN doc_id <= 8192 THEN 2
                WHEN doc_id <= 1048576 THEN 3 WHEN doc_id <= 134217728 THEN 4
                WHEN doc_id <= 17179869184 THEN 5 WHEN doc_id <= 2199023255552 THEN 6
                WHEN doc_id <= 281474976710656 THEN 7 WHEN doc_id <= 36028797018963968 THEN 8
                WHEN doc_id <= 4611686018427387904 THEN 9
                ELSE 10 END AS BIGINT) AS zz_vlen,
              CAST(CASE WHEN length(source) < 128 THEN 1 WHEN length(source) < 16384 THEN 2
                ELSE 3 END AS BIGINT) AS slen_vlen,
              CAST(CASE WHEN length(text) < 128 THEN 1 WHEN length(text) < 16384 THEN 2
                ELSE 3 END AS BIGINT) AS tlen_vlen
            FROM documents WHERE length(text) > 0)
            SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_msgs,
              CAST(SUM(tlen + slen) AS BIGINT) AS payload_bytes,
              CAST(SUM(id_vlen + zz_vlen) AS BIGINT) AS varint_bytes,
              CAST(SUM(4 + id_vlen + slen_vlen + slen + tlen_vlen + tlen + zz_vlen) AS BIGINT) AS wire_bytes
            FROM m GROUP BY source ORDER BY source"""),
    (s, d) => {
      import s.implicits._
      def putVarint(buf: scala.collection.mutable.ArrayBuffer[Byte], v0: Long): Int = {
        var v = v0
        var n = 0
        do {
          val b = (v & 0x7fL).toInt
          v >>>= 7
          buf += (if (v != 0L) (b | 0x80).toByte else b.toByte)
          n += 1
        } while (v != 0L)
        n
      }
      val stats = Tables.documents(s, d)
        .select($"doc_id", $"source", $"text")
        .filter(length($"text") > 0)
        .as[(Long, String, String)]
        .mapPartitions(_.map { case (id, src, text) =>
          val sb = src.getBytes("UTF-8")
          val tb = text.getBytes("UTF-8")
          val buf = new scala.collection.mutable.ArrayBuffer[Byte]()
          buf += 0x08.toByte // field 1, wire type 0 (varint)
          val idV = putVarint(buf, id)
          buf += 0x12.toByte // field 2, wire type 2 (len-delimited)
          putVarint(buf, sb.length.toLong)
          buf ++= sb
          buf += 0x1a.toByte // field 3, wire type 2
          putVarint(buf, tb.length.toLong)
          buf ++= tb
          buf += 0x20.toByte // field 4, wire type 0
          val zzV = putVarint(buf, ((-id) << 1) ^ ((-id) >> 63)) // zigzag(-id)
          val wire = buf.toArray
          // genuine walk-back: tag dispatch + continuation-bit varints
          var off = 0
          def readVarint(): Long = {
            var shift = 0
            var acc = 0L
            var more = true
            while (more) {
              val b = wire(off) & 0xff
              acc |= (b & 0x7fL) << shift
              shift += 7
              more = (b & 0x80) != 0
              off += 1
              require(shift <= 70, "runaway varint")
            }
            acc
          }
          var gotId = -1L
          var gotSrc = ""
          var gotText = ""
          var gotNeg = 0L
          while (off < wire.length) {
            val tag = readVarint()
            val (field, wt) = (tag >> 3, tag & 7L)
            (field, wt) match {
              case (1L, 0L) => gotId = readVarint()
              case (2L, 2L) =>
                val n = readVarint().toInt
                gotSrc = new String(wire.slice(off, off + n), "UTF-8"); off += n
              case (3L, 2L) =>
                val n = readVarint().toInt
                gotText = new String(wire.slice(off, off + n), "UTF-8"); off += n
              case (4L, 0L) =>
                val zz = readVarint()
                gotNeg = (zz >>> 1) ^ -(zz & 1L)
              case other => throw new IllegalArgumentException(s"unknown field/wire $other")
            }
          }
          require(gotId == id && gotSrc == src && gotText == text && gotNeg == -id,
            s"wire roundtrip mismatch for doc $id")
          (src, 1L, (sb.length + tb.length).toLong, (idV + zzV).toLong, wire.length.toLong)
        })
        .toDF("source", "one", "payload_bytes", "varint_bytes", "wire_bytes")
      stats.groupBy($"source")
        .agg(sum($"one").cast(LongType).as("n_msgs"),
          sum($"payload_bytes").cast(LongType).as("payload_bytes"),
          sum($"varint_bytes").cast(LongType).as("varint_bytes"),
          sum($"wire_bytes").cast(LongType).as("wire_bytes"))
        .orderBy($"source")
    }
  )

  val specs: Seq[QuerySpec] =
    Seq(c6, c6b, c6c, c6d, c6e, c6f, c6g, c6h, c6i, c6j, c6k, c6l, c6m, c6n, c6o, c6q, c6r, c6s, c6t, c6u, c6v)
}
