package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column pipeline: media as opaque `binary` columns with typed
  * metadata, feature extraction as a batched per-partition pass.
  *
  * The decode step is REAL byte-level container parsing (pure JVM, no
  * codec jars): PNG signature + IHDR and JPEG marker-segment walk to SOF
  * for images, RIFF/WAVE fmt-chunk walk for audio, RIFF/AVI hdrl/avih walk
  * for video — and the container is SNIFFED from magic bytes, never taken
  * from a metadata column. The media table itself is
  * synthesized deterministically (doc_id-derived dimensions, text payload)
  * because the sandbox ships no media files — but the parsers read the
  * actual container bytes, so the oracle check (closed-form dims from
  * doc_id) genuinely verifies the decode path. Pixel/sample DECODING
  * (not header parsing) would slot into the same per-partition batch loop.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, kind: String, media: Array[Byte])
  final case class MediaFeatures(doc_id: Long, kind: String, n_bytes: Long,
                                 width: Int, height: Int)

  // ---- deterministic synth container writers --------------------------------

  private def be32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
    o.write((v >>> 24) & 0xFF); o.write((v >>> 16) & 0xFF)
    o.write((v >>> 8) & 0xFF); o.write(v & 0xFF)
  }
  private def le32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xFF); o.write((v >>> 8) & 0xFF)
    o.write((v >>> 16) & 0xFF); o.write((v >>> 24) & 0xFF)
  }
  private def le16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xFF); o.write((v >>> 8) & 0xFF)
  }
  private def tag(o: java.io.ByteArrayOutputStream, s: String): Unit =
    o.write(s.getBytes("US-ASCII"))

  /** Closed-form synth dimensions — the oracle SQL repeats these formulas,
    * so a broken parser (not just a broken generator) fails the gate. */
  def imageDims(id: Long): (Int, Int) =
    ((160 + (id * 7) % 800).toInt, (90 + (id * 13) % 600).toInt)
  def audioParams(id: Long): (Int, Int) = // (sampleRate, channels)
    ((8000 + 1000 * (id % 5)).toInt, (1 + id % 2).toInt)
  def videoDims(id: Long): (Int, Int) =
    ((320 + (id * 11) % 1280).toInt, (240 + (id * 17) % 720).toInt)
  def jpegDims(id: Long): (Int, Int) =
    ((64 + (id * 5) % 2048).toInt, (48 + (id * 3) % 1536).toInt)

  /** Header byte counts (pinned by tests + the oracle's n_bytes formula). */
  val PngHeaderBytes = 33   // 8 sig + (4 len + 4 "IHDR" + 13 body + 4 crc)
  val WavHeaderBytes = 44   // 12 RIFF/WAVE + (8 + 16 fmt) + 8 data hdr
  val AviHeaderBytes = 88   // 12 RIFF/AVI + 8 LIST + 4 hdrl + 8 avih hdr + 56 avih
  val JpegHeaderBytes = 33  // 2 SOI + 18 APP0/JFIF + 13 SOF0 (1 component)

  def synthPng(width: Int, height: Int, payload: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(PngHeaderBytes + payload.length)
    o.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte), 0, 8)
    be32(o, 13); tag(o, "IHDR")
    be32(o, width); be32(o, height)
    o.write(8); o.write(2); o.write(0); o.write(0); o.write(0) // depth/color/comp/filter/interlace
    be32(o, 0) // crc (not validated by the header parser)
    o.write(payload, 0, payload.length)
    o.toByteArray
  }

  def synthWav(sampleRate: Int, channels: Int, payload: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(WavHeaderBytes + payload.length)
    tag(o, "RIFF"); le32(o, 36 + payload.length); tag(o, "WAVE")
    tag(o, "fmt "); le32(o, 16)
    le16(o, 1); le16(o, channels); le32(o, sampleRate)
    le32(o, sampleRate * channels * 2); le16(o, channels * 2); le16(o, 16)
    tag(o, "data"); le32(o, payload.length)
    o.write(payload, 0, payload.length)
    o.toByteArray
  }

  def synthAvi(width: Int, height: Int, payload: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(AviHeaderBytes + payload.length)
    tag(o, "RIFF"); le32(o, 76 + payload.length); tag(o, "AVI ")
    tag(o, "LIST"); le32(o, 4 + 8 + 56); tag(o, "hdrl")
    tag(o, "avih"); le32(o, 56)
    val avih = new java.io.ByteArrayOutputStream(56)
    le32(avih, 33366); le32(avih, 0); le32(avih, 0); le32(avih, 0x10) // usec/frame, maxbps, pad, flags
    le32(avih, 0); le32(avih, 0); le32(avih, 1); le32(avih, 0)        // frames, initial, streams, bufsize
    le32(avih, width); le32(avih, height)                             // dwWidth @32, dwHeight @36
    le32(avih, 0); le32(avih, 0); le32(avih, 0); le32(avih, 0)        // reserved
    o.write(avih.toByteArray, 0, 56)
    o.write(payload, 0, payload.length)
    o.toByteArray
  }

  def synthJpeg(width: Int, height: Int, payload: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(JpegHeaderBytes + payload.length)
    o.write(0xFF); o.write(0xD8)                       // SOI
    o.write(0xFF); o.write(0xE0)                       // APP0
    o.write(0); o.write(16)                            // segment length (incl. itself)
    tag(o, "JFIF"); o.write(0)
    o.write(1); o.write(2)                             // version 1.2
    o.write(0); o.write(0); o.write(1); o.write(0); o.write(1) // units, densities
    o.write(0); o.write(0)                             // no thumbnail
    o.write(0xFF); o.write(0xC0)                       // SOF0 (baseline)
    o.write(0); o.write(11)                            // length
    o.write(8)                                         // precision
    o.write((height >>> 8) & 0xFF); o.write(height & 0xFF)
    o.write((width >>> 8) & 0xFF); o.write(width & 0xFF)
    o.write(1)                                         // 1 component
    o.write(1); o.write(0x11); o.write(0)              // comp id, sampling, qtable
    o.write(payload, 0, payload.length)
    o.toByteArray
  }

  // ---- real header parsers ---------------------------------------------------

  object MediaCodec {
    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
    private def be32(b: Array[Byte], i: Int): Int =
      (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
    private def le32(b: Array[Byte], i: Int): Int =
      u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
    private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
    private def tagAt(b: Array[Byte], i: Int, t: String): Boolean =
      b.length >= i + 4 && (0 until 4).forall(j => b(i + j) == t.charAt(j).toByte)

    private val PngSig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

    /** PNG: signature + first chunk must be IHDR; (width, height) from its
      * big-endian fields. */
    def parsePng(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 24) return None
      if (!(0 until 8).forall(i => b(i) == PngSig(i))) return None
      if (!tagAt(b, 12, "IHDR") || be32(b, 8) < 13) return None
      Some((be32(b, 16), be32(b, 20)))
    }

    /** RIFF walker: for WAVE, (sampleRate, channels) from the fmt chunk;
      * for AVI, (dwWidth, dwHeight) from the avih chunk inside LIST/hdrl.
      * Chunks are scanned by declared size (word-aligned), as the spec
      * prescribes — not by fixed offsets — so containers with extra chunks
      * parse too. */
    def parseRiff(b: Array[Byte]): Option[(String, Int, Int)] = {
      if (b.length < 12 || !tagAt(b, 0, "RIFF")) return None
      if (tagAt(b, 8, "WAVE")) {
        var i = 12
        while (i + 8 <= b.length) {
          val size = le32(b, i + 4)
          // adversarial/corrupt sizes: negative or overflowing declared
          // lengths must fail the parse, never hang or index out of bounds
          if (size < 0) return None
          if (tagAt(b, i, "fmt ") && size >= 16 && i + 8 + 16 <= b.length)
            return Some(("audio", le32(b, i + 12), le16(b, i + 10)))
          val next = i.toLong + 8L + size + (size & 1)
          if (next > b.length) return None
          i = next.toInt
        }
        None
      } else if (tagAt(b, 8, "AVI ")) {
        var i = 12
        while (i + 12 <= b.length) {
          val size = le32(b, i + 4)
          if (size < 0) return None
          if (tagAt(b, i, "LIST") && tagAt(b, i + 8, "hdrl")) {
            var j = i + 12
            val end = math.min(i.toLong + 8L + size, b.length.toLong).toInt
            while (j + 8 <= end) {
              val s2 = le32(b, j + 4)
              if (s2 < 0) return None
              if (tagAt(b, j, "avih") && s2 >= 40 && j + 8 + 40 <= b.length)
                return Some(("video", le32(b, j + 8 + 32), le32(b, j + 8 + 36)))
              val nj = j.toLong + 8L + s2 + (s2 & 1)
              if (nj > end) return None
              j = nj.toInt
            }
            return None
          }
          val next = i.toLong + 8L + size + (size & 1)
          if (next > b.length) return None
          i = next.toInt
        }
        None
      } else None
    }

    /** JPEG: SOI, then walk marker segments by their declared lengths
      * (APPn/COM/anything) until a start-of-frame (SOF0/1/2) yields
      * (width, height); stop at start-of-scan or a malformed marker. */
    def parseJpeg(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 4 || u8(b, 0) != 0xFF || u8(b, 1) != 0xD8) return None
      var i = 2
      while (i + 4 <= b.length && u8(b, i) == 0xFF) {
        // the spec allows any number of 0xFF FILL bytes before a marker
        // code — skip them, then read the code
        var j = i + 1
        while (j + 1 < b.length && u8(b, j) == 0xFF) j += 1
        val m = u8(b, j)
        if (m == 0xC0 || m == 0xC1 || m == 0xC2) {
          if (j + 8 > b.length) return None
          val h = (u8(b, j + 4) << 8) | u8(b, j + 5)
          val w = (u8(b, j + 6) << 8) | u8(b, j + 7)
          return Some((w, h))
        }
        if (m == 0xDA || m == 0xD9) return None // scan data / end: no SOF seen
        if (j + 2 >= b.length) return None
        val len = (u8(b, j + 1) << 8) | u8(b, j + 2)
        if (len < 2) return None
        i = j + 1 + len
      }
      None
    }

    /** Sniff the container from magic bytes and parse its header:
      * (kind, width, height); audio maps to (sampleRate, channels);
      * ("unknown", -1, -1) for unrecognized or corrupt bytes. */
    def parse(b: Array[Byte]): (String, Int, Int) = {
      val png = parsePng(b).map { case (w, h) => ("image", w, h) }
      lazy val jpeg = parseJpeg(b).map { case (w, h) => ("image", w, h) }
      lazy val riff = parseRiff(b)
      png.orElse(jpeg).orElse(riff).getOrElse(("unknown", -1, -1))
    }
  }

  /** Synth media table: real PNG/WAV/AVI containers with doc_id-derived
    * dimensions and the document text as payload (a production pipeline
    * reads (id, bytes) from Parquet/Iceberg exactly like this). */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.sources.Corpus.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val payload = text.getBytes("UTF-8")
        id % 4 match {
          case 0 =>
            val (w, h) = imageDims(id)
            MediaRow(id, "image", synthPng(w, h, payload))
          case 1 =>
            val (sr, ch) = audioParams(id)
            MediaRow(id, "audio", synthWav(sr, ch, payload))
          case 2 =>
            val (w, h) = videoDims(id)
            MediaRow(id, "video", synthAvi(w, h, payload))
          case _ =>
            val (w, h) = jpegDims(id)
            MediaRow(id, "image", synthJpeg(w, h, payload))
        }
      }
  }

  /** Batched feature extraction over partitions — one decoder instance per
    * partition (where a heavier codec/model session would be initialized
    * once and reused across the batch). */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        // kind is SNIFFED from the bytes, not read from the source column —
        // the source label exists only so a mismatch would fail the oracle
        val (kind, w, h) = MediaCodec.parse(r.media)
        MediaFeatures(r.doc_id, kind, r.media.length.toLong, w, h)
      }
    }
  }

  /** Driver-facing query: parsed media metadata. Oracle-checkable: the
    * dims/sizes the PARSER extracts from the bytes must equal the
    * closed-form synth formulas the SQL recomputes from doc_id. */
  def features(spark: SparkSession, sfDir: String): DataFrame =
    extractFeatures(mediaTable(spark, sfDir))
      .toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"),
        col("width").cast("long").as("width"), col("height").cast("long").as("height"))
      .orderBy("doc_id")
}
