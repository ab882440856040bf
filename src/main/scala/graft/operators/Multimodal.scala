package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads are opaque
  * `BINARY` columns with a typed metadata struct travelling beside them.
  *
  * ALL THREE modality decodes are REAL — no stubs remain:
  *  - IMAGE: [[PngCodec]] implements the public PNG spec (zlib inflate via
  *    `java.util.zip.Inflater`, per-chunk CRC32, all five scanline filters)
  *    with no image library — `mm_png_decode` recovers actual pixels and
  *    the oracle checks their sums/checksum independently.
  *  - AUDIO: [[WavHeader]] + the PCM decoders parse real RIFF/WAVE bytes
  *    and de-interleave genuine 16-bit samples.
  *  - VIDEO: [[Y4mCodec]] implements the public YUV4MPEG2 stream layout
  *    (the uncompressed interchange format real video toolchains pipe
  *    between stages) — `mm_video_decode` recovers actual per-frame YUV
  *    planes; a compressed codec (H.26x/AV1) would slot in at the same
  *    decode seam as a JNI/library call.
  *
  * Scale design: payload bytes never shuffle. Every decode goes through
  * one seam, [[decodeEach]]/[[decodeEachFlat]]: a narrow `MapPartitions`
  * stage inside the query's plan ([[Rows.mapPartitions]]), so a 100 TB
  * binary lake is decoded where it is read and only the small parsed
  * rows flow on to joins/aggregations.
  */
object Multimodal extends QueryModule {

  /** `(doc_id, payload)`: the shape every fixture builds and every decode
    * reads.
    */
  val payloadSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("payload", BinaryType)))

  /** PNG-framed payloads: a REAL png byte layout — 8-byte signature, then
    * an IHDR chunk (length, type, 13-byte data, CRC32 over type+data —
    * computed with Spark's `crc32`, so the chunk checksums like any PNG
    * tool expects) — followed by the document text bytes standing in for
    * the compressed image stream. Width/height are derived from
    * (doc_id, n_chars) so the DuckDB oracle can predict them INDEPENDENTLY
    * while the Spark side only learns them by parsing the bytes.
    */
  def attachPngMedia(docs: DataFrame): DataFrame = {
    def be4(c: Column): Column = unhex(lpad(hex(c.cast("bigint")), 8, "0"))
    val width = col("doc_id") % 1024 + 1
    val height = col("n_chars") % 768 + 1
    val typePlusData = concat(
      lit("IHDR".getBytes("US-ASCII")),
      be4(width), be4(height),
      // bit depth 8, color type 6 (RGBA), compression 0, filter 0, interlace 0
      lit(Array[Byte](8, 6, 0, 0, 0)))
    val payload = concat(
      lit(MediaHeader.PngSignature),
      be4(lit(13)), typePlusData, be4(crc32(typePlusData)),
      col("text").cast("binary"))
    docs.select(col("doc_id"), payload.as("payload"))
  }

  /** Byte-level media-header sniffing — the genuinely-decodable slice of
    * the multimodal pipeline (full image decode still needs the stubbed
    * codec seam; header fields don't). A real parser: verifies the PNG
    * signature, chunk length/type, AND the IHDR CRC32 before trusting the
    * fields; anything that fails a check degrades explicitly instead of
    * returning garbage dimensions.
    */
  object MediaHeader {
    val PngSignature: Array[Byte] =
      Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

    /** format ∈ {png, png-corrupt, raw}; fields None unless a valid IHDR
      * (signature + length + type + CRC all check out) was parsed.
      */
    case class Parsed(format: String, width: Option[Int], height: Option[Int],
                      bitDepth: Option[Int], colorType: Option[Int])

    def sniff(bytes: Array[Byte]): Parsed = {
      def be4(off: Int): Long =
        ((bytes(off) & 0xffL) << 24) | ((bytes(off + 1) & 0xffL) << 16) |
          ((bytes(off + 2) & 0xffL) << 8) | (bytes(off + 3) & 0xffL)
      val sigOk = bytes.length >= 8 &&
        java.util.Arrays.equals(bytes.take(8), PngSignature)
      if (!sigOk) Parsed("raw", None, None, None, None)
      // a real PNG signature on a payload too short to hold IHDR is a
      // TRUNCATED png, not raw text — degrade explicitly, don't reclassify
      else if (bytes.length < 33) Parsed("png-corrupt", None, None, None, None)
      else {
        val chunkLen = be4(8)
        val chunkType = new String(bytes, 12, 4, "US-ASCII")
        val crc = new java.util.zip.CRC32()
        crc.update(bytes, 12, 17) // type + 13 data bytes
        if (chunkLen != 13L || chunkType != "IHDR" || crc.getValue != be4(29))
          Parsed("png-corrupt", None, None, None, None)
        else
          Parsed("png", Some(be4(16).toInt), Some(be4(20).toInt),
            Some(bytes(24) & 0xff), Some(bytes(25) & 0xff))
      }
    }
  }

  val headerSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("bit_depth", IntegerType),
    StructField("color_type", IntegerType),
    StructField("n_bytes", LongType)))

  /** WAV-framed payloads — the audio twin of [[attachPngMedia]]: a REAL
    * RIFF/WAVE byte layout (RIFF frame with its size field, 16-byte PCM
    * `fmt ` chunk with byteRate/blockAlign computed, `data` chunk — all
    * little-endian, exactly as a .wav sits on disk) with the document text
    * bytes standing in for the PCM samples. Channels and sample rate
    * derive from (doc_id, n_chars) so the DuckDB oracle predicts them
    * INDEPENDENTLY while the Spark side only learns them by parsing the
    * bytes.
    */
  def attachWavMedia(docs: DataFrame): DataFrame = {
    def byteAt(c: Column, i: Int): Column =
      lpad(hex(shiftright(c.cast("bigint"), 8 * i).bitwiseAND(lit(255L))), 2, "0")
    def le4(c: Column): Column =
      unhex(concat(byteAt(c, 0), byteAt(c, 1), byteAt(c, 2), byteAt(c, 3)))
    def le2(c: Column): Column = unhex(concat(byteAt(c, 0), byteAt(c, 1)))
    val dataLen = length(col("text").cast("binary")).cast("bigint")
    val channels = col("doc_id") % 2 + 1
    val rate = lit(8000) + (col("n_chars") % 3) * 4000
    val blockAlign = channels * 2 // 16-bit PCM
    val byteRate = rate * blockAlign
    val payload = concat(
      lit("RIFF".getBytes("US-ASCII")), le4(dataLen + 36),
      lit("WAVE".getBytes("US-ASCII")),
      lit("fmt ".getBytes("US-ASCII")), le4(lit(16)), le2(lit(1)),
      le2(channels), le4(rate), le4(byteRate), le2(blockAlign), le2(lit(16)),
      lit("data".getBytes("US-ASCII")), le4(dataLen),
      col("text").cast("binary"))
    docs.select(col("doc_id"), payload.as("payload"))
  }

  /** RIFF/WAVE header parser — the audio twin of [[MediaHeader]]. Verifies
    * the RIFF frame (riff size = file size − 8), the 16-byte PCM `fmt `
    * chunk INCLUDING the byteRate/blockAlign arithmetic consistency (the
    * WAV layout's equivalent of PNG's CRC self-check), and the data-chunk
    * length, before trusting any field; a failed check degrades to
    * `wav-corrupt` with fields withheld, non-RIFF bytes to `raw`.
    */
  object WavHeader {
    case class Parsed(format: String, channels: Option[Int],
                      sampleRate: Option[Int], bitsPerSample: Option[Int],
                      dataLen: Option[Long])

    def sniff(bytes: Array[Byte]): Parsed = {
      def ascii(off: Int): String = new String(bytes, off, 4, "US-ASCII")
      def le2(off: Int): Int =
        (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
      def le4(off: Int): Long =
        (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
          ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
      val isRiff = bytes.length >= 12 &&
        ascii(0) == "RIFF" && ascii(8) == "WAVE"
      if (!isRiff) Parsed("raw", None, None, None, None)
      // RIFF/WAVE frame on a payload too short for the canonical header:
      // truncated wav, not raw bytes (same contract as PngHeader above)
      else if (bytes.length < 44) Parsed("wav-corrupt", None, None, None, None)
      else {
        val channels = le2(22)
        val rate = le4(24)
        val bits = le2(34)
        // channels ≥ 1 and bits ≥ 8 are structural, not arithmetic: a
        // zero-channel header satisfies the blockAlign/byteRate identities
        // trivially (0 == 0) and would crash any de-interleaving consumer
        val ok = le4(4) == bytes.length - 8L &&
          ascii(12) == "fmt " && le4(16) == 16L && le2(20) == 1 &&
          channels >= 1 && bits >= 8 &&
          le2(32) == channels * bits / 8 &&
          le4(28) == rate * channels * bits / 8 &&
          ascii(36) == "data" && le4(40) == bytes.length - 44L
        if (!ok) Parsed("wav-corrupt", None, None, None, None)
        else Parsed("wav", Some(channels), Some(rate.toInt), Some(bits),
          Some(bytes.length - 44L))
      }
    }
  }

  /** A REAL PNG codec — no image library, just the public PNG spec
    * (RFC 2083): zlib via `java.util.zip.{Deflater, Inflater}`, per-chunk
    * CRC32, and the five scanline filters (None/Sub/Up/Average/Paeth).
    * Supports bit depth 8, color types 2 (RGB) and 6 (RGBA), no interlace —
    * the dominant class of real-world PNGs. The encoder exists to build
    * genuine fixtures (it rotates through ALL five filter types, one per
    * scanline, so the decoder's unfilter logic is fully exercised); the
    * decoder is the production path: parse chunks → verify CRCs → inflate
    * IDAT → unfilter → raw pixels. Anything malformed degrades to a typed
    * `Left(reason)`, never garbage pixels.
    */
  object PngCodec {
    /** Unfiltered pixel bytes, row-major, `channels` bytes per pixel. */
    case class Decoded(width: Int, height: Int, channels: Int, pixels: Array[Byte])

    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    private def be4(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

    private def readBe4(bytes: Array[Byte], off: Int): Long =
      ((bytes(off) & 0xffL) << 24) | ((bytes(off + 1) & 0xffL) << 16) |
        ((bytes(off + 2) & 0xffL) << 8) | (bytes(off + 3) & 0xffL)

    private def writeChunk(out: java.io.ByteArrayOutputStream,
                           ctype: String, data: Array[Byte]): Unit = {
      out.write(be4(data.length.toLong), 0, 4)
      val typeBytes = ctype.getBytes("US-ASCII")
      out.write(typeBytes, 0, 4)
      out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(typeBytes); crc.update(data)
      out.write(be4(crc.getValue), 0, 4)
    }

    /** Encode a real PNG. `px(y, x, c)` supplies each channel value;
      * scanline y is written with filter type y % 5 so a decoder must
      * implement all five filters to get the pixels back.
      */
    def encode(width: Int, height: Int, colorType: Int,
               px: (Int, Int, Int) => Int): Array[Byte] = {
      require(colorType == 2 || colorType == 6, s"colorType $colorType")
      val ch = if (colorType == 2) 3 else 4
      val stride = width * ch
      val raw = new Array[Byte]((stride + 1) * height)
      val cur = new Array[Int](stride)
      val prior = new Array[Int](stride)
      var off = 0
      var y = 0
      while (y < height) {
        var i = 0
        while (i < stride) { cur(i) = px(y, i / ch, i % ch) & 0xff; i += 1 }
        val ft = y % 5
        raw(off) = ft.toByte; off += 1
        i = 0
        while (i < stride) {
          val left = if (i >= ch) cur(i - ch) else 0
          val up = if (y > 0) prior(i) else 0
          val upLeft = if (y > 0 && i >= ch) prior(i - ch) else 0
          val pred = ft match {
            case 0 => 0
            case 1 => left
            case 2 => up
            case 3 => (left + up) / 2
            case _ => paeth(left, up, upLeft)
          }
          raw(off) = ((cur(i) - pred) & 0xff).toByte; off += 1
          i += 1
        }
        System.arraycopy(cur, 0, prior, 0, stride)
        y += 1
      }
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(raw); deflater.finish()
      val zbuf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      while (!deflater.finished()) {
        val n = deflater.deflate(tmp); zbuf.write(tmp, 0, n)
      }
      deflater.end()
      val out = new java.io.ByteArrayOutputStream()
      out.write(MediaHeader.PngSignature, 0, 8)
      val ihdr = new java.io.ByteArrayOutputStream()
      ihdr.write(be4(width.toLong), 0, 4); ihdr.write(be4(height.toLong), 0, 4)
      ihdr.write(8); ihdr.write(colorType); ihdr.write(0); ihdr.write(0); ihdr.write(0)
      writeChunk(out, "IHDR", ihdr.toByteArray)
      writeChunk(out, "IDAT", zbuf.toByteArray)
      writeChunk(out, "IEND", Array.emptyByteArray)
      out.toByteArray
    }

    /** The real decode: signature → chunk walk (length bounds + CRC32 per
      * chunk) → IHDR fields → inflate concatenated IDAT → per-scanline
      * unfilter. Every malformation returns a typed reason.
      */
    def decode(bytes: Array[Byte]): Either[String, Decoded] = try {
      if (bytes.length < 8 ||
          !java.util.Arrays.equals(java.util.Arrays.copyOf(bytes, 8),
            MediaHeader.PngSignature))
        return Left("bad signature")
      var off = 8
      var width = -1; var height = -1; var colorType = -1; var bitDepth = -1
      val idat = new java.io.ByteArrayOutputStream()
      var seenIend = false
      while (!seenIend) {
        if (off + 8 > bytes.length) return Left("truncated chunk header")
        val len = readBe4(bytes, off)
        if (len > Int.MaxValue - 12 || off + 12 + len > bytes.length)
          return Left("truncated chunk")
        val n = len.toInt
        val ctype = new String(bytes, off + 4, 4, "US-ASCII")
        val crc = new java.util.zip.CRC32()
        crc.update(bytes, off + 4, 4 + n)
        if (crc.getValue != readBe4(bytes, off + 8 + n))
          return Left(s"crc mismatch in $ctype")
        ctype match {
          case "IHDR" =>
            if (n != 13) return Left("bad IHDR length")
            width = readBe4(bytes, off + 8).toInt
            height = readBe4(bytes, off + 12).toInt
            bitDepth = bytes(off + 16) & 0xff
            colorType = bytes(off + 17) & 0xff
            if (bitDepth != 8 || (colorType != 2 && colorType != 6))
              return Left(s"unsupported bit depth $bitDepth / color type $colorType")
            if (bytes(off + 18) != 0 || bytes(off + 19) != 0 || bytes(off + 20) != 0)
              return Left("unsupported compression/filter/interlace method")
          case "IDAT" => idat.write(bytes, off + 8, n)
          case "IEND" => seenIend = true
          case _      => () // ancillary chunk: CRC-checked, content skipped
        }
        off += 12 + n
      }
      if (width <= 0 || height <= 0) return Left("missing or empty IHDR")
      if (idat.size() == 0) return Left("no IDAT data")
      val ch = if (colorType == 2) 3 else 4
      val strideL = width.toLong * ch
      val rawLen = (strideL + 1L) * height
      // plausibility gate BEFORE allocating: zlib's maximum compression
      // ratio is ~1032:1, so claimed dimensions whose raw size exceeds
      // what the present IDAT bytes could possibly inflate to are a
      // crafted/corrupt header — degrade typed instead of letting a
      // 100-byte payload drive a multi-GB allocation (OutOfMemoryError
      // is not NonFatal and would escape the Left contract)
      if (rawLen > Int.MaxValue.toLong)
        return Left("dimensions exceed supported size")
      if (rawLen > idat.size().toLong * 1100L + 64L)
        return Left("dimensions implausible for IDAT size")
      val stride = strideL.toInt
      val raw = new Array[Byte]((stride + 1) * height)
      val inflater = new java.util.zip.Inflater()
      inflater.setInput(idat.toByteArray)
      var total = 0
      try {
        while (!inflater.finished() && total < raw.length) {
          val n = inflater.inflate(raw, total, raw.length - total)
          if (n == 0 && (inflater.needsInput() || inflater.needsDictionary()))
            return Left("truncated IDAT stream")
          total += n
        }
      } finally inflater.end()
      if (total != raw.length) return Left("short pixel stream")
      val pixels = new Array[Byte](stride * height)
      var y = 0
      while (y < height) {
        val ft = raw(y * (stride + 1)) & 0xff
        if (ft > 4) return Left(s"bad filter type $ft")
        val rowOff = y * (stride + 1) + 1
        val outOff = y * stride
        var i = 0
        while (i < stride) {
          val x = raw(rowOff + i) & 0xff
          val left = if (i >= ch) pixels(outOff + i - ch) & 0xff else 0
          val up = if (y > 0) pixels(outOff - stride + i) & 0xff else 0
          val upLeft = if (y > 0 && i >= ch) pixels(outOff - stride + i - ch) & 0xff else 0
          val v = ft match {
            case 0 => x
            case 1 => x + left
            case 2 => x + up
            case 3 => x + (left + up) / 2
            case _ => x + paeth(left, up, upLeft)
          }
          pixels(outOff + i) = (v & 0xff).toByte
          i += 1
        }
        y += 1
      }
      Right(Decoded(width, height, ch, pixels))
    } catch {
      case scala.util.control.NonFatal(e) => Left(s"decode error: ${e.getClass.getSimpleName}")
    }
  }

  /** Baseline JPEG (ITU-T T.81 sequential DCT, Huffman entropy coding) —
    * the dominant real-world image format, implemented from the public
    * spec with no image library, the [[PngCodec]] precedent. The DECODER
    * is fully general baseline: marker walk (APPn/COM skipped, DQT/DHT
    * accumulated, DRI honored), arbitrary DHT tables (canonical
    * code construction per the spec's C.2), arbitrary quant tables,
    * interleaved and single-component scans, sampling factors to 4,
    * restart markers, byte destuffing, run/size AC decoding with
    * EOB/ZRL, dequantization, and a double-precision 2-D IDCT with
    * level shift and clamp. Planes come back at NATIVE component
    * resolution (4:2:0 chroma at quarter size — the [[Y4mCodec]]
    * convention), cropped to the declared component dimensions.
    *
    * The ENCODER writes genuinely valid baseline files (fixture
    * generation): custom-but-legal uniform quant tables and compact
    * canonical DHT tables (what an "optimized Huffman" encoder emits),
    * coefficients chosen so the lossy DCT round-trip is EXACT — per-block
    * constant luma plus one horizontal-frequency-4 AC term whose IDCT is
    * ±F/8 with a closed-form sign pattern — which is what lets the DuckDB
    * oracle predict every decoded pixel from the generator formula while
    * the Spark side can only reach them through the full Huffman →
    * dequant → IDCT chain. Every malformation degrades to a typed
    * reason, never garbage pixels.
    */
  object JpegCodec {
    /** One component's samples at NATIVE resolution, row-major. */
    case class Plane(width: Int, height: Int, data: Array[Byte])
    /** width/height are the frame's; planes are per-component (1 = gray,
      * 3 = Y, Cb, Cr).
      */
    case class Decoded(width: Int, height: Int, planes: Seq[Plane])

    /** Zigzag position → natural position (row*8 + col). */
    private val Zigzag: Array[Int] = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

    private val CosTable: Array[Array[Double]] = Array.tabulate(8, 8) {
      (x, u) => math.cos((2 * x + 1) * u * math.Pi / 16)
    }

    // ---- entropy-coded bit IO ----

    private class BitWriter(out: java.io.ByteArrayOutputStream) {
      private var acc = 0
      private var nBits = 0
      def writeBits(v: Int, n: Int): Unit = {
        var i = n - 1
        while (i >= 0) {
          acc = (acc << 1) | ((v >> i) & 1)
          nBits += 1
          if (nBits == 8) {
            out.write(acc)
            if (acc == 0xff) out.write(0x00) // byte stuffing
            acc = 0; nBits = 0
          }
          i -= 1
        }
      }
      /** Pad the final partial byte with 1-bits (the spec's fill). */
      def flush(): Unit = if (nBits > 0) {
        acc = (acc << (8 - nBits)) | ((1 << (8 - nBits)) - 1)
        out.write(acc)
        if (acc == 0xff) out.write(0x00)
        acc = 0; nBits = 0
      }
    }

    /** Destuffing bit reader over the entropy-coded segment; stops AT any
      * marker (0xFF non-zero) and exposes it for restart handling.
      */
    private class BitReader(bytes: Array[Byte], private var pos: Int) {
      private var acc = 0
      private var nBits = 0
      private var hitMarker = -1

      /** The marker byte (0xD0-0xD9...) this reader stopped at, or -1. */
      def marker: Int = hitMarker
      def position: Int = pos

      def readBit(): Int = {
        if (nBits == 0) {
          if (hitMarker >= 0) throw CorruptJpeg("truncated scan")
          if (pos >= bytes.length) throw CorruptJpeg("truncated scan")
          val b = bytes(pos) & 0xff
          pos += 1
          if (b == 0xff) {
            if (pos >= bytes.length) throw CorruptJpeg("truncated scan")
            val b2 = bytes(pos) & 0xff
            if (b2 == 0x00) { pos += 1; acc = 0xff; nBits = 8 }
            else { hitMarker = b2; throw CorruptJpeg("truncated scan") }
          } else { acc = b; nBits = 8 }
        }
        nBits -= 1
        (acc >> nBits) & 1
      }

      /** Resync to the byte boundary (discarding the spec's 1-bit fill)
        * and report the marker found there, if any — the restart-marker
        * detection step.
        */
      def atMarker(): Option[Int] = {
        nBits = 0 // pad bits before a marker are fill, never data
        if (hitMarker >= 0) return Some(hitMarker)
        if (pos + 1 < bytes.length && (bytes(pos) & 0xff) == 0xff &&
            (bytes(pos + 1) & 0xff) != 0x00) {
          hitMarker = bytes(pos + 1) & 0xff
          pos += 2
          Some(hitMarker)
        } else None
      }

      /** Discard pad bits and the consumed restart marker. */
      def resync(): Unit = { nBits = 0; acc = 0; hitMarker = -1 }

      def receive(n: Int): Int = {
        var v = 0
        var i = 0
        while (i < n) { v = (v << 1) | readBit(); i += 1 }
        v
      }
    }

    private final case class CorruptJpeg(reason: String)
        extends RuntimeException(reason)

    /** Canonical Huffman table (spec C.2): BITS (codes per length 1..16)
      * + values in code order.
      */
    private class HuffTable(bits: Array[Int], vals: Array[Byte]) {
      // mincode/maxcode/valptr per length — the spec's F.2.2.3 DECODE
      private val minCode = new Array[Int](17)
      private val maxCode = new Array[Int](17)
      private val valPtr = new Array[Int](17)
      locally {
        var code = 0
        var k = 0
        var l = 1
        while (l <= 16) {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1)
          k += bits(l - 1)
          maxCode(l) = code - 1
          if (bits(l - 1) == 0) maxCode(l) = -1
          code <<= 1
          l += 1
        }
        if (k != vals.length) throw CorruptJpeg("bad huffman table")
      }
      def decode(in: BitReader): Int = {
        var code = in.readBit()
        var l = 1
        while (l <= 16) {
          if (maxCode(l) >= 0 && code <= maxCode(l))
            return vals(valPtr(l) + code - minCode(l)) & 0xff
          code = (code << 1) | in.readBit()
          l += 1
        }
        throw CorruptJpeg("bad huffman code")
      }
    }

    /** EXTEND (spec F.2.2.1): map `v` in `n` bits to its signed value. */
    private def extend(v: Int, n: Int): Int =
      if (n == 0) 0 else if (v < (1 << (n - 1))) v - (1 << n) + 1 else v

    /** Bit category of a signed value (DC/AC size). */
    private def category(v: Int): Int = {
      var a = math.abs(v)
      var n = 0
      while (a != 0) { a >>= 1; n += 1 }
      n
    }

    // =================== ENCODER (fixture generation) ===================

    /** Uniform quant table: every entry `q` — legal, and it makes the
      * dequantized coefficient exactly `q ×` the quantized one.
      */
    private val Q = 16

    private def be2(v: Int): Array[Byte] =
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

    private def segment(out: java.io.ByteArrayOutputStream, marker: Int,
        payload: Array[Byte]): Unit = {
      out.write(0xff); out.write(marker)
      out.write(be2(payload.length + 2), 0, 2)
      out.write(payload, 0, payload.length)
    }

    /** The fixture's compact-but-legal DHT tables: DC = 12 categories at
      * 4 bits each; AC = the 3 symbols the generator emits (EOB and
      * run-13/size-1..2) at 2 bits each. A general decoder must build
      * them canonically from BITS — the standard Annex K tables exercise
      * the same code path with different numbers.
      */
    private val DcBits: Array[Int] =
      Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    private val DcVals: Array[Byte] = Array.tabulate(12)(_.toByte)
    private val AcBits: Array[Int] =
      Array(0, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    private val AcVals: Array[Byte] =
      Array(0x00.toByte, 0xd1.toByte, 0xd2.toByte)

    private def encodeHuffCode(w: BitWriter, bits: Array[Int],
        vals: Array[Byte], sym: Int): Unit = {
      // canonical code for `sym` (tables are tiny; recompute per call)
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        var i = 0
        while (i < bits(l - 1)) {
          if ((vals(k) & 0xff) == sym) { w.writeBits(code, l); return }
          code += 1; k += 1; i += 1
        }
        code <<= 1
        l += 1
      }
      throw new IllegalArgumentException(s"symbol $sym not in table")
    }

    /** One block's (quantized DC, quantized AC at zigzag 14) → entropy
      * bits. Returns the new DC predictor.
      */
    private def encodeBlock(w: BitWriter, prevDc: Int, dcq: Int,
        acq: Int): Int = {
      val diff = dcq - prevDc
      val s = category(diff)
      encodeHuffCode(w, DcBits, DcVals, s)
      if (s > 0)
        w.writeBits(if (diff >= 0) diff else diff + (1 << s) - 1, s)
      if (acq != 0) {
        val sz = category(acq)
        require(sz <= 2, s"fixture AC out of table range: $acq")
        encodeHuffCode(w, AcBits, AcVals, (13 << 4) | sz) // run 13, zigzag 14
        w.writeBits(if (acq >= 0) acq else acq + (1 << sz) - 1, sz)
      }
      encodeHuffCode(w, AcBits, AcVals, 0x00) // EOB
      prevDc + diff
    }

    /** Encode a GRAYSCALE baseline JPEG: `w`×8, one row of `w/8` blocks,
      * per-block (dcq, acq) from `coef(bi)`. `restartInterval` > 0 emits
      * DRI + RSTn markers every that many MCUs (decoder generality).
      */
    def encodeGray(w: Int, coef: Int => (Int, Int),
        restartInterval: Int = 0): Array[Byte] = {
      require(w % 8 == 0 && w > 0, "width must be a positive multiple of 8")
      val out = new java.io.ByteArrayOutputStream()
      out.write(0xff); out.write(0xd8) // SOI
      writeTables(out, restartInterval)
      // SOF0: 8-bit, h=8, w, 1 component (id 1, 1x1, qtable 0)
      segment(out, 0xc0, Array[Byte](8, 0, 8) ++ be2(w) ++
        Array[Byte](1, 1, 0x11, 0))
      // SOS: 1 component (id 1, DC table 0 / AC table 0)
      segment(out, 0xda, Array[Byte](1, 1, 0x00, 0, 63, 0))
      val bw = new BitWriter(out)
      var prevDc = 0
      var mcusSinceRestart = 0
      var rstIdx = 0
      var bi = 0
      while (bi < w / 8) {
        if (restartInterval > 0 && mcusSinceRestart == restartInterval) {
          bw.flush()
          out.write(0xff); out.write(0xd0 + (rstIdx % 8))
          rstIdx += 1; mcusSinceRestart = 0; prevDc = 0
        }
        val (dcq, acq) = coef(bi)
        prevDc = encodeBlock(bw, prevDc, dcq, acq)
        mcusSinceRestart += 1
        bi += 1
      }
      bw.flush()
      out.write(0xff); out.write(0xd9) // EOI
      out.toByteArray
    }

    /** Encode a 16×16 YCbCr 4:2:0 baseline JPEG (one interleaved MCU:
      * four luma blocks in 2×2 order, then Cb, then Cr). Luma block bi
      * (= (y/8)*2 + x/8) gets `lumaCoef(bi)`; chroma blocks are constant
      * (`cbDc`/`crDc` quantized DC).
      */
    def encode420(lumaCoef: Int => (Int, Int), cbDc: Int,
        crDc: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(0xff); out.write(0xd8)
      writeTables(out, 0)
      // SOF0: 16×16, 3 components — Y (2x2), Cb (1x1), Cr (1x1), qtable 0
      segment(out, 0xc0, Array[Byte](8, 0, 16, 0, 16, 3,
        1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0))
      segment(out, 0xda, Array[Byte](3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0))
      val bw = new BitWriter(out)
      var prevY = 0
      (0 until 4).foreach { bi =>
        val (dcq, acq) = lumaCoef(bi)
        prevY = encodeBlock(bw, prevY, dcq, acq)
      }
      encodeBlock(bw, 0, cbDc, 0): Unit
      encodeBlock(bw, 0, crDc, 0): Unit
      bw.flush()
      out.write(0xff); out.write(0xd9)
      out.toByteArray
    }

    /** Encode an 8×8 YCbCr 4:4:4 baseline file as THREE single-component
      * scans (non-interleaved sequential — legal per T.81) with constant
      * per-component levels — the decoder-generality fixture proving the
      * marker walk continues past the first SOS.
      */
    def encode444MultiScan(yDc: Int, cbDc: Int, crDc: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(0xff); out.write(0xd8)
      writeTables(out, 0)
      segment(out, 0xc0, Array[Byte](8, 0, 8, 0, 8, 3,
        1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0))
      Seq(1 -> yDc, 2 -> cbDc, 3 -> crDc).foreach { case (cid, dc) =>
        segment(out, 0xda, Array[Byte](1, cid.toByte, 0x00, 0, 63, 0))
        val bw = new BitWriter(out)
        encodeBlock(bw, 0, dc, 0): Unit
        bw.flush()
      }
      out.write(0xff); out.write(0xd9)
      out.toByteArray
    }

    private def writeTables(out: java.io.ByteArrayOutputStream,
        restartInterval: Int): Unit = {
      // APP0: a comment-ish application segment (skipped by decoders)
      segment(out, 0xe0, "graft".getBytes("US-ASCII"))
      // DQT: table 0, 8-bit, uniform Q in zigzag order
      segment(out, 0xdb, Array[Byte](0x00) ++ Array.fill(64)(Q.toByte))
      // DHT: DC class 0 id 0, then AC class 1 id 0
      segment(out, 0xc4,
        Array[Byte](0x00) ++ DcBits.map(_.toByte) ++ DcVals ++
          Array[Byte](0x10) ++ AcBits.map(_.toByte) ++ AcVals)
      if (restartInterval > 0)
        segment(out, 0xdd, be2(restartInterval))
    }

    // ========================== DECODER ==========================

    private class Component(val id: Int, val h: Int, val v: Int,
        val tq: Int) {
      var dcTable: Int = 0
      var acTable: Int = 0
      var prevDc: Int = 0
      var width: Int = 0 // native sample dims (cropped)
      var height: Int = 0
      var blocksW: Int = 0 // padded block grid (interleaved: MCU-aligned)
      var blocksH: Int = 0
      var data: Array[Byte] = null // padded plane, blocksW*8 × blocksH*8
    }

    /** The real decode: marker walk → table collection → SOF0 frame →
      * SOS scan(s) → per-MCU Huffman decode, dequant, IDCT, level shift.
      * Every malformation returns a typed Left.
      */
    def decode(bytes: Array[Byte]): Either[String, Decoded] = try {
      if (bytes.length < 2 || (bytes(0) & 0xff) != 0xff ||
          (bytes(1) & 0xff) != 0xd8)
        return Left("bad signature")
      val quant = new Array[Array[Int]](4)
      val dcTables = new Array[HuffTable](4)
      val acTables = new Array[HuffTable](4)
      var restartInterval = 0
      var frameW = -1
      var frameH = -1
      var comps: Array[Component] = null
      var pos = 2

      def u8(p: Int): Int = {
        if (p >= bytes.length) throw CorruptJpeg("truncated segment")
        bytes(p) & 0xff
      }
      def u16(p: Int): Int = (u8(p) << 8) | u8(p + 1)

      val decoded = scala.collection.mutable.Set[Int]() // component ids
      def finish(): Either[String, Decoded] =
        if (comps == null) Left("missing frame header")
        else if (!comps.forall(c => decoded(c.id))) Left("missing scan")
        else Right(Decoded(frameW, frameH, comps.toSeq.map(cropPlane)))

      while (pos < bytes.length) {
        if (u8(pos) != 0xff) return Left("bad marker")
        var marker = u8(pos + 1)
        pos += 2
        // T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
        while (marker == 0xff) { marker = u8(pos); pos += 1 }
        marker match {
          case 0xd9 => // EOI
            return finish()
          case 0xc0 | 0xc1 => // baseline / extended sequential
            val len = u16(pos)
            if (u8(pos + 2) != 8) return Left("unsupported sample precision")
            frameH = u16(pos + 3)
            frameW = u16(pos + 5)
            if (frameW <= 0 || frameH <= 0) return Left("bad frame dimensions")
            val n = u8(pos + 7)
            if (n != 1 && n != 3) return Left(s"unsupported component count $n")
            if (len != 8 + 3 * n) return Left("bad frame header length")
            comps = Array.tabulate(n) { i =>
              val off = pos + 8 + 3 * i
              val hv = u8(off + 1)
              val c = new Component(u8(off), hv >> 4, hv & 0x0f, u8(off + 2))
              if (c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4)
                return Left("bad sampling factors")
              c
            }
            pos += len
          case 0xc2 => return Left("unsupported progressive")
          case m if m >= 0xc3 && m <= 0xcf && m != 0xc4 && m != 0xc8 =>
            return Left("unsupported frame type")
          case 0xc4 => // DHT
            val len = u16(pos)
            val end = pos + len
            var p = pos + 2
            while (p < end) {
              val tc = u8(p) >> 4
              val th = u8(p) & 0x0f
              if (tc > 1 || th > 3) return Left("bad huffman table")
              val tblBits = Array.tabulate(16)(i => u8(p + 1 + i))
              val nVals = tblBits.sum
              if (p + 17 + nVals > end) return Left("bad huffman table")
              val vals = new Array[Byte](nVals)
              var i = 0
              while (i < nVals) { vals(i) = bytes(p + 17 + i); i += 1 }
              val tbl = new HuffTable(tblBits, vals)
              if (tc == 0) dcTables(th) = tbl else acTables(th) = tbl
              p += 17 + nVals
            }
            pos += len
          case 0xdb => // DQT
            val len = u16(pos)
            val end = pos + len
            var p = pos + 2
            while (p < end) {
              val pq = u8(p) >> 4
              val tq = u8(p) & 0x0f
              if (tq > 3) return Left("bad quant table")
              if (pq > 1) return Left("bad quant table")
              val step = if (pq == 0) 1 else 2
              if (p + 1 + 64 * step > end) return Left("bad quant table")
              quant(tq) = Array.tabulate(64)(i =>
                if (pq == 0) u8(p + 1 + i) else u16(p + 1 + 2 * i))
              p += 1 + 64 * step
            }
            pos += len
          case 0xdd => // DRI
            restartInterval = u16(pos + 2)
            pos += u16(pos)
          case 0xda => // SOS — decode this scan, then keep walking: a
            // legal baseline file may carry SEVERAL single-component
            // scans (non-interleaved Y, then Cb, then Cr)
            if (comps == null) return Left("missing frame header")
            val len = u16(pos)
            val ns = u8(pos + 2)
            if (ns < 1 || ns > comps.length) return Left("bad scan header")
            val scanComps = Array.tabulate(ns) { i =>
              val cid = u8(pos + 3 + 2 * i)
              val c = comps.find(_.id == cid).getOrElse(
                return Left("scan references unknown component"))
              c.dcTable = u8(pos + 4 + 2 * i) >> 4
              c.acTable = u8(pos + 4 + 2 * i) & 0x0f
              c
            }
            pos += len
            pos = decodeScan(bytes, pos, scanComps, comps, quant,
              dcTables, acTables, restartInterval, frameW, frameH)
            scanComps.foreach(c => decoded.add(c.id): Unit)
          case m if m >= 0xd0 && m <= 0xd7 =>
            return Left("unexpected restart marker")
          case 0x01 => () // TEM, parameterless
          case _ => // APPn, COM, anything else with a length
            pos += u16(pos)
        }
      }
      Left("missing scan")
    } catch {
      case CorruptJpeg(reason) => Left(reason)
      case scala.util.control.NonFatal(e) =>
        Left(s"decode error: ${e.getClass.getSimpleName}")
    }

    /** Crop a component's padded plane to its native dims. */
    private def cropPlane(c: Component): Plane = {
      val planeW = c.blocksW * 8
      val outData = new Array[Byte](c.width * c.height)
      var y = 0
      while (y < c.height) {
        System.arraycopy(c.data, y * planeW, outData, y * c.width, c.width)
        y += 1
      }
      Plane(c.width, c.height, outData)
    }

    /** Decode one scan's entropy data into its components' planes;
      * returns the byte position just past the scan (where the next
      * marker begins).
      */
    private def decodeScan(bytes: Array[Byte], start: Int,
        scanComps: Array[Component], comps: Array[Component],
        quant: Array[Array[Int]], dcTables: Array[HuffTable],
        acTables: Array[HuffTable], restartInterval: Int,
        frameW: Int, frameH: Int): Int = {
      val hMax = comps.map(_.h).max
      val vMax = comps.map(_.v).max
      // native (cropped) dims + padded block grids for THIS scan's
      // components (others may be decoded by their own later scan)
      scanComps.foreach { c =>
        c.width = (frameW * c.h + hMax - 1) / hMax
        c.height = (frameH * c.v + vMax - 1) / vMax
        if (scanComps.length == 1) {
          c.blocksW = (c.width + 7) / 8
          c.blocksH = (c.height + 7) / 8
        } else {
          val mcusW = (frameW + 8 * hMax - 1) / (8 * hMax)
          val mcusH = (frameH + 8 * vMax - 1) / (8 * vMax)
          c.blocksW = mcusW * c.h
          c.blocksH = mcusH * c.v
        }
        c.data = new Array[Byte](c.blocksW * 8 * c.blocksH * 8)
        c.prevDc = 0
      }
      val in = new BitReader(bytes, start)
      val coeffs = new Array[Int](64)
      val block = new Array[Int](64)

      def decodeBlockTo(c: Component, bx: Int, by: Int): Unit = {
        val dc = dcTables(c.dcTable)
        val ac = acTables(c.acTable)
        val qt = quant(c.tq)
        if (dc == null || ac == null) throw CorruptJpeg("missing huffman table")
        if (qt == null) throw CorruptJpeg("missing quant table")
        java.util.Arrays.fill(coeffs, 0)
        val s = dc.decode(in)
        if (s > 11) throw CorruptJpeg("bad DC category")
        val diff = extend(in.receive(s), s)
        c.prevDc += diff
        coeffs(0) = c.prevDc * qt(0)
        var k = 1
        var done = false
        while (!done && k < 64) {
          val rs = ac.decode(in)
          val r = rs >> 4
          val sz = rs & 0x0f
          if (sz == 0) {
            if (r == 15) { // ZRL: 16 zeros, and a coefficient MUST follow
              k += 16
              if (k > 63) throw CorruptJpeg("AC index overflow")
            } else done = true // EOB
          } else {
            k += r
            if (k > 63) throw CorruptJpeg("AC index overflow")
            coeffs(Zigzag(k)) = extend(in.receive(sz), sz) * qt(k)
            k += 1
          }
        }
        // 2-D IDCT (double), level shift, clamp, place into the plane
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            var sum = 0.0
            var v = 0
            while (v < 8) {
              var u = 0
              val cy = CosTable(y)(v)
              while (u < 8) {
                val cu = if (u == 0) 0.70710678118654752 else 1.0
                val cv = if (v == 0) 0.70710678118654752 else 1.0
                val coef = coeffs(v * 8 + u)
                if (coef != 0) sum += cu * cv * coef * CosTable(x)(u) * cy
                u += 1
              }
              v += 1
            }
            val px = math.round(sum / 4 + 128).toInt
            block(y * 8 + x) = math.max(0, math.min(255, px))
            x += 1
          }
          y += 1
        }
        val planeW = c.blocksW * 8
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            c.data((by * 8 + yy) * planeW + bx * 8 + xx) =
              block(yy * 8 + xx).toByte
            xx += 1
          }
          yy += 1
        }
      }

      val (mcusW, mcusH) =
        if (scanComps.length == 1)
          (scanComps(0).blocksW, scanComps(0).blocksH)
        else ((frameW + 8 * hMax - 1) / (8 * hMax),
          (frameH + 8 * vMax - 1) / (8 * vMax))
      var mcu = 0
      val totalMcus = mcusW * mcusH
      var rstExpected = 0
      while (mcu < totalMcus) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          in.atMarker() match {
            case Some(m) if m >= 0xd0 && m <= 0xd7 =>
              if ((m - 0xd0) != (rstExpected % 8))
                throw CorruptJpeg("restart marker out of sequence")
              rstExpected += 1
              in.resync()
              comps.foreach(_.prevDc = 0)
            case _ => throw CorruptJpeg("missing restart marker")
          }
        }
        if (scanComps.length == 1) {
          val c = scanComps(0)
          decodeBlockTo(c, mcu % mcusW, mcu / mcusW)
        } else {
          val my = mcu / mcusW
          val mx = mcu % mcusW
          scanComps.foreach { c =>
            var v = 0
            while (v < c.v) {
              var h = 0
              while (h < c.h) {
                decodeBlockTo(c, mx * c.h + h, my * c.v + v)
                h += 1
              }
              v += 1
            }
          }
        }
        mcu += 1
      }
      // discard the final byte's 1-bit fill; the scan ends at the byte
      // boundary, where the next marker begins
      in.position
    }
  }

  /** Small REAL PNGs (≤ 16×12, RGB for even doc_ids / RGBA for odd) whose
    * pixel values follow a formula the DuckDB oracle can replay
    * independently — while the Spark side only learns them by genuinely
    * decoding the bytes (inflate + unfilter). Encoded with all five filter
    * types in rotation, so a broken filter implementation cannot round-trip.
    * Images are deliberately small: the oracle enumerates every pixel in
    * SQL, which bounds fixture size, not the decoder (the decode path is
    * the same for a 4K frame).
    */
  def attachPngPixelMedia(docs: DataFrame): DataFrame = {
    Rows.mapPartitions(docs.select(col("doc_id"),
        col("n_chars").cast("bigint").as("n_chars")),
        payloadSchema)(_.map { r =>
      val id = r.getLong(0); val nChars = r.getLong(1)
      val w = (id % 16 + 1).toInt
      val h = (nChars % 12 + 1).toInt
      val colorType = if (id % 2 == 0) 2 else 6
      val bytes = PngCodec.encode(w, h, colorType,
        (y, x, c) => ((id * 31 + y * 7 + x * 5 + c * 11) % 256).toInt)
      Row(id, bytes)
    })
  }

  /** 18×16 RGB PNGs engineered for perceptual-hash dedup: pixel values
    * are quadratic in (x, y) with coefficients derived from a CONTENT id
    * that collapses doc_id slots 8/9 of each decade onto slots 0/1 —
    * slot 8 is a pixel-exact re-render of slot 0 (dHash distance 0) and
    * slot 9 is slot 1 with one sampled pixel site forced to black or
    * white, whichever FLIPS that site's gradient comparison (dHash
    * distance exactly 1–2, the "same image, small edit" case — a naive
    * ±128 perturbation can be swallowed when the neighbors already
    * bracket both values). The id must modulate the SPATIAL
    * coefficients, not brightness: a constant per-image offset cancels
    * in the gradient comparisons dHash takes, which would collapse every
    * image to one hash (measured while tuning: 52k accidental pairs
    * under a brightness-only formula vs 0 here at 500 docs).
    */
  def attachDhashMedia(docs: DataFrame): DataFrame = {
    Rows.mapPartitions(docs.select(col("doc_id")), payloadSchema)(_.map { r =>
      val id = r.getLong(0)
      val k = (id / 10) * 10 + (id % 10) % 8
      val a1 = (k * 13 % 97 + 7).toInt
      val a2 = (k * 29 % 83 + 5).toInt
      val pert = id % 10 == 9
      // unperturbed gray at sampled cell (ty, tx) — the flip chooses the
      // extreme that inverts the (2,3)>(2,4) comparison
      def gray0(ty: Int, tx: Int): Int = {
        val x = 2 * tx; val y = 2 * ty
        val v = (a1 * x * x + a2 * x * y + 13 * y * y) % 256
        (299 * v + 587 * ((v + 11) % 256) + 114 * ((v + 22) % 256)) / 1000
      }
      val pv = if (pert && gray0(2, 3) > gray0(2, 4)) 0 else 255
      val bytes = PngCodec.encode(18, 16, 2, (y, x, c) =>
        if (pert && y == 4 && x == 6) pv
        else (a1 * x * x + a2 * x * y + 13 * y * y + c * 11) % 256)
      Row(id, bytes)
    })
  }

  val dhashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("hash_hi", LongType),
    StructField("hash_lo", LongType)))

  /** 64-bit difference hash (dHash) over REAL decoded pixels: the image
    * is point-sampled to a 9×8 grid (source coords (2·ty, 2·tx) — exact
    * integers, so the oracle can replay them), grayscaled with the
    * integer Rec.601 weights, and each of the 64 bits records whether a
    * cell outbrightens its right neighbor. Gradient signs survive
    * re-encoding and uniform brightness shifts — the property that makes
    * dHash the standard cheap near-dup signal for image corpora. The
    * split into two 32-bit halves keeps every value positive in a BIGINT
    * on both engines. Corrupt payloads degrade typed, fields withheld.
    */
  private def dhashRow(id: Long, bytes: Array[Byte]): Row =
    PngCodec.decode(bytes) match {
      case Left(_) => Row(id, "png-corrupt", null, null)
      case Right(dec) =>
        val gray = Array.ofDim[Int](8, 9)
        var ty = 0
        while (ty < 8) {
          var tx = 0
          while (tx < 9) {
            val base = (2 * ty * dec.width + 2 * tx) * dec.channels
            gray(ty)(tx) = (299 * (dec.pixels(base) & 0xff)
              + 587 * (dec.pixels(base + 1) & 0xff)
              + 114 * (dec.pixels(base + 2) & 0xff)) / 1000
            tx += 1
          }
          ty += 1
        }
        var hi = 0L; var lo = 0L
        ty = 0
        while (ty < 8) {
          var tx = 0
          while (tx < 8) {
            if (gray(ty)(tx) > gray(ty)(tx + 1)) {
              val b = ty * 8 + tx
              if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
            }
            tx += 1
          }
          ty += 1
        }
        Row(id, "png", hi, lo)
    }

  /** dHash: decode + hash where the bytes are read; only 3-long rows
    * continue.
    */
  def dhash(media: DataFrame): DataFrame =
    decodeEach(media, dhashSchema)(dhashRow)

  /** Identity collapse over a 64-bit hash frame `(doc_id, hash_hi,
    * hash_lo)`: adds `rep` = the group's min doc_id. Exact duplicates —
    * the dominant case in a web image corpus (one photo re-hosted g
    * times) — collapse to ONE representative before any banding, so the
    * band self-join never sees g copies of the same value (the text
    * ladder's exact-dedup-before-near-dup composition). One shuffle on
    * the hash key, no join.
    */
  private[graft] def dhashCollapse(hashes: DataFrame): DataFrame =
    hashes.withColumn("rep",
      min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("hash_hi"), col("hash_lo"))))

  /** 4×16-bit banding of a 64-bit hash frame (the [[Dedup]] simhash
    * convention at 64 bits): by pigeonhole, hamming ≤ 3 leaves at least
    * one band untouched, so the band equi-join has FULL recall over the
    * ≤ 3 cut and the exact bit_count(xor) filter verifies.
    */
  private[graft] def dhashBanded(hashes: DataFrame): DataFrame =
    hashes.select(col("doc_id"), col("hash_hi"), col("hash_lo"),
      explode(array(
        struct(lit(0).as("ci"), col("hash_lo").bitwiseAND(lit(0xffffL)).as("cv")),
        struct(lit(1).as("ci"), shiftright(col("hash_lo"), 16).bitwiseAND(lit(0xffffL)).as("cv")),
        struct(lit(2).as("ci"), col("hash_hi").bitwiseAND(lit(0xffffL)).as("cv")),
        struct(lit(3).as("ci"), shiftright(col("hash_hi"), 16).bitwiseAND(lit(0xffffL)).as("cv"))
      )).as("c"))
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"),
        col("c.ci").as("ci"), col("c.cv").as("cv"))

  /** Near-dup pairs BETWEEN DISTINCT hash values at hamming 1..3: bands
    * only the identity REPRESENTATIVES (one row per distinct hash) and
    * hot-band-guards the band values ([[Dedup.capHotBands]] — a
    * near-constant image family concentrating on one 16-bit chunk value
    * is dropped at the cap instead of going quadratic; dropped mass is
    * observable via [[Dedup.hotBandMass]] over the same banded frame).
    * Distinct reps can never be at hamming 0, so the 1..3 range loses
    * nothing.
    */
  private[graft] def dhashRepPairs(
      reps: DataFrame, maxHamming: Int = 3): DataFrame = {
    // the 4×16-bit banding's pigeonhole recall guarantee holds only up
    // to hamming 3 (4 bands, ≤ 3 flipped bits leave one band untouched);
    // a larger threshold would silently miss pairs, never loudly
    require(maxHamming <= 3,
      s"4-band pigeonhole recall is exact only for hamming <= 3, got $maxHamming")
    // no caches — the guard's trailing band-key exchange is the sharing
    // point for both self-join sides (the Dedup.pairsFromBands
    // discipline); a cache here was measured strictly worse (r19 A/B:
    // the mm family regressed 0.5–0.7× with cached frames vs baseline)
    val banded = Dedup.capHotBands(dhashBanded(reps), Seq("ci", "cv"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming",
        (bit_count(col("a.hash_hi").bitwiseXOR(col("b.hash_hi"))) +
          bit_count(col("a.hash_lo").bitwiseXOR(col("b.hash_lo")))).cast("bigint"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.doc_id").as("rep_a"), col("b.doc_id").as("rep_b"),
        col("hamming"))
      .distinct()
  }

  /** The O(g)-per-duplicate-group EDGE set for clustering (what
    * `pipe_image_dedup_e2e` feeds to connected components): identity
    * STAR edges (rep → each other member, g−1 edges for a g-copy
    * image — never the g²/2 pair expansion) unioned with the rep-level
    * near-dup pairs. Connectivity is preserved exactly — every member
    * reaches its rep, and reps link across groups — so the components
    * equal those of the full pair list. BandGuardSpec pins the linear
    * bound with a planted g-identical-images corpus.
    */
  private[graft] def dhashClusterEdges(
      hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    // NOT cached: both consumers (identity star edges, rep-side near
    // pairs) evaluate the collapse window's exchange on the same subtree,
    // so exchange reuse shares ONE upstream evaluation — a .cache() here
    // was tried in r18 (+70% on pipe_media_dedup_cut) and re-tried in r19
    // (mm family 0.5–0.7× vs baseline): the columnar barrier costs more
    // than the sharing it duplicates
    val members = dhashCollapse(hashes)
    val identityEdges = members.filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    // maxHamming = 0 is EXACT-equality clustering (the audio rule):
    // distinct reps can never be at hamming 0, so the banded rep join
    // has nothing to contribute and is skipped entirely
    if (maxHamming <= 0) identityEdges
    else {
      val reps = members.filter(col("doc_id") === col("rep"))
        .select(col("doc_id"), col("hash_hi"), col("hash_lo"))
      identityEdges.unionByName(
        dhashRepPairs(reps, maxHamming).select(col("rep_a").as("doc_a"),
          col("rep_b").as("doc_b")))
    }
  }

  /** Batch-vs-corpus perceptual matcher — the image analog of
    * [[Dedup.incrementalMatches]], shared by the `mm_dhash_incr` query
    * and the streaming image-ingest sink
    * ([[graft.streaming.StreamRunner.imageIngestToWarehouse]]): an
    * asymmetric band equi-join (batch bands × corpus bands — full recall
    * at hamming ≤ maxHamming ≤ 3 by pigeonhole; exact dups collide in
    * all four bands, so maxHamming = 0 is equality matching — the audio
    * twin's setting, where hamming tolerance on an energy-shape code
    * would re-open the over-merge the 60-bit widening closed)
    * verified by exact bit_count, then rank-1 best corpus match per
    * batch image (min hamming, tie min corpus id — one bounded
    * min-struct aggregate, no window). Deliberately uncapped: the batch
    * side is ingest-bounded, so a hot corpus band value costs b·H —
    * linear in the lake. Returns (doc_new, dup_of, hamming); with
    * `carryDupHashLo` the winning corpus row's `hash_lo` rides along as
    * `dup_hash_lo` (functionally determined by `dup_of`, so the rank-1
    * pick is unchanged) — the streaming sigs-index upsert derives the
    * keeper's hash bucket from it WITHOUT re-scanning the index.
    */
  private[graft] def dhashIncrementalMatches(
      batch: DataFrame, corpus: DataFrame, maxHamming: Int = 3,
      carryDupHashLo: Boolean = false): DataFrame = {
    require(maxHamming <= 3,
      s"4-band pigeonhole recall is exact only for hamming <= 3, got $maxHamming")
    val cands = dhashBanded(batch).as("a")
      .join(dhashBanded(corpus).as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv"))
      .withColumn("hamming",
        (bit_count(col("a.hash_hi").bitwiseXOR(col("b.hash_hi"))) +
          bit_count(col("a.hash_lo").bitwiseXOR(col("b.hash_lo")))).cast("bigint"))
      .filter(col("hamming") <= maxHamming)
      .select((Seq(col("a.doc_id").as("doc_new"), col("b.doc_id").as("dup_of"),
        col("hamming")) ++ (if (carryDupHashLo)
          Seq(col("b.hash_lo").as("dup_hash_lo")) else Nil)): _*)
      .distinct()
    val best = cands.groupBy(col("doc_new"))
      .agg(min(struct((Seq(col("hamming"), col("dup_of")) ++
        (if (carryDupHashLo) Seq(col("dup_hash_lo")) else Nil)): _*)).as("m"))
    if (carryDupHashLo)
      best.select(col("doc_new"), col("m.dup_of").as("dup_of"),
        col("m.hamming").as("hamming"),
        col("m.dup_hash_lo").as("dup_hash_lo"))
    else
      best.select(col("doc_new"), col("m.dup_of").as("dup_of"),
        col("m.hamming").as("hamming"))
  }

  /** The fixture's dHash frame — at 100 TB this is a persisted
    * ingest-time signature artifact (the dedup-signature convention);
    * here each query recomputes it from the payloads.
    */
  private def dhashHashes(s: SparkSession, d: String): DataFrame =
    dhash(attachDhashMedia(Tables.documents(s, d)))
      .filter(col("format") === "png")
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"))

  /** Banded dHash near-dup PAIR REPORT at hamming ≤ 3 — `mm_dhash_neardup`.
    * Round-12 shape (the round-11 weak mark retired): identical hashes
    * collapse to one representative FIRST, so (a) identity pairs come
    * from ONE equi-join on the hash key — no 4× band amplification, no
    * distinct over 4·g²/2 intermediate rows — and (b) only
    * representatives enter the banded join, hot-band-guarded. The pair
    * REPORT's output is inherently pair-shaped (a g-copy image owns
    * g·(g−1)/2 hamming-0 rows — exactly what the exhaustive oracle
    * demands), but every stage now does output-proportional work; the
    * dedup CONSUMER ([[dhashClusterEdges]]) stays O(g).
    */
  private def dhashNeardupPairs(s: SparkSession, d: String): DataFrame =
    neardupPairsFrom(dhashHashes(s, d))

  /** The modality-agnostic guarded pair pipeline over any 64-bit
    * perceptual-hash frame `(doc_id, hash_hi, hash_lo)` — shared by the
    * image rung (`mm_dhash_neardup`) and the video keyframe rung
    * (`mm_video_neardup`).
    */
  private[graft] def neardupPairsFrom(hashes: DataFrame): DataFrame = {
    // NOT cached: all five consumers below share the collapse window's
    // exchange (exchange reuse — see dhashClusterEdges), so the upstream
    // decode runs once without a materialization barrier
    val members = dhashCollapse(hashes)
    // shuffle_merge: both sides are the same lake-sized frame, so one
    // shared exchange feeds both; a broadcast build side (what a small
    // size estimate picks) would run the decode a second time
    val identityPairs = members.as("a").join(members.as("b").hint("shuffle_merge"),
        col("a.hash_hi") === col("b.hash_hi") &&
          col("a.hash_lo") === col("b.hash_lo") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        lit(0L).as("hamming"))
    val reps = members.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"))
    val nearExpanded = dhashRepPairs(reps)
      .join(members.select(col("rep").as("rep_a"), col("doc_id").as("a_doc")),
        "rep_a")
      .join(members.select(col("rep").as("rep_b"), col("doc_id").as("b_doc")),
        "rep_b")
      .select(least(col("a_doc"), col("b_doc")).as("a_id"),
        greatest(col("a_doc"), col("b_doc")).as("b_id"), col("hamming"))
    identityPairs.unionByName(nearExpanded)
  }

  /** Small REAL baseline JPEGs whose decoded pixels follow a closed-form
    * formula (see [[JpegCodec]]): even doc_ids are GRAYSCALE `w`×8
    * (w = 8·(id%3+1), so 1-3 blocks; every 4th doc adds restart markers),
    * odd doc_ids are 16×16 YCbCr 4:2:0 (one interleaved MCU, 4 luma
    * blocks + quarter-res chroma). Per luma block bi: constant level
    * vY = 2·((id·7 + bi·13) % 50) + 80 plus a horizontal-frequency-4 AC
    * whose IDCT adds ±2·((id+bi)%5−2) in the fixed [+,−,−,+,+,−,−,+]
    * column pattern — chosen so the LOSSY pipeline is bit-exact and the
    * oracle can replay every pixel, while the Spark side must run the
    * full Huffman → dequant → IDCT chain to reach them.
    */
  def attachJpegMedia(docs: DataFrame): DataFrame = {
    Rows.mapPartitions(docs.select(col("doc_id")), payloadSchema)(_.map { r =>
      val id = r.getLong(0)
      def lumaCoef(bi: Int): (Int, Int) = {
        val vY = 2 * ((id * 7 + bi * 13) % 50).toInt + 80
        ((vY - 128) / 2, ((id + bi) % 5).toInt - 2)
      }
      val bytes =
        if (id % 2 == 0)
          JpegCodec.encodeGray(8 * (id % 3 + 1).toInt, lumaCoef,
            restartInterval = if (id % 4 == 0) 2 else 0)
        else {
          val vCb = 2 * ((id * 11) % 40).toInt + 88
          val vCr = 2 * ((id * 17) % 40).toInt + 88
          JpegCodec.encode420(lumaCoef, (vCb - 128) / 2, (vCr - 128) / 2)
        }
      Row(id, bytes)
    })
  }

  val jpegDecodeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("n_components", LongType),
    StructField("sum_y", LongType),
    StructField("sum_cb", LongType),
    StructField("sum_cr", LongType),
    StructField("checksum_y", LongType)))

  private def jpegDecodeRow(id: Long, bytes: Array[Byte]): Row =
    JpegCodec.decode(bytes) match {
      case Left(_) =>
        Row(id, "jpeg-corrupt", null, null, null, null, null, null, null)
      case Right(d) =>
        def planeSum(p: JpegCodec.Plane): Long = {
          var s = 0L; var j = 0
          while (j < p.data.length) { s += p.data(j) & 0xff; j += 1 }
          s
        }
        val yp = d.planes.head
        var sumY = 0L
        var ck = 0L
        var i = 0
        while (i < yp.data.length) {
          val v = (yp.data(i) & 0xff).toLong
          sumY += v; ck += v * (i + 1); i += 1
        }
        Row(id, "jpeg", d.width.toLong, d.height.toLong,
          d.planes.length.toLong, sumY,
          if (d.planes.length == 3) Long.box(planeSum(d.planes(1))) else null,
          if (d.planes.length == 3) Long.box(planeSum(d.planes(2))) else null,
          ck)
    }

  /** Full baseline-JPEG decode: Huffman + dequant + IDCT run where the
    * bytes are read; only per-image stats rows continue.
    */
  def decodeJpeg(media: DataFrame): DataFrame =
    decodeEach(media, jpegDecodeSchema)(jpegDecodeRow)

  val pngDecodeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("channels", LongType),
    StructField("n_pixels", LongType),
    StructField("sum_r", LongType),
    StructField("sum_g", LongType),
    StructField("sum_b", LongType),
    StructField("sum_a", LongType),
    StructField("checksum", LongType)))

  private def pngDecodeRow(id: Long, bytes: Array[Byte]): Row =
    PngCodec.decode(bytes) match {
      case Left(_) =>
        Row(id, "png-corrupt", null, null, null, null, null, null, null, null, null)
      case Right(d) =>
        var sumR = 0L; var sumG = 0L; var sumB = 0L; var sumA = 0L
        var checksum = 0L
        var i = 0
        while (i < d.pixels.length) {
          val v = (d.pixels(i) & 0xff).toLong
          (i % d.channels) match {
            case 0 => sumR += v
            case 1 => sumG += v
            case 2 => sumB += v
            case _ => sumA += v
          }
          checksum += v * (i + 1)
          i += 1
        }
        Row(id, "png", d.width.toLong, d.height.toLong, d.channels.toLong,
          d.width.toLong * d.height, sumR, sumG, sumB,
          if (d.channels == 4) sumA else null, checksum)
    }

  /** Full PNG pixel decode (same contract as
    * [[parseHeaders]]): inflate + unfilter happen where the bytes are
    * read; only the per-image stats rows continue.
    */
  def decodePng(media: DataFrame): DataFrame =
    decodeEach(media, pngDecodeSchema)(pngDecodeRow)

  val pngResizeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ty", LongType),
    StructField("tx", LongType),
    StructField("sy", LongType),
    StructField("sx", LongType),
    StructField("r", LongType),
    StructField("g", LongType),
    StructField("b", LongType),
    StructField("a", LongType)))

  /** REAL nearest-neighbor resize on REAL decoded pixels — the image
    * normalization step every multimodal training pipeline runs before
    * feature extraction / embedding. For each target cell (ty, tx) of a
    * fixed `tw`×`th` thumbnail the source pixel is (sy, sx) =
    * (⌊ty·h/th⌋, ⌊tx·w/tw⌋) — the standard origin-anchored NN mapping,
    * exact in integer arithmetic for both up- and down-sampling (fixture
    * images range 1×1 to 16×12 around the 2×2 target). The emitted channel
    * values exist ONLY by [[PngCodec.decode]] inflating + unfiltering the
    * bytes and indexing the pixel buffer; a corrupt payload degrades to
    * ZERO rows for that doc (spec'd). At scale this runs inside the same
    * narrow stage as the decode — payload bytes never shuffle,
    * only th·tw thumbnail rows per image continue.
    */
  private def pngResizeRows(tw: Int, th: Int)(id: Long, bytes: Array[Byte]): Seq[Row] =
    PngCodec.decode(bytes) match {
      case Left(_) => Seq.empty
      case Right(dd) =>
        for {
          ty <- 0 until th
          tx <- 0 until tw
        } yield {
          val sy = ty * dd.height / th
          val sx = tx * dd.width / tw
          val base = (sy * dd.width + sx) * dd.channels
          def px(c: Int): Long = (dd.pixels(base + c) & 0xff).toLong
          Row(id, ty.toLong, tx.toLong, sy.toLong, sx.toLong,
            px(0), px(1), px(2),
            if (dd.channels == 4) Long.box(px(3)) else null)
        }
    }

  /** NN thumbnail resize (decode + resize fused where the bytes are read). */
  def resizePng(media: DataFrame, tw: Int = 2, th: Int = 2): DataFrame =
    decodeEachFlat(media, pngResizeSchema)(pngResizeRows(tw, th))

  val jpegResizeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ty", LongType),
    StructField("tx", LongType),
    StructField("sy", LongType),
    StructField("sx", LongType),
    StructField("y", LongType)))

  /** NN thumbnail resize over the decoded LUMA plane — the JPEG twin of
    * [[pngResizeRows]] (same origin-anchored ⌊t·dim/target⌋ mapping):
    * the emitted values exist ONLY by [[JpegCodec.decode]] running the
    * full Huffman → dequant → IDCT chain and indexing the plane; a
    * corrupt payload degrades to ZERO rows for that doc.
    */
  private def jpegResizeRows(tw: Int, th: Int)(id: Long, bytes: Array[Byte]): Seq[Row] =
    JpegCodec.decode(bytes) match {
      case Left(_) => Seq.empty
      case Right(d) =>
        val yp = d.planes.head
        for {
          ty <- 0 until th
          tx <- 0 until tw
        } yield {
          val sy = ty * yp.height / th
          val sx = tx * yp.width / tw
          Row(id, ty.toLong, tx.toLong, sy.toLong, sx.toLong,
            (yp.data(sy * yp.width + sx) & 0xff).toLong)
        }
    }

  /** JPEG decode + NN resize fused. */
  def resizeJpeg(media: DataFrame, tw: Int = 2, th: Int = 2): DataFrame =
    decodeEachFlat(media, jpegResizeSchema)(jpegResizeRows(tw, th))

  /** Mixed-modality corpus: one binary column holding heterogeneous
    * payloads — doc_id mod 4 = 0 carries a REAL complete PNG (the
    * [[attachPngPixelMedia]] generator), mod 4 = 1 a REAL RIFF/WAVE whose
    * data chunk is the document text (the [[attachWavMedia]] layout),
    * mod 4 = 2 a REAL YUV4MPEG2 clip (the [[attachY4mMedia]] generator),
    * and mod 4 = 3 a REAL baseline JPEG (the [[attachJpegMedia]]
    * generator). This is the shape of a real multimodal lake: the format
    * is NOT a column, it is only discoverable by sniffing the bytes.
    */
  def attachMixedMedia(docs: DataFrame): DataFrame =
    // reuse the four canonical generators — duplicating their byte
    // layouts here would silently desynchronize this fixture from the
    // pipe_multimodal_e2e oracle if any of them ever changed
    attachPngPixelMedia(docs.filter(col("doc_id") % 4 === 0))
      .union(attachWavMedia(docs.filter(col("doc_id") % 4 === 1)))
      .union(attachY4mMedia(docs.filter(col("doc_id") % 4 === 2)))
      .union(attachJpegMedia(docs.filter(col("doc_id") % 4 === 3)))

  val routeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("modality", StringType),
    StructField("units", LongType),
    StructField("mass", LongType)))

  /** The modality ROUTER, now 4-WAY: sniffs each payload's real bytes
    * (PNG signature, then the JPEG SOI marker, then the YUV4MPEG2 magic,
    * then the RIFF frame) and runs the matching REAL decoder — images
    * (PNG or JPEG) report pixel count + total channel/plane mass, video
    * reports luma-pixel count + total plane mass, audio reports sample
    * count + total |v| mass; unrecognized or corrupt payloads keep their
    * typed class with stats withheld. One narrow pass; the router never
    * consults anything but the bytes.
    */
  private val Y4mMagic = "YUV4MPEG2".getBytes("US-ASCII")

  private def routeRow(id: Long, bytes: Array[Byte]): Row = {
    val isPng = bytes.length >= MediaHeader.PngSignature.length &&
      MediaHeader.PngSignature.indices.forall(i => bytes(i) == MediaHeader.PngSignature(i))
    val isJpeg = !isPng && bytes.length >= 2 &&
      (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8
    val isY4m = !isPng && !isJpeg && bytes.length >= Y4mMagic.length &&
      Y4mMagic.indices.forall(i => bytes(i) == Y4mMagic(i))
    if (isJpeg) {
      val r = jpegDecodeRow(id, bytes)
      if (r.getString(1) != "jpeg") Row(id, r.getString(1), null, null)
      else {
        val mass = r.getLong(5) +
          (if (!r.isNullAt(6)) r.getLong(6) else 0L) +
          (if (!r.isNullAt(7)) r.getLong(7) else 0L)
        Row(id, "image", r.getLong(2) * r.getLong(3), mass)
      }
    } else if (isPng) {
      val r = pngDecodeRow(id, bytes)
      if (r.getString(1) != "png") Row(id, r.getString(1), null, null)
      else {
        val mass = r.getLong(6) + r.getLong(7) + r.getLong(8) +
          (if (!r.isNullAt(9)) r.getLong(9) else 0L)
        Row(id, "image", r.getLong(5), mass)
      }
    } else if (isY4m) {
      val r = y4mDecodeRow(id, bytes)
      if (r.getString(1) != "y4m") Row(id, r.getString(1), null, null)
      else Row(id, "video", r.getLong(5),
        r.getLong(6) + r.getLong(7) + r.getLong(8))
    } else {
      val r = wavFeatureRow(id, bytes)
      if (r.getString(1) != "wav") Row(id, r.getString(1), null, null)
      else if (r.getLong(3) == 0L) Row(id, "audio", 0L, 0L)
      else Row(id, "audio", r.getLong(3),
        r.getLong(6) + (if (!r.isNullAt(7)) r.getLong(7) else 0L))
    }
  }

  /** Modality routing + decode. */
  def routeMixed(media: DataFrame): DataFrame =
    decodeEach(media, routeSchema)(routeRow)

  val wavHeaderSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("data_len", LongType),
    StructField("n_bytes", LongType)))

  private def wavRow(id: Long, bytes: Array[Byte]): Row = {
    val h = WavHeader.sniff(bytes)
    Row(id, h.format, h.channels.map(Int.box).orNull,
      h.sampleRate.map(Int.box).orNull, h.bitsPerSample.map(Int.box).orNull,
      h.dataLen.map(Long.box).orNull, bytes.length.toLong)
  }

  val wavDecodeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("channels", LongType),
    StructField("n_samples", LongType),
    StructField("sum_ch0", LongType),
    StructField("sum_ch1", LongType),
    StructField("sum_sq", LongType),
    StructField("peak", LongType)))

  /** REAL PCM sample decode — the audio twin of [[PngCodec]]: after
    * [[WavHeader.sniff]] validates the RIFF/fmt frame, the data chunk's
    * 16-bit little-endian samples are decoded (two's-complement sign
    * conversion) and de-interleaved by channel (frame layout: sample j
    * belongs to channel j mod channels). Emits exact integer stats —
    * per-channel sums, total energy (Σv²), peak |v| — the loudness/
    * clipping numbers an audio-curation pipeline filters on. A trailing
    * odd byte (incomplete sample) is ignored, zero complete samples
    * degrade to NULL stats, and non-wav/corrupt payloads degrade to the
    * typed format class with fields withheld.
    */
  private def wavDecodeRow(id: Long, bytes: Array[Byte]): Row = {
    val h = WavHeader.sniff(bytes)
    if (h.format != "wav")
      Row(id, h.format, null, null, null, null, null, null)
    // this decoder implements 16-bit PCM only; a valid wav at another
    // depth degrades typed instead of decoding garbage labeled "wav"
    else if (h.bitsPerSample.get != 16)
      Row(id, "wav-unsupported", null, null, null, null, null, null)
    else {
      val ch = h.channels.get
      val n = (h.dataLen.get / 2L).toInt
      if (n == 0) Row(id, "wav", ch.toLong, 0L, null, null, null, null)
      else {
        var sum0 = 0L; var sum1 = 0L; var sumSq = 0L; var peak = 0L
        var j = 0
        while (j < n) {
          val lo = bytes(44 + 2 * j) & 0xff
          val hi = bytes(44 + 2 * j + 1) & 0xff
          var v = lo | (hi << 8)
          if (v >= 32768) v -= 65536
          if (j % ch == 0) sum0 += v else sum1 += v
          sumSq += v.toLong * v
          val a = math.abs(v).toLong
          if (a > peak) peak = a
          j += 1
        }
        Row(id, "wav", ch.toLong, n.toLong, sum0,
          if (ch == 2) sum1 else null, sumSq, peak)
      }
    }
  }

  /** PCM sample decode (same contract as
    * [[parseHeaders]]): samples are decoded where the bytes are read,
    * only the per-doc stats rows continue.
    */
  def decodeWav(media: DataFrame): DataFrame =
    decodeEach(media, wavDecodeSchema)(wavDecodeRow)

  val wavFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("channels", LongType),
    StructField("n_samples", LongType),
    StructField("zc_ch0", LongType),
    StructField("zc_ch1", LongType),
    StructField("abs_ch0", LongType),
    StructField("abs_ch1", LongType)))

  /** Per-channel DSP features over REAL decoded PCM: zero-crossing counts
    * (consecutive same-channel samples whose signs differ — the classic
    * cheap voiced/unvoiced + noisiness signal, v = 0 counted non-negative)
    * and Σ|v| amplitude mass — all exact integers so the oracle hash is
    * bit-stable. Same decode/degradation contract as [[wavDecodeRow]]:
    * non-wav → typed class, non-16-bit → `wav-unsupported`, zero complete
    * samples → NULL stats; mono leaves the ch1 columns NULL.
    */
  private def wavFeatureRow(id: Long, bytes: Array[Byte]): Row = {
    val h = WavHeader.sniff(bytes)
    if (h.format != "wav")
      Row(id, h.format, null, null, null, null, null, null)
    else if (h.bitsPerSample.get != 16)
      Row(id, "wav-unsupported", null, null, null, null, null, null)
    else {
      val ch = h.channels.get
      val n = (h.dataLen.get / 2L).toInt
      if (n == 0) Row(id, "wav", ch.toLong, 0L, null, null, null, null)
      else {
        val zc = new Array[Long](ch)
        val absSum = new Array[Long](ch)
        val prev = new Array[Int](ch)
        val seen = new Array[Boolean](ch)
        var j = 0
        while (j < n) {
          val lo = bytes(44 + 2 * j) & 0xff
          val hi = bytes(44 + 2 * j + 1) & 0xff
          var v = lo | (hi << 8)
          if (v >= 32768) v -= 65536
          val c = j % ch
          absSum(c) += math.abs(v).toLong
          if (seen(c) && ((prev(c) < 0) != (v < 0))) zc(c) += 1
          prev(c) = v
          seen(c) = true
          j += 1
        }
        Row(id, "wav", ch.toLong, n.toLong, zc(0),
          if (ch == 2) Long.box(zc(1)) else null, absSum(0),
          if (ch == 2) Long.box(absSum(1)) else null)
      }
    }
  }

  /** PCM feature extraction. */
  def wavFeatures(media: DataFrame): DataFrame =
    decodeEach(media, wavFeatureSchema)(wavFeatureRow)

  val wavFingerprintSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("n_frames", LongType),
    StructField("fingerprint", LongType)))

  /** Windowed energy-delta audio fingerprint over REAL decoded PCM — the
    * audio analog of dHash: channel-0 |v| mass is binned into 16 equal
    * time windows (window = ⌊f·16/nf⌋, exact integers) and each of 15
    * bits records whether a window outweighs its successor. Energy-SHAPE
    * comparisons survive uniform gain changes the way dHash gradients
    * survive brightness shifts — the standard cheap audio-similarity
    * signal. Windows with no frames weigh 0; zero complete frames
    * degrades typed (`wav-empty`), same header/depth degrade ladder as
    * [[wavDecodeRow]].
    */
  private def wavFingerprintRow(id: Long, bytes: Array[Byte]): Row = {
    val h = WavHeader.sniff(bytes)
    if (h.format != "wav") Row(id, h.format, null, null)
    else if (h.bitsPerSample.get != 16) Row(id, "wav-unsupported", null, null)
    else {
      val ch = h.channels.get
      val n = (h.dataLen.get / 2L).toInt
      val nf = (n + ch - 1) / ch
      if (nf == 0) Row(id, "wav-empty", null, null)
      else {
        val e = new Array[Long](16)
        var j = 0
        while (j < n) {
          if (j % ch == 0) {
            val lo = bytes(44 + 2 * j) & 0xff
            val hi = bytes(44 + 2 * j + 1) & 0xff
            var v = lo | (hi << 8)
            if (v >= 32768) v -= 65536
            e((j / ch) * 16 / nf) += math.abs(v).toLong
          }
          j += 1
        }
        var fp = 0L
        var w = 0
        while (w < 15) {
          if (e(w) > e(w + 1)) fp |= 1L << w
          w += 1
        }
        Row(id, "wav", nf.toLong, fp)
      }
    }
  }

  /** Audio fingerprint: decode + bin + compare where the bytes are read;
    * only 2-long rows continue.
    */
  def wavFingerprint(media: DataFrame): DataFrame =
    decodeEach(media, wavFingerprintSchema)(wavFingerprintRow)

  val wavFingerprint60Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("n_frames", LongType),
    StructField("sig_hi", LongType),
    StructField("sig_lo", LongType)))

  /** 60-bit FOUR-FEATURE energy-shape audio fingerprint — the widened
    * form a dedup DROP LIST is allowed to consume ([[wavFingerprintRow]]'s
    * 15 bits index a 32k space: fine as a report signal, but at lake
    * scale distinct audio collapses into false dup clusters). Four
    * per-window features over the same 16 time windows, each feature
    * owning one 16-bit chunk (bit 16·b+w set iff e_b(w) > e_b(w+1),
    * w < 15 — bit 15 of every chunk stays 0):
    *  - e0: Σ|v|       (the original energy mass),
    *  - e1: Σ|Δv|      (first-difference mass — a high-band proxy),
    *  - e2: Σ|Δ²v|     (second difference — spectral-tilt proxy),
    *  - e3: max|v|     (peak envelope).
    * All four scale LINEARLY with gain, so the across-window comparison
    * bits keep the 15-bit form's gain invariance while quadrupling the
    * resolution — and the chunk-aligned layout means the shared 4×16-bit
    * banding ([[dhashBanded]]) sees one feature per band instead of a
    * constant-zero hi half. Deltas are across consecutive CHANNEL-0
    * frames; windows with no frames weigh 0; degrade ladder as
    * [[wavFingerprintRow]].
    */
  private[operators] def wavFingerprint60Row(id: Long, bytes: Array[Byte]): Row = {
    val h = WavHeader.sniff(bytes)
    if (h.format != "wav") Row(id, h.format, null, null, null)
    else if (h.bitsPerSample.get != 16) Row(id, "wav-unsupported", null, null, null)
    else {
      val ch = h.channels.get
      val n = (h.dataLen.get / 2L).toInt
      val nf = (n + ch - 1) / ch
      if (nf == 0) Row(id, "wav-empty", null, null, null)
      else {
        val e = Array.ofDim[Long](4, 16)
        var prev = 0; var prev2 = 0
        var j = 0
        while (j < n) {
          if (j % ch == 0) {
            val lo8 = bytes(44 + 2 * j) & 0xff
            val hi8 = bytes(44 + 2 * j + 1) & 0xff
            var v = lo8 | (hi8 << 8)
            if (v >= 32768) v -= 65536
            val fi = j / ch
            val w = fi * 16 / nf
            val a = math.abs(v).toLong
            e(0)(w) += a
            if (fi >= 1) e(1)(w) += math.abs(v - prev).toLong
            if (fi >= 2) e(2)(w) += math.abs(v - 2 * prev + prev2).toLong
            if (a > e(3)(w)) e(3)(w) = a
            prev2 = prev; prev = v
          }
          j += 1
        }
        var hi = 0L; var lo = 0L
        var b = 0
        while (b < 4) {
          var w = 0
          while (w < 15) {
            if (e(b)(w) > e(b)(w + 1)) {
              val pos = 16 * b + w
              if (pos < 32) lo |= 1L << pos else hi |= 1L << (pos - 32)
            }
            w += 1
          }
          b += 1
        }
        Row(id, "wav", nf.toLong, hi, lo)
      }
    }
  }

  /** Widened audio fingerprint. */
  def wavFingerprint60(media: DataFrame): DataFrame =
    decodeEach(media, wavFingerprint60Schema)(wavFingerprint60Row)

  /** WAV header sniffing, the audio twin of [[parseHeaders]]. */
  def parseWavHeaders(media: DataFrame): DataFrame =
    decodeEach(media, wavHeaderSchema)(wavRow)

  /** A REAL YUV4MPEG2 (y4m) codec — no video library, just the public
    * y4m stream layout (mjpegtools `yuv4mpeg(5)`): an ASCII stream header
    * `YUV4MPEG2` with space-separated tagged parameters (`W`/`H` required;
    * `F` rate, `I` interlacing, `A` aspect, `C` colourspace, `X` metadata
    * optional), then per frame an ASCII `FRAME` marker line followed by
    * raw planar YUV. Plane sizes: `C444` = three full `w·h` planes; the
    * `C420` family = full Y + quarter-resolution U/V (even dimensions
    * required). Y4M is the uncompressed interchange format real video
    * toolchains (ffmpeg, mjpegtools, codec test vectors) pipe between
    * stages — decoding it is genuine frame access, not a stand-in; a
    * compressed codec (H.26x/AV1) would slot in at the same seam as a
    * JNI/library call. The encoder exists to build genuine fixtures; the
    * decoder is the production path: header parse → parameter validation →
    * per-frame marker walk with exact length arithmetic (a stream that
    * ends mid-frame, lacks a marker, or carries trailing garbage degrades
    * typed). Raw format ⇒ no decompression amplification: every
    * allocation is bounded by the payload length, checked before copying.
    */
  object Y4mCodec {
    /** Frames hold contiguous planar data: Y (w·h), then U, then V
      * (chromaW·chromaH each). `colourspace` is the parsed C-tag (or the
      * spec's `420jpeg` default when absent).
      */
    case class DecodedVideo(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
                            chromaW: Int, chromaH: Int, frames: Array[Array[Byte]],
                            colourspace: String = "444") {
      def nFrames: Int = frames.length
      def lumaLen: Int = width * height
      def frameLen: Int = lumaLen + 2 * chromaW * chromaH
    }

    private val Magic = "YUV4MPEG2".getBytes("US-ASCII")

    /** Encode a real y4m stream. `px(f, plane, y, x)` supplies each
      * sample (plane 0 = Y at full resolution; planes 1/2 = U/V at the
      * colourspace's chroma resolution — for `420jpeg` the (y, x) passed
      * are CHROMA coordinates over the quarter-size plane).
      */
    def encode(width: Int, height: Int, nFrames: Int,
               px: (Int, Int, Int, Int) => Int,
               colourspace: String = "444"): Array[Byte] = {
      require(width > 0 && height > 0 && nFrames >= 0)
      val (cw, ch) = colourspace match {
        case "444" => (width, height)
        case c if c.startsWith("420") =>
          require(width % 2 == 0 && height % 2 == 0,
            "4:2:0 requires even dimensions")
          (width / 2, height / 2)
        case other => throw new IllegalArgumentException(s"colourspace $other")
      }
      val header =
        s"YUV4MPEG2 W$width H$height F25:1 Ip A1:1 C$colourspace\n"
          .getBytes("US-ASCII")
      val marker = "FRAME\n".getBytes("US-ASCII")
      val frameLen = width * height + 2 * cw * ch
      val out = new Array[Byte](header.length + nFrames * (marker.length + frameLen))
      System.arraycopy(header, 0, out, 0, header.length)
      var off = header.length
      var f = 0
      while (f < nFrames) {
        System.arraycopy(marker, 0, out, off, marker.length)
        off += marker.length
        var p = 0
        while (p < 3) {
          val (pw, ph) = if (p == 0) (width, height) else (cw, ch)
          var y = 0
          while (y < ph) {
            var x = 0
            while (x < pw) {
              out(off) = (px(f, p, y, x) & 0xff).toByte
              off += 1
              x += 1
            }
            y += 1
          }
          p += 1
        }
        f += 1
      }
      out
    }

    /** The real decode: magic → stream-header tag parse + validation →
      * per-frame `FRAME` marker walk, each frame's planar payload sliced
      * by exact length arithmetic. Every malformation returns a typed
      * reason (tag garbage like `Wabc` surfaces as a parse `decode error`,
      * still a Left — never garbage frames).
      */
    def decode(bytes: Array[Byte]): Either[String, DecodedVideo] = try {
      if (bytes.length < Magic.length ||
          !Magic.indices.forall(i => bytes(i) == Magic(i)))
        return Left("bad magic")
      // stream-header line: bounded scan for the terminating \n (a real
      // header is tens of bytes; 512 bounds adversarial marker-less input)
      var hdrEnd = Magic.length
      while (hdrEnd < bytes.length && hdrEnd < Magic.length + 512 &&
        bytes(hdrEnd) != '\n') hdrEnd += 1
      if (hdrEnd >= bytes.length || bytes(hdrEnd) != '\n')
        return Left("unterminated stream header")
      if (hdrEnd > Magic.length && bytes(Magic.length) != ' ')
        return Left("malformed stream header")
      val tags = new String(bytes, Magic.length, hdrEnd - Magic.length, "US-ASCII")
        .split(' ').filter(_.nonEmpty)
      var w = -1; var h = -1; var fpsNum = 25; var fpsDen = 1
      var colour = "420jpeg" // the spec's default when no C tag is present
      for (tag <- tags) (tag.head, tag.tail) match {
        case ('W', v) => w = v.toInt
        case ('H', v) => h = v.toInt
        case ('F', v) =>
          val parts = v.split(':')
          if (parts.length != 2) return Left("malformed frame-rate tag")
          fpsNum = parts(0).toInt; fpsDen = parts(1).toInt
          if (fpsDen <= 0 || fpsNum < 0) return Left("invalid frame rate")
        case ('C', v) => colour = v
        // interlacing / aspect / app metadata: parsed past — they don't
        // change frame-length arithmetic
        case ('I', _) | ('A', _) | ('X', _) => ()
        case (t, _) => return Left(s"unknown stream-header tag '$t'")
      }
      if (w <= 0 || h <= 0) return Left("missing or invalid W/H")
      val (cw, ch) = colour match {
        case "444" => (w, h)
        case c if c.startsWith("420") =>
          if (w % 2 != 0 || h % 2 != 0)
            return Left("odd dimensions with 4:2:0 chroma")
          (w / 2, h / 2)
        case other => return Left(s"unsupported colourspace C$other")
      }
      val frameLenL = w.toLong * h + 2L * cw * ch
      if (frameLenL > Int.MaxValue) return Left("frame size exceeds supported size")
      val frameLen = frameLenL.toInt
      val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      var off = hdrEnd + 1
      while (off < bytes.length) {
        if (off + 6 > bytes.length ||
            new String(bytes, off, 5, "US-ASCII") != "FRAME")
          return Left("missing FRAME marker")
        var i = off + 5
        while (i < bytes.length && i < off + 5 + 512 && bytes(i) != '\n') i += 1
        if (i >= bytes.length || bytes(i) != '\n')
          return Left("unterminated FRAME marker")
        if (i > off + 5 && bytes(off + 5) != ' ')
          return Left("malformed FRAME marker")
        val dataOff = i + 1
        if (dataOff + frameLen.toLong > bytes.length)
          return Left("truncated frame")
        frames += java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + frameLen)
        off = dataOff + frameLen
      }
      Right(DecodedVideo(w, h, fpsNum, fpsDen, cw, ch, frames.toArray, colour))
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"decode error: ${e.getClass.getSimpleName}")
    }
  }

  /** Small REAL y4m videos (≤ 8×6, 2–4 frames, C444) whose sample values
    * follow a formula the DuckDB oracle can replay independently — while
    * the Spark side only learns them by genuinely parsing the container
    * and slicing the planar frames. Videos are deliberately small: the
    * oracle enumerates every (frame, plane, y, x) in SQL, which bounds
    * fixture size, not the decoder (the decode path is the same for a
    * 1080p stream).
    */
  def attachY4mMedia(docs: DataFrame): DataFrame = {
    Rows.mapPartitions(docs.select(col("doc_id"),
        col("n_chars").cast("bigint").as("n_chars")),
        payloadSchema)(_.map { r =>
      val id = r.getLong(0); val nChars = r.getLong(1)
      val w = (id % 8 + 1).toInt
      val h = (nChars % 6 + 1).toInt
      val nf = (nChars % 3 + 2).toInt
      val bytes = Y4mCodec.encode(w, h, nf,
        (f, p, y, x) => ((id * 31 + f * 13 + p * 17 + y * 7 + x * 5) % 256).toInt)
      Row(id, bytes)
    })
  }

  /** Colourspace-MIXED y4m corpus: even doc_ids carry the C444 clip of
    * [[attachY4mMedia]]; odd doc_ids a real 4:2:0 clip (`C420jpeg`,
    * even dimensions — w ∈ {2,4,6,8}, h ∈ {2,4,6}) whose quarter-size
    * chroma planes follow the same sample formula over CHROMA
    * coordinates. The 4:2:0 frame-length arithmetic (w·h + 2·(w/2)·(h/2))
    * is thereby exercised in an ORACLE query, not just a hand spec
    * fixture — the shape real camera/codec output actually has.
    */
  def attachY4mMixedMedia(docs: DataFrame): DataFrame = {
    Rows.mapPartitions(docs.select(col("doc_id"),
        col("n_chars").cast("bigint").as("n_chars")),
        payloadSchema)(_.map { r =>
      val id = r.getLong(0); val nChars = r.getLong(1)
      val nf = (nChars % 3 + 2).toInt
      def sample(f: Int, p: Int, y: Int, x: Int): Int =
        ((id * 31 + f * 13 + p * 17 + y * 7 + x * 5) % 256).toInt
      val bytes =
        if (id % 2 == 0)
          Y4mCodec.encode((id % 8 + 1).toInt, (nChars % 6 + 1).toInt, nf, sample)
        else
          Y4mCodec.encode((2 * (id % 4 + 1)).toInt, (2 * (nChars % 3 + 1)).toInt,
            nf, sample, "420jpeg")
      Row(id, bytes)
    })
  }

  /** Small REAL 18×16 C444 y4m clips (2 frames) whose LUMA values are
    * quadratic in (x, y) with content-id coefficients — the video twin of
    * [[attachDhashMedia]], same decade collapse: slot 8 re-renders slot 0
    * exactly (keyframe dHash distance 0) and slot 9 is slot 1 with ONE
    * sampled keyframe cell forced to whichever extreme flips its
    * gradient comparison (distance 1-2). Frame 1 adds a +37·f term so a
    * decoder that hashes the WRONG frame (or mis-walks the FRAME
    * markers) produces different bits and fails the oracle; chroma
    * planes carry their own formula so plane-length arithmetic must be
    * right to even locate the luma.
    */
  def attachVideoDupMedia(docs: DataFrame): DataFrame = {
    Rows.mapPartitions(docs.select(col("doc_id")), payloadSchema)(_.map { r =>
      val id = r.getLong(0)
      val k = (id / 10) * 10 + (id % 10) % 8
      val a1 = (k * 13 % 97 + 7).toInt
      val a2 = (k * 29 % 83 + 5).toInt
      val pert = id % 10 == 9
      def luma0(y: Int, x: Int): Int = (a1 * x * x + a2 * x * y + 13 * y * y) % 256
      val pv = if (pert && luma0(4, 6) > luma0(4, 8)) 0 else 255
      val bytes = Y4mCodec.encode(18, 16, 2, (f, p, y, x) =>
        if (p == 0) {
          if (pert && f == 0 && y == 4 && x == 6) pv
          else (luma0(y, x) + 37 * f) % 256
        } else (id + p * 31 + y + x).toInt % 256)
      Row(id, bytes)
    })
  }

  /** Keyframe dHash over REAL decoded y4m luma: frame 0's Y plane is
    * point-sampled at (2·ty, 2·tx) — luma IS the gray channel, no RGB
    * blend — and the 64 gradient bits pack exactly as [[dhashRow]] does.
    * Clips too small for the 9×8 grid degrade typed.
    */
  private def videoDhashRow(id: Long, bytes: Array[Byte]): Row =
    Y4mCodec.decode(bytes) match {
      case Left(_) => Row(id, "y4m-corrupt", null, null)
      case Right(v) if v.nFrames == 0 || v.width < 17 || v.height < 15 =>
        Row(id, "y4m-small", null, null)
      case Right(v) =>
        val luma = v.frames(0)
        val gray = Array.ofDim[Int](8, 9)
        var ty = 0
        while (ty < 8) {
          var tx = 0
          while (tx < 9) {
            gray(ty)(tx) = luma(2 * ty * v.width + 2 * tx) & 0xff
            tx += 1
          }
          ty += 1
        }
        var hi = 0L; var lo = 0L
        ty = 0
        while (ty < 8) {
          var tx = 0
          while (tx < 8) {
            if (gray(ty)(tx) > gray(ty)(tx + 1)) {
              val b = ty * 8 + tx
              if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
            }
            tx += 1
          }
          ty += 1
        }
        Row(id, "y4m", hi, lo)
    }

  /** Keyframe dHash (decode + hash where the bytes are read; only 3-long
    * rows continue).
    */
  def videoDhash(media: DataFrame): DataFrame =
    decodeEach(media, dhashSchema)(videoDhashRow)

  /** The video fixture's keyframe-hash frame (persisted-signature scan
    * position at 100 TB, recomputed from payloads here — the
    * [[dhashHashes]] convention).
    */
  private def videoDhashHashes(s: SparkSession, d: String): DataFrame =
    videoDhash(attachVideoDupMedia(Tables.documents(s, d)))
      .filter(col("format") === "y4m")
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"))

  /** Mixed-media corpus with PLANTED CROSS-REPRESENTATION duplicates —
    * every dup is byte-DIFFERENT but perceptually identical, so nothing
    * short of real decoding can find it: modality = id%3 (PNG / WAV /
    * Y4M), content index c = id/3, and every c ≡ 7 (mod 8) re-expresses
    * content c−7 as
    *  - image: the same pixel formula re-rendered on a WIDER canvas
    *    (20×16 vs 18×16 — equal at every dHash-sampled site, different
    *    bytes everywhere);
    *  - audio: the same waveform at 2× GAIN (energy-shape sign bits are
    *    gain-invariant; every byte differs);
    *  - video: the same keyframe with a DIFFERENT second frame (keyframe
    *    dHash equal, stream bytes differ).
    * Image content c ≡ 3 (mod 8) additionally re-expresses content c−3
    * with ONE sampled pixel site flipped (the [[attachDhashMedia]] pert
    * idiom — dHash distance 1–2): the NEAR-dup class the cut capstone's
    * hamming ≤ 3 merge must catch and exact-signature equality must NOT.
    * A byte-level hash sees zero duplicates in this corpus; the 64-bit
    * image/video signatures see exactly the planted ones. The audio
    * fingerprint width is the measured tradeoff: the 15-bit
    * [[wavFingerprintRow]] sees the plants PLUS an over-merge of 14 on
    * this corpus (distinct waveforms colliding in a 32k space) where the
    * 60-bit [[wavFingerprint60Row]] the router now serves cuts that to
    * 2 — `MediaDedupSpec` pins the strict inequality.
    */
  def attachPerceptualMixMedia(docs: DataFrame): DataFrame = {
    Rows.mapPartitions(docs.select(col("doc_id")), payloadSchema)(_.map { r =>
      val id = r.getLong(0)
      val c = id / 3
      val dup = c % 8 == 7
      val near = id % 3 == 0 && c % 8 == 3
      val k = if (dup) c - 7 else if (near) c - 3 else c
      val a1 = (k * 13 % 97 + 7).toInt
      val a2 = (k * 29 % 83 + 5).toInt
      val bytes = (id % 3) match {
        case 0 =>
          // unperturbed gray at sampled cell (ty, tx) — the near class
          // flips the (2,3)>(2,4) comparison, the attachDhashMedia idiom
          def gray0(ty: Int, tx: Int): Int = {
            val x = 2 * tx; val y = 2 * ty
            val v = (a1 * x * x + a2 * x * y + 13 * y * y) % 256
            (299 * v + 587 * ((v + 11) % 256) + 114 * ((v + 22) % 256)) / 1000
          }
          val pv = if (near && gray0(2, 3) > gray0(2, 4)) 0 else 255
          PngCodec.encode(if (dup) 20 else 18, 16, 2, (y, x, ch) =>
            if (near && y == 4 && x == 6) pv
            else (a1 * x * x + a2 * x * y + 13 * y * y + ch * 11) % 256)
        case 1 =>
          val amp = if (dup) 2 else 1
          val pcm = new Array[Byte](64)
          var j = 0
          while (j < 32) {
            val v = (amp * (((k * 37 + j * 13 + k * j * 7) % 197) - 98)).toInt & 0xffff
            pcm(2 * j) = (v & 0xff).toByte
            pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
            j += 1
          }
          wavPcm(pcm, channels = 1, rate = 8000)
        case _ =>
          Y4mCodec.encode(18, 16, 2, (f, pl, y, x) =>
            if (pl == 0)
              (a1 * x * x + a2 * x * y + 13 * y * y +
                f * (if (dup) 91 else 37)) % 256
            else (k + pl * 31 + y + x).toInt % 256)
      }
      Row(id, bytes)
    })
  }

  /** Byte-level RIFF/WAVE builder (16-bit PCM) for fixtures constructed
    * from computed samples rather than text bytes.
    */
  private def wavPcm(pcm: Array[Byte], channels: Int, rate: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(44 + pcm.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + pcm.length)
    out.put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(rate)
      .putInt(rate * channels * 2).putShort((channels * 2).toShort).putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(pcm.length).put(pcm)
    out.array()
  }

  val mediaSigSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("modality", StringType),
    StructField("sig_hi", LongType),
    StructField("sig_lo", LongType)))

  /** Byte-sniffing PERCEPTUAL signature router: per payload, the magic
    * picks the modality and its signature — image dHash ([[dhashRow]]),
    * audio 60-bit four-feature energy-shape fingerprint
    * ([[wavFingerprint60Row]] — the width a drop list may consume; the
    * 15-bit [[wavFingerprintRow]] stays as the report-only comparison),
    * video keyframe dHash ([[videoDhashRow]]) — one decode where the
    * bytes are read, 64 bits out regardless of modality. Undecodable
    * payloads degrade typed with signatures withheld.
    */
  private def mediaSigRow(id: Long, bytes: Array[Byte]): Row = {
    def fail(reason: String) = Row(id, reason, null, null)
    if (bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P') {
      val r = dhashRow(id, bytes)
      if (r.getString(1) != "png") fail(r.getString(1))
      else Row(id, "image", r.getLong(2), r.getLong(3))
    } else if (bytes.length >= 4 && bytes(0) == 'R' && bytes(1) == 'I' &&
        bytes(2) == 'F' && bytes(3) == 'F') {
      val r = wavFingerprint60Row(id, bytes)
      if (r.getString(1) != "wav") fail(r.getString(1))
      else Row(id, "audio", r.getLong(3), r.getLong(4))
    } else if (bytes.length >= 9 &&
        new String(bytes, 0, 9, "US-ASCII") == "YUV4MPEG2") {
      val r = videoDhashRow(id, bytes)
      if (r.getString(1) != "y4m") fail(r.getString(1))
      else Row(id, "video", r.getLong(2), r.getLong(3))
    } else fail("unknown-media")
  }

  /** Signature router. */
  def mediaSig(media: DataFrame): DataFrame =
    decodeEach(media, mediaSigSchema)(mediaSigRow)

  val videoFpSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("n_frames", LongType),
    StructField("fingerprint", LongType)))

  /** TEMPORAL energy-shape video fingerprint — the [[wavFingerprintRow]]
    * idiom across FRAMES instead of time windows: per decoded frame the
    * luma mass (Σ Y samples), and bit f records whether frame f
    * outweighs frame f+1. The sign of the frame-to-frame energy delta
    * survives uniform gain/brightness the way dHash gradients do, and —
    * unlike the keyframe hash — changes when frames are REORDERED,
    * dropped, or retimed: the cheap cut-detection signal that
    * complements [[videoDhashRow]]'s spatial one. Clips under 2 frames
    * degrade typed.
    */
  private def videoFingerprintRow(id: Long, bytes: Array[Byte]): Row =
    Y4mCodec.decode(bytes) match {
      case Left(_) => Row(id, "y4m-corrupt", null, null)
      case Right(v) if v.nFrames < 2 => Row(id, "y4m-short", null, null)
      case Right(v) =>
        val mass = v.frames.map { fr =>
          var s = 0L; var i = 0
          while (i < v.lumaLen) { s += fr(i) & 0xff; i += 1 }
          s
        }
        var fp = 0L
        var f = 0
        while (f < v.nFrames - 1) {
          if (mass(f) > mass(f + 1)) fp |= 1L << f
          f += 1
        }
        Row(id, "y4m", v.nFrames.toLong, fp)
    }

  /** Temporal fingerprint. */
  def videoFingerprint(media: DataFrame): DataFrame =
    decodeEach(media, videoFpSchema)(videoFingerprintRow)

  val videoMetaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("colourspace", StringType),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("fps_num", LongType),
    StructField("fps_den", LongType),
    StructField("n_frames", LongType),
    StructField("frame_len", LongType),
    StructField("n_bytes", LongType)))

  /** Container-metadata parse — the video twin of [[wavRow]]: every field
    * except doc_id/n_bytes exists only via [[Y4mCodec.decode]] parsing the
    * ASCII header AND walking the frames (n_frames is counted by the
    * marker walk; frame_len is the colourspace plane arithmetic — for
    * 4:2:0, w·h + 2·(w/2)·(h/2)). Corrupt payloads degrade typed with
    * fields withheld.
    */
  private def y4mMetaRow(id: Long, bytes: Array[Byte]): Row =
    Y4mCodec.decode(bytes) match {
      case Left(_) =>
        Row(id, "y4m-corrupt", null, null, null, null, null, null, null,
          bytes.length.toLong)
      case Right(v) =>
        Row(id, "y4m", v.colourspace, v.width.toLong, v.height.toLong,
          v.fpsNum.toLong, v.fpsDen.toLong, v.nFrames.toLong,
          v.frameLen.toLong, bytes.length.toLong)
    }

  /** y4m metadata parse. */
  def parseY4mMeta(media: DataFrame): DataFrame =
    decodeEach(media, videoMetaSchema)(y4mMetaRow)

  val videoDecodeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("n_frames", LongType),
    StructField("n_pixels", LongType),
    StructField("sum_y", LongType),
    StructField("sum_u", LongType),
    StructField("sum_v", LongType),
    StructField("luma_checksum", LongType),
    StructField("delta_energy", LongType)))

  /** REAL frame decode stats — the video twin of [[pngDecodeRow]]: after
    * [[Y4mCodec.decode]] validates and slices the planar frames, exact
    * integer stats are computed over the actual sample values — per-plane
    * sums, a positional luma checksum (Σ v·(f·w·h + y·w + x + 1), so any
    * plane mis-slice breaks the hash), and frame-delta energy
    * (Σ over consecutive frames of Σ|Y_f − Y_{f−1}| — the scene-change /
    * static-clip signal a video-curation pipeline filters on). Corrupt
    * payloads degrade to the typed class with stats withheld.
    */
  private def y4mDecodeRow(id: Long, bytes: Array[Byte]): Row =
    Y4mCodec.decode(bytes) match {
      case Left(_) =>
        Row(id, "y4m-corrupt", null, null, null, null, null, null, null, null, null)
      case Right(v) =>
        val luma = v.lumaLen
        val cLen = v.chromaW * v.chromaH
        var sumY = 0L; var sumU = 0L; var sumV = 0L
        var checksum = 0L; var delta = 0L
        var f = 0
        while (f < v.nFrames) {
          val fr = v.frames(f)
          var i = 0
          while (i < luma) {
            val pv = fr(i) & 0xff
            sumY += pv
            checksum += pv.toLong * (f.toLong * luma + i + 1)
            i += 1
          }
          i = 0
          while (i < cLen) {
            sumU += fr(luma + i) & 0xff
            sumV += fr(luma + cLen + i) & 0xff
            i += 1
          }
          if (f > 0) {
            val prev = v.frames(f - 1)
            i = 0
            while (i < luma) {
              delta += math.abs((fr(i) & 0xff) - (prev(i) & 0xff)).toLong
              i += 1
            }
          }
          f += 1
        }
        Row(id, "y4m", v.width.toLong, v.height.toLong, v.nFrames.toLong,
          v.width.toLong * v.height * v.nFrames, sumY, sumU, sumV,
          checksum, delta)
    }

  /** Full y4m frame decode (same contract as
    * [[decodePng]]): container parse + plane slicing happen where the
    * bytes are read; only the per-video stats rows continue.
    */
  def decodeY4m(media: DataFrame): DataFrame =
    decodeEach(media, videoDecodeSchema)(y4mDecodeRow)

  /** PNG header sniffing ([[MediaHeader]]): the payload is parsed where it
    * is read; only the tiny parsed fields continue.
    */
  def parseHeaders(media: DataFrame): DataFrame =
    decodeEach(media, headerSchema)(pngRow)

  private def pngRow(id: Long, bytes: Array[Byte]): Row = {
    val h = MediaHeader.sniff(bytes)
    Row(id, h.format, h.width.map(Int.box).orNull, h.height.map(Int.box).orNull,
      h.bitDepth.map(Int.box).orNull, h.colorType.map(Int.box).orNull, bytes.length.toLong)
  }

  /** The decode seam every modality shares: `parse` turns each
    * `(doc_id, payload)` of `media` into one row of `schema`, inside the
    * query's plan ([[Rows.mapPartitions]]). A narrow stage: payload bytes
    * never shuffle, only the parsed fields continue.
    */
  private[operators] def decodeEach(
      media: DataFrame, schema: StructType)(
      parse: (Long, Array[Byte]) => Row): DataFrame =
    decodeEachFlat(media, schema)((id, bytes) => Seq(parse(id, bytes)))

  /** [[decodeEach]] for parsers that emit a VARIABLE number of rows per
    * payload (e.g. one row per resized pixel); corrupt payloads may
    * legitimately return zero rows.
    */
  private[operators] def decodeEachFlat(
      media: DataFrame, schema: StructType)(
      parse: (Long, Array[Byte]) => Seq[Row]): DataFrame =
    Rows.mapPartitions(media.select(col("doc_id"), col("payload")), schema)(
      _.flatMap(r => parse(r.getLong(0), r.getAs[Array[Byte]](1))))

  val frameSampleSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("slot", LongType),
    StructField("frame_idx", LongType),
    StructField("n_frames", LongType),
    StructField("frame_len", LongType),
    StructField("luma_sum", LongType)))

  /** REAL frame sampling on REAL decoded frames — the pre-featurization
    * step every video-training pipeline runs (a model sees k frames per
    * clip, not all of them): [[Y4mCodec.decode]] parses the container,
    * then up to `maxFrames` evenly spaced frames are selected
    * (`frame_idx = slot · n_frames / k`, the origin-anchored stride) and
    * each sampled frame's exact luma mass is computed from its actual Y
    * plane. Corrupt payloads degrade to ZERO rows (the resize contract).
    * Narrow stage: full-video bytes are decoded where read, only the
    * per-sampled-frame stat rows continue; at 100 TB the clip bytes never
    * shuffle.
    */
  private def frameSampleRows(maxFrames: Int)(id: Long, bytes: Array[Byte]): Seq[Row] =
    Y4mCodec.decode(bytes) match {
      case Left(_) => Seq.empty
      case Right(v) if v.nFrames == 0 => Seq.empty
      case Right(v) =>
        val k = math.min(maxFrames, v.nFrames)
        (0 until k).map { slot =>
          val fidx = slot * v.nFrames / k
          val fr = v.frames(fidx)
          var luma = 0L
          var i = 0
          while (i < v.lumaLen) { luma += fr(i) & 0xff; i += 1 }
          Row(id, slot.toLong, fidx.toLong, v.nFrames.toLong,
            v.frameLen.toLong, luma)
        }
    }

  /** Evenly spaced frame sampling (decode + sample fused where the bytes
    * are read).
    */
  def frameSample(media: DataFrame, maxFrames: Int = 2): DataFrame =
    decodeEachFlat(media, frameSampleSchema)(frameSampleRows(maxFrames))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- REAL frame sampling on REAL decoded frames: each doc's y4m clip
    // is parsed ([[Y4mCodec]]) and up to 2 evenly spaced frames are
    // selected; frame_idx and each sampled frame's exact luma mass exist
    // on the Spark side ONLY by slicing the actual Y planes, while the
    // oracle replays the sampling stride + generator formula in SQL — it
    // never sees the bytes. ----
    "mm_frame_sample" -> ((s, d) => {
      val media = attachY4mMedia(Tables.documents(s, d))
      frameSample(media, maxFrames = 2)
        .cache().orderBy(col("doc_id"), col("slot"))
    }),
    // ---- FULL video-frame decode, the video twin of mm_png_decode: the
    // payload is a REAL YUV4MPEG2 stream over the colourspace-MIXED
    // corpus ([[attachY4mMixedMedia]] — C444 even docs, real 4:2:0 odd
    // docs) and every value below except doc_id exists on the Spark side
    // ONLY because [[Y4mCodec.decode]] genuinely parses the container and
    // slices the planar frames inside the decode pass — including
    // the quarter-size chroma planes, whose sums the oracle replays at
    // CHROMA coordinates. The oracle replays the generative sample
    // formula per (frame, plane, y, x) in SQL — it never sees the
    // bytes — so any header/marker/plane-slicing bug (in either
    // colourspace) breaks the hash. delta_energy (Σ|Y_f − Y_{f−1}|) is
    // the scene-change/static-clip curation signal. ----
    "mm_video_decode" -> ((s, d) => {
      val media = attachY4mMixedMedia(Tables.documents(s, d))
      decodeY4m(media).cache().orderBy(col("doc_id"))
    }),
    // ---- container metadata over a colourspace-MIXED corpus (C444 even
    // docs, real 4:2:0 odd docs): width/height/fps come only from the
    // parsed ASCII header, n_frames only from the FRAME-marker walk, and
    // frame_len only from the per-colourspace plane arithmetic — so the
    // 4:2:0 quarter-chroma layout is proven by the oracle's independent
    // n_bytes/frame_len replay (header length + n_frames·(6 + frame_len)
    // must account for every byte), not just a spec fixture. ----
    "mm_video_meta" -> ((s, d) => {
      val media = attachY4mMixedMedia(Tables.documents(s, d))
      parseY4mMeta(media).cache().orderBy(col("doc_id"))
    }),
    // binary-column metadata surface: REAL byte-level header decode. The
    // payload is a PNG-framed binary ([[attachPngMedia]]); the values below
    // exist on the Spark side ONLY via [[MediaHeader.sniff]] reading the
    // signature + IHDR (incl. CRC32 verification) inside the decode
    // pass, while the oracle predicts the same fields independently from
    // (doc_id, n_chars). Narrow stage end to end: payload bytes never
    // shuffle, only the parsed fields reach the final sort.
    "mm_binary_meta" -> ((s, d) => {
      val media = attachPngMedia(Tables.documents(s, d))
      parseHeaders(media)
        .select(col("doc_id"), col("format"),
          col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"),
          col("bit_depth").cast("bigint").as("bit_depth"),
          col("color_type").cast("bigint").as("color_type"),
          col("n_bytes"))
        .cache().orderBy(col("doc_id"))
    }),

    // ---- the audio twin: payload is a RIFF/WAVE binary
    // ([[attachWavMedia]]); channels/sample-rate/bits/data-length exist on
    // the Spark side ONLY via [[WavHeader.sniff]] parsing the RIFF frame +
    // fmt chunk (incl. the byteRate/blockAlign consistency check) inside
    // the decode pass, while the oracle predicts the same fields
    // independently from (doc_id, n_chars). ----
    "mm_wav_meta" -> ((s, d) => {
      val media = attachWavMedia(Tables.documents(s, d))
      parseWavHeaders(media)
        .select(col("doc_id"), col("format"),
          col("channels").cast("bigint").as("channels"),
          col("sample_rate").cast("bigint").as("sample_rate"),
          col("bits_per_sample").cast("bigint").as("bits_per_sample"),
          col("data_len"), col("n_bytes"))
        .cache().orderBy(col("doc_id"))
    }),

    // ---- FULL pixel decode, not header sniffing: the payload is a REAL
    // complete PNG ([[attachPngPixelMedia]] — deflated IDAT, all five
    // scanline filters in rotation, per-chunk CRCs) and every value below
    // except doc_id exists on the Spark side ONLY because
    // [[PngCodec.decode]] genuinely inflates and unfilters the bytes
    // inside the decode pass. The oracle replays the generative pixel
    // formula per (y, x, channel) in SQL — it never sees the bytes — so
    // any filter/inflate bug breaks the hash. Narrow stage end to end:
    // compressed bytes are decoded where read, only per-image stats rows
    // continue to the sort. ----
    "mm_png_decode" -> ((s, d) => {
      val media = attachPngPixelMedia(Tables.documents(s, d))
      decodePng(media).cache().orderBy(col("doc_id"))
    }),

    // ---- FULL baseline-JPEG decode, the compressed-image rung of the
    // ladder: the payload is a REAL ITU-T T.81 baseline file
    // ([[attachJpegMedia]] — DQT/DHT/SOF0/SOS marker stream, canonical
    // Huffman entropy coding, restart markers on every 4th gray doc,
    // interleaved 4:2:0 MCUs on odd docs) and every value below except
    // doc_id exists on the Spark side ONLY because [[JpegCodec.decode]]
    // genuinely Huffman-decodes, dequantizes, and IDCTs the blocks
    // inside the decode pass — chroma at native QUARTER resolution.
    // The fixture's coefficients make the lossy pipeline bit-exact
    // (per-block constants + one frequency-4 AC with a closed-form ±
    // pattern), so the oracle replays every luma pixel and both chroma
    // plane sums from the generator formula having never seen a byte —
    // any Huffman/dequant/IDCT/sampling bug breaks the hash. ----
    "mm_jpeg_decode" -> ((s, d) => {
      val media = attachJpegMedia(Tables.documents(s, d))
      decodeJpeg(media).cache().orderBy(col("doc_id"))
    }),

    // ---- FULL PCM decode, the audio twin of mm_png_decode: the payload
    // is a real RIFF/WAVE binary whose data chunk carries the document's
    // text bytes as 16-bit LE samples; per-channel sums / energy / peak
    // exist on the Spark side ONLY via [[wavDecodeRow]] decoding and
    // de-interleaving the samples inside the decode pass, while the
    // oracle recomputes them from the text's byte values (lo + 256·hi,
    // signed) — it never sees the framed bytes. ----
    "mm_wav_decode" -> ((s, d) => {
      val media = attachWavMedia(Tables.documents(s, d))
      decodeWav(media).cache().orderBy(col("doc_id"))
    }),

    // ---- REAL resize on REAL pixels: each doc's PNG is decoded
    // (inflate + unfilter) and nearest-neighbor-resampled to a 2×2
    // thumbnail inside the decode pass; the emitted channel values
    // exist ONLY by indexing the decoded pixel buffer at the NN source
    // coordinates, while the oracle replays the generator formula at the
    // SAME coordinates in SQL — it never sees the bytes. Completes the
    // decode / feature-extract / resize / frame-sample multimodal set. ----
    "mm_png_resize" -> ((s, d) => {
      val media = attachPngPixelMedia(Tables.documents(s, d))
      resizePng(media).cache().orderBy(col("doc_id"), col("ty"), col("tx"))
    }),

    // ---- the JPEG twin of mm_png_resize: decode + NN-normalize fused in
    // one narrow pass over the COMPRESSED image corpus — the oracle
    // replays the generator formula at the same ⌊t·dim/2⌋ source
    // coordinates (block index and the frequency-4 ± column pattern
    // included), while the Spark side must Huffman-decode, dequantize,
    // and IDCT to index any of them. ----
    "mm_jpeg_resize" -> ((s, d) => {
      val media = attachJpegMedia(Tables.documents(s, d))
      resizeJpeg(media).cache().orderBy(col("doc_id"), col("ty"), col("tx"))
    }),

    // ---- per-channel PCM features on REAL decoded samples: zero-crossing
    // counts + Σ|v| amplitude mass, de-interleaved by channel — the cheap
    // audio-curation signals (silence/noisiness) computed where the bytes
    // are read. Oracle recomputes both from the text's byte stream. ----
    "mm_wav_features" -> ((s, d) => {
      val media = attachWavMedia(Tables.documents(s, d))
      wavFeatures(media).cache().orderBy(col("doc_id"))
    }),

    // ---- the multimodal capstone: ONE binary column, heterogeneous REAL
    // payloads (PNGs, WAVs, and y4m clips interleaved), format discovered
    // only by sniffing bytes. The router runs the matching real decoder
    // per payload in one narrow pass, then per-modality corpus
    // accounting — the ingest-audit report a mixed-media lake produces
    // before training. At scale the routed stats partial-agg to
    // |modalities| rows per mapper; payload bytes never shuffle. Oracle
    // replays ALL THREE generator formulas and unions them. ----
    // ---- Perceptual-hash image near-dup, the IMAGE rung of the dedup
    // ladder: every payload is a REAL PNG ([[attachDhashMedia]]) whose
    // 64-bit dHash exists on the Spark side ONLY because
    // [[PngCodec.decode]] inflates + unfilters the bytes and [[dhashRow]]
    // point-samples/grayscales/compares actual pixels; candidate pairs
    // come from a 4×16-bit band equi-join (pigeonhole-complete for
    // hamming ≤ 3, never all-pairs — the Dedup simhash convention at
    // 64 bits), verified by exact bit_count(xor). The oracle replays the
    // generator formula per sampled (ty, tx) in SQL and brute-forces the
    // pairs — it never sees a byte, so any inflate/unfilter/sampling bug
    // breaks the hash. The fixture plants one exact dup (slot 8 ≡ slot 0)
    // and one near dup (slot 9 = slot 1 + one flipped cell) per decade. ----
    "mm_dhash_neardup" -> ((s, d) =>
      dhashNeardupPairs(s, d).orderBy(col("a_id"), col("b_id"))),

    // ---- VIDEO perceptual near-dup — the modality rung that completes
    // the image/audio/video ladder: keyframe dHash over genuinely decoded
    // y4m luma planes ([[videoDhashRow]]: container parse → frame-marker
    // walk → plane slice → sampled gradient bits), then the SAME guarded
    // pipeline as the image rung ([[neardupPairsFrom]]: identity collapse
    // → capped rep banding → exact hamming ≤ 3 → cluster-aware
    // expansion). The oracle replays the luma generator per sampled
    // keyframe cell and the collapse/cap arithmetic — it never sees a
    // byte of the stream, so a frame-selection, plane-offset, or
    // marker-walk bug breaks the hash. ----
    "mm_video_neardup" -> ((s, d) =>
      neardupPairsFrom(videoDhashHashes(s, d)).orderBy(col("a_id"), col("b_id"))),

    // ---- temporal energy-shape fingerprint over the mm_video_decode
    // fixture: the Spark side reaches frame masses only by genuinely
    // walking FRAME markers and slicing luma planes; the oracle
    // recomputes every sample from the generator formula (the
    // mm_wav_fingerprint idiom) and replays the delta-sign packing. ----
    "mm_video_fingerprint" -> ((s, d) => {
      val media = attachY4mMedia(Tables.documents(s, d))
      videoFingerprint(media)
        .filter(col("format") === "y4m")
        .select(col("doc_id"), col("n_frames"), col("fingerprint"))
        .cache().orderBy(col("doc_id"))
    }),

    // ---- INCREMENTAL image dedup — dedup_incremental's batch-vs-corpus
    // asymmetry applied to the image modality: the ingest BATCH
    // (doc_id%10 ∈ {8,9} — exactly the fixture's planted re-render/edit
    // slots) decodes and hashes LIVE, while the corpus side reads the
    // PERSISTED dHash signature artifact (the Artifacts contract —
    // corpus pixels are never re-decoded). Candidates via the asymmetric
    // band equi-join (full recall at hamming ≤ 3 by pigeonhole; exact
    // duplicates collide in all four bands, so no separate equality
    // join), verified by exact bit_count, rank-1 best corpus match per
    // batch image (min hamming, tie min corpus id — one bounded
    // min-struct aggregate, no window). Deliberately uncapped like
    // [[graft.operators.Dedup.incrementalMatches]]: the batch side is
    // ingest-bounded, so a hot corpus band value costs b·H — linear in
    // the lake. Work scales with the BATCH at any corpus size. ----
    "mm_dhash_incr" -> ((s, d) => {
      val corpus = Artifacts.table(s, d, "documents", "dhash_sigs")(
        dhash(attachDhashMedia(
            Tables.documents(s, d).filter(col("doc_id") % 10 <= 7)))
          .filter(col("format") === "png")
          .select(col("doc_id"), col("hash_hi"), col("hash_lo")))
      val batch = dhash(attachDhashMedia(
          Tables.documents(s, d).filter(col("doc_id") % 10 >= 8)))
        .filter(col("format") === "png")
        .select(col("doc_id"), col("hash_hi"), col("hash_lo"))
      dhashIncrementalMatches(batch, corpus).orderBy(col("doc_new"))
    }),

    // ---- image-dedup capstone: O(g) cluster edges
    // ([[dhashClusterEdges]]: identity star edges + guarded rep-level
    // near pairs — NEVER the g²/2 pair expansion) → pointer-jumping
    // connected components ([[Dedup.connectedComponents]],
    // O(log diameter) rounds) → per-cluster membership stats
    // (keeper convention: min doc_id = cluster_id). Oracle: exhaustive
    // pair replay + recursive-CTE reachability (the clustersOracle
    // pattern) — identical components because star edges preserve
    // connectivity exactly. ----
    "pipe_image_dedup_e2e" -> ((s, d) => {
      val pairs = dhashClusterEdges(dhashHashes(s, d))
      Dedup.connectedComponents(pairs)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).cast("bigint").as("cluster_size"),
          sum(col("doc_id")).cast("bigint").as("sum_member_ids"),
          max(col("doc_id")).cast("bigint").as("max_member_id"))
        .orderBy(col("cluster_id"))
    }),

    // ---- windowed energy-delta audio fingerprint: the 15-bit
    // energy-shape signature exists on the Spark side ONLY by decoding
    // the RIFF data chunk's 16-bit LE samples and binning channel-0 |v|
    // into the 16 time windows ([[wavFingerprintRow]]); the oracle
    // recomputes every sample from the text's byte values (the
    // mm_wav_decode idiom) and replays the window arithmetic — it never
    // sees the framed bytes. ----
    "mm_wav_fingerprint" -> ((s, d) => {
      val media = attachWavMedia(Tables.documents(s, d))
      wavFingerprint(media)
        .filter(col("format") === "wav")
        .select(col("doc_id"), col("n_frames"), col("fingerprint"))
        .cache().orderBy(col("doc_id"))
    }),

    // ---- the WIDENED 60-bit audio fingerprint ([[wavFingerprint60Row]]):
    // four per-window features (|v| mass, |Δv|, |Δ²v|, peak) × 15
    // across-window sign bits, one feature per 16-bit band chunk. The
    // oracle recomputes every channel-0 sample from the text's byte
    // values, takes the deltas with lag(), and rebuilds all 60 bits —
    // never seeing the framed bytes. ----
    "mm_wav_fingerprint60" -> ((s, d) => {
      val media = attachWavMedia(Tables.documents(s, d))
      wavFingerprint60(media)
        .filter(col("format") === "wav")
        .select(col("doc_id"), col("n_frames"), col("sig_hi"), col("sig_lo"))
        .cache().orderBy(col("doc_id"))
    }),

    // ---- the WIDTH TRADEOFF as a gate-checked number: both fingerprint
    // decoders run over the perceptual-mix audio third and report their
    // over-merge (redundant signatures beyond the planted 2×-gain dups).
    // This is the comparison the 15→60-bit widening was justified by —
    // kept as an oracle row so a regression in either decoder (or a
    // fixture drift) moves a number the gate hashes. The oracle exploits
    // that the 15-bit code IS chunk 0 of the 60-bit one (same e0
    // comparisons), so one replay covers both widths. ----
    "mm_wav_overmerge" -> ((s, d) => {
      // localCheckpoint: BOTH width decoders read this fixture —
      // uncheckpointed, the payload generation would run twice
      val media = attachPerceptualMixMedia(Tables.documents(s, d))
        .filter(col("doc_id") % 3 === 1)
        .localCheckpoint()
      val planted = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 1 &&
          expr("doc_id DIV 3") % 8 === 7 && expr("doc_id DIV 3") >= 7)
        .agg(count(lit(1)).as("n_planted"))
      val w15 = wavFingerprint(media).filter(col("format") === "wav")
        .agg(count(lit(1)).as("n_items"),
          countDistinct(col("fingerprint")).as("n_distinct"))
        .withColumn("width_bits", lit(15L))
      val w60 = wavFingerprint60(media).filter(col("format") === "wav")
        .agg(count(lit(1)).as("n_items"),
          countDistinct(col("sig_hi"), col("sig_lo")).as("n_distinct"))
        .withColumn("width_bits", lit(60L))
      w15.unionByName(w60)
        .crossJoin(broadcast(planted))
        .select(col("width_bits"),
          col("n_items").cast("bigint").as("n_items"),
          col("n_distinct").cast("bigint").as("n_distinct"),
          (col("n_items") - col("n_distinct")).cast("bigint").as("n_redundant"),
          col("n_planted").cast("bigint").as("n_planted"),
          (col("n_items") - col("n_distinct") - col("n_planted"))
            .cast("bigint").as("over_merge"))
        .orderBy(col("width_bits"))
    }),

    // ---- CROSS-MODALITY perceptual dedup capstone: the signature
    // router ([[mediaSig]]) decodes each payload by its magic and
    // emits the modality's 64-bit perceptual signature; the report
    // counts per-modality items, distinct signatures, and redundant
    // copies. Every planted dup is byte-DIFFERENT (wider canvas / 2×
    // gain / different second frame), so a byte-hash dedup sees ZERO of
    // them — the oracle replays all three signature formulas from the
    // content arithmetic and counts distinct values itself, so a decoder
    // that collapses, garbles, or byte-hashes breaks the count. Scale:
    // one narrow decode pass, |modalities| output rows, signature-width
    // shuffle. ----
    "pipe_media_dedup_e2e" -> ((s, d) => {
      val media = attachPerceptualMixMedia(Tables.documents(s, d))
      mediaSig(media)
        .filter(col("modality").isin("image", "audio", "video"))
        .groupBy(col("modality"))
        .agg(count(lit(1)).cast("bigint").as("n_items"),
          countDistinct(col("sig_hi"), col("sig_lo")).cast("bigint")
            .as("n_distinct"))
        .withColumn("n_redundant", (col("n_items") - col("n_distinct")).cast("bigint"))
        .orderBy(col("modality"))
    }),

    // ---- the cross-modality CUT — pipe_media_dedup_e2e's accounting
    // turned into an actual dedup (the report → verdict convention):
    // per modality, NEAR-dup merge — image and video through the
    // identity-collapsed, hot-band-guarded hamming ≤ 3 edge set
    // ([[dhashClusterEdges]]: O(g) star edges per duplicate group, never
    // the pair expansion), audio through exact 60-bit signature equality
    // (the width [[wavFingerprint60Row]] earns; hamming tolerance on an
    // energy-shape code would re-open the over-merge the widening
    // closed) — then ONE connected-components run over the union (doc
    // ids are globally unique, so modalities can share the CC without
    // ever linking), canonical keeper = min doc_id, and a per-doc
    // keep/drop verdict every downstream export can consume. The oracle
    // replays all three signature formulas (including the near class's
    // forced-pixel flip and the dup class's 2× gain), brute-forces the
    // per-modality pairs, and reruns reachability min-label — so a
    // decoder, banding, or clustering bug all flip verdicts. Scale: one
    // narrow decode pass; the edge set is output-proportional; CC rounds
    // shuffle node ids only. ----
    "pipe_media_dedup_cut" -> ((s, d) => {
      mediaCutVerdicts(s, d)
        .select(col("doc_id"), col("modality"), col("cluster_id"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // ---- the INCREMENTAL cross-modality cut — pipe_media_dedup_cut's
    // scheduled-batch form (the reference's own cadence model), the
    // dedup_incremental asymmetry applied to ALL THREE modalities at
    // once: the ingest batch (doc_id % 10 = 0) byte-sniffs, decodes and
    // signs LIVE in one routed pass ([[mediaSig]]); the corpus
    // side reads the PERSISTED per-modality signature artifact (the
    // Artifacts contract — corpus pixels/samples are never
    // re-decoded). Per modality, the asymmetric band match of
    // mm_dhash_incr (hamming ≤ 3 for image/video; maxHamming 0 = exact
    // 60-bit equality for audio — the over-merge rule the batch cut
    // applies), rank-1 best corpus match per batch item. The oracle
    // replays all three signature formulas, brute-forces batch-vs-corpus
    // pairs per modality, and reruns the rank-1 pick. Work scales with
    // the BATCH at any corpus size; MediaDedupSpec pins the
    // corpus-never-redecoded asymmetry. ----
    "pipe_media_dedup_incr" -> ((s, d) => {
      val corpus = Artifacts.table(s, d, "documents",
        "media_corpus_sigs")(
        mediaSig(attachPerceptualMixMedia(
            Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0)))
          .filter(col("modality").isin("image", "audio", "video"))
          .select(col("doc_id"), col("modality"),
            col("sig_hi"), col("sig_lo")))
      // ONE routed decode pass over the batch feeds all three branches
      val batch = mediaSig(attachPerceptualMixMedia(
          Tables.documents(s, d).filter(col("doc_id") % 10 === 0)))
        .filter(col("modality").isin("image", "audio", "video"))
        .localCheckpoint()
      def side(df: DataFrame, m: String): DataFrame = df
        .filter(col("modality") === m)
        .select(col("doc_id"), col("sig_hi").as("hash_hi"),
          col("sig_lo").as("hash_lo"))
      Seq(("image", 3), ("video", 3), ("audio", 0)).map { case (m, h) =>
        dhashIncrementalMatches(side(batch, m), side(corpus, m), h)
          .withColumn("modality", lit(m))
      }.reduce(_ unionByName _)
        .select(col("doc_new"), col("modality"), col("dup_of"), col("hamming"))
        .orderBy(col("doc_new"))
    }),

    // ---- the verdicts CONSUMED, end to end: a REAL keep-only export
    // ([[MediaExportFixture]] — modality-partitioned parquet written
    // from the verdicts once per corpus fingerprint) whose manifest is
    // computed from the READBACK of the exported files (keep counts, an
    // order-insensitive XOR checksum of kept signatures — the
    // pipe_export_shards idiom — and the kept id range), while the
    // oracle re-derives every column from `documents` alone: loss,
    // duplication, or mis-partitioning in the export flips the hash.
    // n_dropped comes from the modality totals (id arithmetic), so no
    // second decode pass is paid. ----
    "pipe_media_export" -> ((s, d) => {
      val kept = MediaExportFixture.read(s, d)
        .groupBy(col("modality"))
        .agg(count(lit(1)).cast("bigint").as("n_kept"),
          expr("bit_xor(sig_hi)").cast("bigint").as("sig_hi_xor"),
          expr("bit_xor(sig_lo)").cast("bigint").as("sig_lo_xor"),
          min(col("doc_id")).cast("bigint").as("min_kept"),
          max(col("doc_id")).cast("bigint").as("max_kept"))
      val totals = Tables.documents(s, d)
        .groupBy(when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("modality"))
        .agg(count(lit(1)).as("n_items"))
      kept.join(broadcast(totals), "modality")
        .select(col("modality"), col("n_kept"),
          (col("n_items") - col("n_kept")).cast("bigint").as("n_dropped"),
          col("sig_hi_xor"), col("sig_lo_xor"),
          col("min_kept"), col("max_kept"))
        .orderBy(col("modality"))
    }),

    "pipe_multimodal_e2e" -> ((s, d) => {
      val media = attachMixedMedia(Tables.documents(s, d))
      routeMixed(media)
        .groupBy(col("modality"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("units")).as("total_units"),
          sum(col("mass")).as("total_mass"),
          max(col("units")).as("max_units"))
        .orderBy(col("modality"))
    }))

  /** Shared dHash replay CTE (content-id coefficients → sampled-grid
    * grays → 64 hash bits as two 32-bit BIGINT halves) feeding both the
    * pair oracle and the cluster capstone oracle.
    */
  private val dhashOracleCte: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    (((doc_id // 10) * 10 + (doc_id % 10) % 8) * 13) % 97 + 7 AS a1,
      |    (((doc_id // 10) * 10 + (doc_id % 10) % 8) * 29) % 83 + 5 AS a2,
      |    doc_id % 10 = 9 AS pert
      |  FROM documents
      |), g0 AS (
      |  SELECT doc_id, pert, ty.ty AS ty, tx.tx AS tx,
      |    (299 * ((a1*(2*tx.tx)*(2*tx.tx) + a2*(2*tx.tx)*(2*ty.ty) + 13*(2*ty.ty)*(2*ty.ty)) % 256)
      |   + 587 * ((a1*(2*tx.tx)*(2*tx.tx) + a2*(2*tx.tx)*(2*ty.ty) + 13*(2*ty.ty)*(2*ty.ty) + 11) % 256)
      |   + 114 * ((a1*(2*tx.tx)*(2*tx.tx) + a2*(2*tx.tx)*(2*ty.ty) + 13*(2*ty.ty)*(2*ty.ty) + 22) % 256)) // 1000 AS gray
      |  FROM c, UNNEST(range(0, 8)) AS ty(ty), UNNEST(range(0, 9)) AS tx(tx)
      |), fl AS (
      |  SELECT g3.doc_id, CASE WHEN g3.gray > g4.gray THEN 0 ELSE 255 END AS pv
      |  FROM g0 g3 JOIN g0 g4 ON g3.doc_id = g4.doc_id
      |    AND g3.ty = 2 AND g3.tx = 3 AND g4.ty = 2 AND g4.tx = 4
      |  WHERE g3.pert
      |), g AS (
      |  SELECT g0.doc_id, g0.ty, g0.tx,
      |    CASE WHEN fl.doc_id IS NOT NULL AND g0.ty = 2 AND g0.tx = 3
      |         THEN fl.pv ELSE g0.gray END AS gray
      |  FROM g0 LEFT JOIN fl ON g0.doc_id = fl.doc_id
      |), b AS (
      |  SELECT l.doc_id,
      |    CAST(sum(CASE WHEN l.ty*8 + l.tx >= 32 AND l.gray > r.gray
      |      THEN (1::BIGINT << (l.ty*8 + l.tx - 32)) ELSE 0 END) AS BIGINT) AS hash_hi,
      |    CAST(sum(CASE WHEN l.ty*8 + l.tx < 32 AND l.gray > r.gray
      |      THEN (1::BIGINT << (l.ty*8 + l.tx)) ELSE 0 END) AS BIGINT) AS hash_lo
      |  FROM g l JOIN g r ON l.doc_id = r.doc_id AND l.ty = r.ty AND r.tx = l.tx + 1
      |  WHERE l.tx < 8
      |  GROUP BY l.doc_id
      |)
      |""".stripMargin

    /** Keyframe-luma replay CTE for the video fixture — the
    * [[dhashOracleCte]] idiom minus the Rec.601 blend (y4m luma IS the
    * gray channel): content-id coefficients → sampled frame-0 luma →
    * the perturbed cell's forced flip → 64 hash bits as two 32-bit
    * BIGINT halves, feeding the shared [[dhashPairsCte]].
    */
  private val videoOracleCte: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    (((doc_id // 10) * 10 + (doc_id % 10) % 8) * 13) % 97 + 7 AS a1,
      |    (((doc_id // 10) * 10 + (doc_id % 10) % 8) * 29) % 83 + 5 AS a2,
      |    doc_id % 10 = 9 AS pert
      |  FROM documents
      |), g0 AS (
      |  SELECT doc_id, pert, ty.ty AS ty, tx.tx AS tx,
      |    (a1*(2*tx.tx)*(2*tx.tx) + a2*(2*tx.tx)*(2*ty.ty)
      |     + 13*(2*ty.ty)*(2*ty.ty)) % 256 AS gray
      |  FROM c, UNNEST(range(0, 8)) AS ty(ty), UNNEST(range(0, 9)) AS tx(tx)
      |), fl AS (
      |  SELECT g3.doc_id, CASE WHEN g3.gray > g4.gray THEN 0 ELSE 255 END AS pv
      |  FROM g0 g3 JOIN g0 g4 ON g3.doc_id = g4.doc_id
      |    AND g3.ty = 2 AND g3.tx = 3 AND g4.ty = 2 AND g4.tx = 4
      |  WHERE g3.pert
      |), g AS (
      |  SELECT g0.doc_id, g0.ty, g0.tx,
      |    CASE WHEN fl.doc_id IS NOT NULL AND g0.ty = 2 AND g0.tx = 3
      |         THEN fl.pv ELSE g0.gray END AS gray
      |  FROM g0 LEFT JOIN fl ON g0.doc_id = fl.doc_id
      |), b AS (
      |  SELECT l.doc_id,
      |    CAST(sum(CASE WHEN l.ty*8 + l.tx >= 32 AND l.gray > r.gray
      |      THEN (1::BIGINT << (l.ty*8 + l.tx - 32)) ELSE 0 END) AS BIGINT) AS hash_hi,
      |    CAST(sum(CASE WHEN l.ty*8 + l.tx < 32 AND l.gray > r.gray
      |      THEN (1::BIGINT << (l.ty*8 + l.tx)) ELSE 0 END) AS BIGINT) AS hash_lo
      |  FROM g l JOIN g r ON l.doc_id = r.doc_id AND l.ty = r.ty AND r.tx = l.tx + 1
      |  WHERE l.tx < 8
      |  GROUP BY l.doc_id
      |)
      |""".stripMargin

  /** Shared pair-replay tail mirroring the round-12 engine shape:
    * identity collapse (min-doc_id reps per distinct hash), 4x16-bit
    * banding of the REPS ONLY with the hot-band cap (values held by > 50
    * reps dropped -- at the fixture's saturated coefficient universe one
    * band value reaches 66 reps, so the exhaustive form would diverge at
    * large SF), hamming <= 3 verification, and identity-cluster
    * expansion back to doc-level pairs. The decode proof is unchanged:
    * the hashes themselves still come only from the generator replay.
    */
  private val dhashPairsCte: String =
    s""", reps AS (
      |  SELECT min(doc_id) AS rid, hash_hi, hash_lo FROM b
      |  GROUP BY hash_hi, hash_lo
      |), mem AS (
      |  SELECT b.doc_id, r.rid FROM b JOIN reps r USING (hash_hi, hash_lo)
      |), rchunks AS (
      |  SELECT rid, hash_hi, hash_lo, 0 AS ci, hash_lo & 65535 AS cv FROM reps
      |  UNION ALL SELECT rid, hash_hi, hash_lo, 1, (hash_lo >> 16) & 65535 FROM reps
      |  UNION ALL SELECT rid, hash_hi, hash_lo, 2, hash_hi & 65535 FROM reps
      |  UNION ALL SELECT rid, hash_hi, hash_lo, 3, (hash_hi >> 16) & 65535 FROM reps
      |), keepc AS (
      |  SELECT ci, cv FROM rchunks GROUP BY ci, cv HAVING count(*) <= ${Dedup.BandCap}
      |), kc AS (
      |  SELECT c.* FROM rchunks c JOIN keepc USING (ci, cv)
      |), rpairs AS (
      |  SELECT DISTINCT ka.rid AS ra, kb.rid AS rb,
      |    bit_count(xor(ka.hash_hi, kb.hash_hi))
      |      + bit_count(xor(ka.hash_lo, kb.hash_lo)) AS hm
      |  FROM kc ka JOIN kc kb
      |    ON ka.ci = kb.ci AND ka.cv = kb.cv AND ka.rid < kb.rid
      |  WHERE bit_count(xor(ka.hash_hi, kb.hash_hi))
      |      + bit_count(xor(ka.hash_lo, kb.hash_lo)) <= 3
      |), allpairs AS (
      |  SELECT ma.doc_id AS a_id, mb.doc_id AS b_id, CAST(0 AS BIGINT) AS hamming
      |  FROM mem ma JOIN mem mb ON ma.rid = mb.rid AND ma.doc_id < mb.doc_id
      |  UNION ALL
      |  SELECT least(ma.doc_id, mb.doc_id), greatest(ma.doc_id, mb.doc_id),
      |    CAST(hm AS BIGINT)
      |  FROM rpairs JOIN mem ma ON ma.rid = rpairs.ra
      |  JOIN mem mb ON mb.rid = rpairs.rb
      |)
      |""".stripMargin

  /** A REAL keep-only media export behind the manifest: the cut
    * verdicts ([[mediaCutVerdicts]]), keepers only, committed as an
    * immutable `_v=1` snapshot of a modality-partitioned table
    * ([[graft.pipeline.Warehouse.versionedWrite]]) and published once
    * per corpus fingerprint through [[Artifacts]] — `pipe_media_export`
    * computes its manifest from the READBACK of these files (the WAP
    * readback principle: the manifest describes what a trainer will
    * actually load, so writer-side loss, duplication, or
    * mis-partitioning breaks the checksum), while the oracle recomputes
    * every column from `documents` alone.
    */
  private[graft] object MediaExportFixture {
    def read(s: SparkSession, d: String): DataFrame =
      Artifacts.wh.readVersion(s, Artifacts.publish("media_keep", d) { scratch =>
        Artifacts.wh.versionedWrite(
          mediaCutVerdicts(s, d).filter(col("keep"))
            .select(col("doc_id"), col("sig_hi"), col("sig_lo"),
              col("modality")),
          scratch, Seq("modality")): Unit
      })
  }

  /** The cross-modality dedup VERDICT body shared by the cut and the
    * export manifest: decode once (localCheckpoint — the signature
    * pass feeds three modality branches plus the verdict
    * join), per-modality near-dup edges (guarded hamming ≤ 3 banding
    * for image/video; maxHamming 0 = exact 60-bit equality for audio —
    * hamming tolerance on an energy-shape code would re-open the
    * over-merge the widening closed), ONE connected-components run over
    * the union (doc ids are globally unique, so modalities share the CC
    * without ever linking), min-doc_id keeper. Returns
    * (doc_id, modality, sig_hi, sig_lo, cluster_id, keep).
    */
  private def mediaCutVerdicts(s: SparkSession, d: String): DataFrame = {
    val media = attachPerceptualMixMedia(Tables.documents(s, d))
    val sigs = mediaSig(media)
      .filter(col("modality").isin("image", "audio", "video"))
      .localCheckpoint()
    def hashesOf(m: String): DataFrame = sigs
      .filter(col("modality") === m)
      .select(col("doc_id"), col("sig_hi").as("hash_hi"),
        col("sig_lo").as("hash_lo"))
    val edges = dhashClusterEdges(hashesOf("image"))
      .unionByName(dhashClusterEdges(hashesOf("video")))
      .unionByName(dhashClusterEdges(hashesOf("audio"), maxHamming = 0))
    val cc = Dedup.connectedComponents(edges)
    sigs.join(cc, Seq("doc_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), col("doc_id")).cast("bigint"))
      .withColumn("keep", col("cluster_id") === col("doc_id"))
  }

  /** Shared replay of ALL THREE [[attachPerceptualMixMedia]] signature
    * formulas — image Rec.601 dHash (dup = wider canvas → same k, near =
    * the forced-pixel flip), video keyframe luma dHash, audio 60-bit
    * four-feature energy code (dup = 2× gain; deltas via lag) — ending
    * in per-modality bit frames `ib` / `vb` / `ab` (doc_id, hi, lo).
    * Feeds both the e2e accounting oracle and the cut capstone's
    * cluster/keeper replay. Brute-force pairing downstream is exact
    * against the engine's guarded banding because no 16-bit chunk value
    * here approaches the [[Dedup.BandCap]] (measured max occupancy 3).
    */
  private val mediaSigOracleCte: String =
    """WITH ck AS (
      |  SELECT doc_id, doc_id % 3 AS m,
      |    (doc_id // 3) % 8 = 7 AS dup,
      |    m = 0 AND (doc_id // 3) % 8 = 3 AS nr,
      |    CASE WHEN (doc_id // 3) % 8 = 7 THEN doc_id // 3 - 7
      |         WHEN doc_id % 3 = 0 AND (doc_id // 3) % 8 = 3 THEN doc_id // 3 - 3
      |         ELSE doc_id // 3 END AS k
      |  FROM documents
      |), ck2 AS (
      |  SELECT doc_id, m, dup, nr, k,
      |    (k * 13) % 97 + 7 AS a1, (k * 29) % 83 + 5 AS a2
      |  FROM ck
      |), ig0 AS (
      |  SELECT doc_id, nr, ty.ty AS ty, tx.tx AS tx,
      |    (299 * ((a1*(2*tx.tx)*(2*tx.tx) + a2*(2*tx.tx)*(2*ty.ty) + 13*(2*ty.ty)*(2*ty.ty)) % 256)
      |   + 587 * ((a1*(2*tx.tx)*(2*tx.tx) + a2*(2*tx.tx)*(2*ty.ty) + 13*(2*ty.ty)*(2*ty.ty) + 11) % 256)
      |   + 114 * ((a1*(2*tx.tx)*(2*tx.tx) + a2*(2*tx.tx)*(2*ty.ty) + 13*(2*ty.ty)*(2*ty.ty) + 22) % 256)) // 1000 AS gray
      |  FROM ck2, UNNEST(range(0, 8)) AS ty(ty), UNNEST(range(0, 9)) AS tx(tx)
      |  WHERE m = 0
      |), ifl AS (
      |  SELECT g3.doc_id, CASE WHEN g3.gray > g4.gray THEN 0 ELSE 255 END AS pv
      |  FROM ig0 g3 JOIN ig0 g4 ON g3.doc_id = g4.doc_id
      |    AND g3.ty = 2 AND g3.tx = 3 AND g4.ty = 2 AND g4.tx = 4
      |  WHERE g3.nr
      |), ig AS (
      |  SELECT ig0.doc_id, ig0.ty, ig0.tx,
      |    CASE WHEN ifl.doc_id IS NOT NULL AND ig0.ty = 2 AND ig0.tx = 3
      |         THEN ifl.pv ELSE ig0.gray END AS gray
      |  FROM ig0 LEFT JOIN ifl ON ig0.doc_id = ifl.doc_id
      |), ib AS (
      |  SELECT l.doc_id,
      |    CAST(sum(CASE WHEN l.ty*8 + l.tx >= 32 AND l.gray > r.gray
      |      THEN (1::BIGINT << (l.ty*8 + l.tx - 32)) ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(sum(CASE WHEN l.ty*8 + l.tx < 32 AND l.gray > r.gray
      |      THEN (1::BIGINT << (l.ty*8 + l.tx)) ELSE 0 END) AS BIGINT) AS lo
      |  FROM ig l JOIN ig r ON l.doc_id = r.doc_id AND l.ty = r.ty AND r.tx = l.tx + 1
      |  WHERE l.tx < 8 GROUP BY l.doc_id
      |), vg AS (
      |  SELECT doc_id, ty.ty AS ty, tx.tx AS tx,
      |    (a1*(2*tx.tx)*(2*tx.tx) + a2*(2*tx.tx)*(2*ty.ty)
      |     + 13*(2*ty.ty)*(2*ty.ty)) % 256 AS gray
      |  FROM ck2, UNNEST(range(0, 8)) AS ty(ty), UNNEST(range(0, 9)) AS tx(tx)
      |  WHERE m = 2
      |), vb AS (
      |  SELECT l.doc_id,
      |    CAST(sum(CASE WHEN l.ty*8 + l.tx >= 32 AND l.gray > r.gray
      |      THEN (1::BIGINT << (l.ty*8 + l.tx - 32)) ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(sum(CASE WHEN l.ty*8 + l.tx < 32 AND l.gray > r.gray
      |      THEN (1::BIGINT << (l.ty*8 + l.tx)) ELSE 0 END) AS BIGINT) AS lo
      |  FROM vg l JOIN vg r ON l.doc_id = r.doc_id AND l.ty = r.ty AND r.tx = l.tx + 1
      |  WHERE l.tx < 8 GROUP BY l.doc_id
      |), au0 AS (
      |  SELECT doc_id, j.j AS j,
      |    (CASE WHEN dup THEN 2 ELSE 1 END)
      |      * (((k*37 + j.j*13 + k*j.j*7) % 197) - 98) AS v
      |  FROM ck2, UNNEST(range(0, 32)) AS j(j) WHERE m = 1
      |), au AS (
      |  SELECT doc_id, j, v,
      |    lag(v) OVER (PARTITION BY doc_id ORDER BY j) AS pv,
      |    lag(v, 2) OVER (PARTITION BY doc_id ORDER BY j) AS pv2
      |  FROM au0
      |), ae AS (
      |  SELECT doc_id, j // 2 AS w,
      |    sum(abs(v)) AS e0,
      |    sum(CASE WHEN j >= 1 THEN abs(v - pv) ELSE 0 END) AS e1,
      |    sum(CASE WHEN j >= 2 THEN abs(v - 2 * pv + pv2) ELSE 0 END) AS e2,
      |    max(abs(v)) AS e3
      |  FROM au GROUP BY doc_id, j // 2
      |), ab AS (
      |  SELECT l.doc_id,
      |    CAST(sum(CASE WHEN l.e2 > coalesce(r.e2, 0) THEN (1::BIGINT << l.w) ELSE 0 END)
      |      + sum(CASE WHEN l.e3 > coalesce(r.e3, 0) THEN (1::BIGINT << (16 + l.w)) ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(sum(CASE WHEN l.e0 > coalesce(r.e0, 0) THEN (1::BIGINT << l.w) ELSE 0 END)
      |      + sum(CASE WHEN l.e1 > coalesce(r.e1, 0) THEN (1::BIGINT << (16 + l.w)) ELSE 0 END) AS BIGINT) AS lo
      |  FROM ae l LEFT JOIN ae r ON l.doc_id = r.doc_id AND r.w = l.w + 1
      |  WHERE l.w < 15 GROUP BY l.doc_id
      |)
      |""".stripMargin

  /** [[mediaSigOracleCte]] extended with the brute-force per-modality
    * pair set and the recursive reachability min-label — the full
    * cluster replay shared by the cut verdicts and the export manifest.
    */
  private val mediaClusterOracleCte: String =
    mediaSigOracleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, sig AS (
        |  SELECT doc_id, 'image' AS modality, hi, lo FROM ib
        |  UNION ALL SELECT doc_id, 'video', hi, lo FROM vb
        |  UNION ALL SELECT doc_id, 'audio', hi, lo FROM ab
        |), prs AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM sig a JOIN sig b ON a.modality = b.modality AND a.doc_id < b.doc_id
        |  WHERE CASE WHEN a.modality = 'audio' THEN a.hi = b.hi AND a.lo = b.lo
        |        ELSE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3 END
        |), adj AS (
        |  SELECT da AS src, db AS dst FROM prs UNION SELECT db, da FROM prs
        |), reach AS (
        |  SELECT doc_id AS a, doc_id AS b FROM (SELECT DISTINCT src AS doc_id FROM adj)
        |  UNION SELECT r.a, adj.dst FROM reach r JOIN adj ON r.b = adj.src
        |), lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
        |""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    // independent replay of the sampling stride + luma GENERATOR: the
    // oracle computes frame_idx = slot·nf/2 and sums the formula over the
    // sampled frame's (y, x) — the Spark side can only reach those values
    // by parsing the container and summing the actual Y plane
    "mm_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, doc_id % 8 + 1 AS w, n_chars % 6 + 1 AS h,
        |    n_chars % 3 + 2 AS nf
        |  FROM documents
        |), sel AS (
        |  SELECT doc_id, w, h, nf, s.s AS slot, (s.s * nf) // 2 AS fidx
        |  FROM m, UNNEST(range(0, 2)) AS s(s)
        |), ls AS (
        |  SELECT doc_id, slot, fidx, nf, w, h,
        |    sum((doc_id * 31 + fidx * 13 + y.y * 7 + x.x * 5) % 256) AS luma_sum
        |  FROM sel, UNNEST(range(0, h)) AS y(y), UNNEST(range(0, w)) AS x(x)
        |  GROUP BY doc_id, slot, fidx, nf, w, h
        |)
        |SELECT doc_id, CAST(slot AS BIGINT) AS slot,
        |  CAST(fidx AS BIGINT) AS frame_idx, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(3 * w * h AS BIGINT) AS frame_len,
        |  CAST(luma_sum AS BIGINT) AS luma_sum
        |FROM ls ORDER BY doc_id, slot""".stripMargin,
    // independent replay of the mixed-fixture DEFINITIONS: the oracle
    // derives width/height/colourspace/frame_len from (doc_id, n_chars)
    // parity and reconstructs the EXACT byte count (header string length
    // + n_frames·(6-byte marker + frame_len)) — the Spark side can only
    // match by genuinely parsing the header and walking the frames with
    // correct 4:4:4 vs 4:2:0 plane arithmetic
    "mm_video_meta" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN '444' ELSE '420jpeg' END AS cs,
        |    CASE WHEN doc_id % 2 = 0 THEN doc_id % 8 + 1
        |         ELSE 2 * (doc_id % 4 + 1) END AS w,
        |    CASE WHEN doc_id % 2 = 0 THEN n_chars % 6 + 1
        |         ELSE 2 * (n_chars % 3 + 1) END AS h,
        |    n_chars % 3 + 2 AS nf
        |  FROM documents
        |), fl AS (
        |  SELECT doc_id, cs, w, h, nf,
        |    CASE WHEN cs = '444' THEN 3 * w * h
        |         ELSE w * h + 2 * (w // 2) * (h // 2) END AS frame_len
        |  FROM m
        |)
        |SELECT doc_id, 'y4m' AS format, cs AS colourspace,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(25 AS BIGINT) AS fps_num, CAST(1 AS BIGINT) AS fps_den,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(frame_len AS BIGINT) AS frame_len,
        |  CAST(30 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
        |    + length(cs) + nf * (6 + frame_len) AS BIGINT) AS n_bytes
        |FROM fl ORDER BY doc_id""".stripMargin,
    // independent replay of the video sample GENERATOR (not the decoder):
    // the oracle enumerates every (frame, plane, y, x) of each clip and
    // computes the same plane sums / positional luma checksum /
    // frame-delta energy the Spark side can only reach by actually
    // parsing the y4m container and slicing the planar frames
    "mm_video_decode" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN doc_id % 8 + 1
        |         ELSE 2 * (doc_id % 4 + 1) END AS w,
        |    CASE WHEN doc_id % 2 = 0 THEN n_chars % 6 + 1
        |         ELSE 2 * (n_chars % 3 + 1) END AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN doc_id % 8 + 1
        |         ELSE doc_id % 4 + 1 END AS cw,
        |    CASE WHEN doc_id % 2 = 0 THEN n_chars % 6 + 1
        |         ELSE n_chars % 3 + 1 END AS chh,
        |    n_chars % 3 + 2 AS nf
        |  FROM documents
        |), ly AS (
        |  SELECT doc_id,
        |    sum(v) AS sum_y,
        |    sum(v * (f * w * h + y * w + x + 1)) AS luma_checksum
        |  FROM (
        |    SELECT doc_id, w, h, f.f AS f, y.y AS y, x.x AS x,
        |      (doc_id * 31 + f.f * 13 + y.y * 7 + x.x * 5) % 256 AS v
        |    FROM m, UNNEST(range(0, nf)) AS f(f),
        |      UNNEST(range(0, h)) AS y(y), UNNEST(range(0, w)) AS x(x)
        |  ) GROUP BY doc_id
        |), cr AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN p = 1 THEN v END) AS sum_u,
        |    sum(CASE WHEN p = 2 THEN v END) AS sum_v
        |  FROM (
        |    SELECT doc_id, p.p AS p,
        |      (doc_id * 31 + f.f * 13 + p.p * 17 + y.y * 7 + x.x * 5) % 256 AS v
        |    FROM m, UNNEST(range(0, nf)) AS f(f), UNNEST(range(1, 3)) AS p(p),
        |      UNNEST(range(0, chh)) AS y(y), UNNEST(range(0, cw)) AS x(x)
        |  ) GROUP BY doc_id
        |), dl AS (
        |  SELECT doc_id, sum(abs(
        |    (doc_id * 31 + f.f * 13 + y.y * 7 + x.x * 5) % 256 -
        |    (doc_id * 31 + (f.f - 1) * 13 + y.y * 7 + x.x * 5) % 256)) AS delta_energy
        |  FROM m, UNNEST(range(1, nf)) AS f(f),
        |    UNNEST(range(0, h)) AS y(y), UNNEST(range(0, w)) AS x(x)
        |  GROUP BY doc_id
        |)
        |SELECT m.doc_id, 'y4m' AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(w * h * nf AS BIGINT) AS n_pixels,
        |  CAST(ly.sum_y AS BIGINT) AS sum_y, CAST(cr.sum_u AS BIGINT) AS sum_u,
        |  CAST(cr.sum_v AS BIGINT) AS sum_v,
        |  CAST(ly.luma_checksum AS BIGINT) AS luma_checksum,
        |  CAST(coalesce(dl.delta_energy, 0) AS BIGINT) AS delta_energy
        |FROM m JOIN ly ON m.doc_id = ly.doc_id
        |JOIN cr ON m.doc_id = cr.doc_id
        |LEFT JOIN dl ON m.doc_id = dl.doc_id
        |ORDER BY m.doc_id""".stripMargin,
    // independent derivation of the header fields the Spark side PARSES
    // out of the PNG bytes: 8 (sig) + 4 (len) + 4 (type) + 13 (IHDR data)
    // + 4 (crc) = 33 header bytes before the text payload
    "mm_binary_meta" ->
      """SELECT doc_id, 'png' AS format,
        |  CAST(doc_id % 1024 + 1 AS BIGINT) AS width,
        |  CAST(n_chars % 768 + 1 AS BIGINT) AS height,
        |  CAST(8 AS BIGINT) AS bit_depth,
        |  CAST(6 AS BIGINT) AS color_type,
        |  CAST(33 + octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    // independent derivation of the fields the Spark side PARSES out of
    // the RIFF/WAVE bytes: 44-byte canonical header before the samples
    "mm_wav_meta" ->
      """SELECT doc_id, 'wav' AS format,
        |  CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
        |  CAST(8000 + (n_chars % 3) * 4000 AS BIGINT) AS sample_rate,
        |  CAST(16 AS BIGINT) AS bits_per_sample,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS data_len,
        |  CAST(44 + octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    // independent replay of the pixel GENERATOR (not the decoder): the
    // oracle enumerates every (y, x, channel) of each image and computes
    // the same sums/positional checksum the Spark side can only reach by
    // actually inflating + unfiltering the PNG bytes
    // independent replay of the JPEG decode: the fixture's coefficient
    // choice makes the lossy chain exact, so every luma pixel is
    //   vY(bi) + sgn(x%8) * 2 * acm(bi)
    // with vY = 2*((id*7 + bi*13) % 50) + 80, acm = (id+bi)%5 - 2, and
    // sgn the frequency-4 IDCT column pattern [+,-,-,+,+,-,-,+]; chroma
    // planes are constant at quarter resolution (64 samples each). The
    // Spark side can only reach any of this through Huffman -> dequant ->
    // IDCT on the real marker stream.
    "mm_jpeg_decode" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 8 * (doc_id % 3 + 1) ELSE 16 END AS w,
        |    CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS nc
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w, h, nc, y.y AS y, x.x AS x,
        |    CASE WHEN doc_id % 2 = 0 THEN x.x // 8
        |         ELSE (y.y // 8) * 2 + (x.x // 8) END AS bi
        |  FROM m, UNNEST(range(0, h)) AS y(y), UNNEST(range(0, w)) AS x(x)
        |), pv AS (
        |  SELECT doc_id, w, h, nc,
        |    2 * ((doc_id * 7 + bi * 13) % 50) + 80
        |      + (CASE WHEN x % 8 IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        |        * 2 * ((doc_id + bi) % 5 - 2) AS v,
        |    y * w + x AS pos
        |  FROM px
        |)
        |SELECT doc_id, 'jpeg' AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(nc AS BIGINT) AS n_components,
        |  CAST(sum(v) AS BIGINT) AS sum_y,
        |  CAST(CASE WHEN nc = 3
        |    THEN 64 * (2 * ((doc_id * 11) % 40) + 88) END AS BIGINT) AS sum_cb,
        |  CAST(CASE WHEN nc = 3
        |    THEN 64 * (2 * ((doc_id * 17) % 40) + 88) END AS BIGINT) AS sum_cr,
        |  CAST(sum(v * (pos + 1)) AS BIGINT) AS checksum_y
        |FROM pv GROUP BY doc_id, w, h, nc ORDER BY doc_id""".stripMargin,
    // replays the NN mapping sy=⌊ty·h/2⌋, sx=⌊tx·w/2⌋ and evaluates the
    // JPEG pixel formula there (block index from the sampled coords, the
    // frequency-4 ± column pattern applied) — reachable on the Spark
    // side only through the full decode chain + plane indexing
    "mm_jpeg_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 8 * (doc_id % 3 + 1) ELSE 16 END AS w,
        |    CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS h
        |  FROM documents
        |), cells AS (
        |  SELECT doc_id, w, h, ty.ty AS ty, tx.tx AS tx,
        |    (ty.ty * h) // 2 AS sy, (tx.tx * w) // 2 AS sx
        |  FROM m, UNNEST(range(0, 2)) AS ty(ty), UNNEST(range(0, 2)) AS tx(tx)
        |), px AS (
        |  SELECT doc_id, ty, tx, sy, sx,
        |    CASE WHEN doc_id % 2 = 0 THEN sx // 8
        |         ELSE (sy // 8) * 2 + (sx // 8) END AS bi
        |  FROM cells
        |)
        |SELECT doc_id, CAST(ty AS BIGINT) AS ty, CAST(tx AS BIGINT) AS tx,
        |  CAST(sy AS BIGINT) AS sy, CAST(sx AS BIGINT) AS sx,
        |  CAST(2 * ((doc_id * 7 + bi * 13) % 50) + 80
        |    + (CASE WHEN sx % 8 IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
        |      * 2 * ((doc_id + bi) % 5 - 2) AS BIGINT) AS y
        |FROM px ORDER BY doc_id, ty, tx""".stripMargin,
    "mm_png_decode" ->
      """WITH m AS (
        |  SELECT doc_id, doc_id % 16 + 1 AS w, n_chars % 12 + 1 AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS ch
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w, h, ch,
        |    (doc_id * 31 + y.y * 7 + x.x * 5 + c.c * 11) % 256 AS v,
        |    (y.y * w + x.x) * ch + c.c AS pos, c.c AS c
        |  FROM m,
        |    UNNEST(range(0, h)) AS y(y),
        |    UNNEST(range(0, w)) AS x(x),
        |    UNNEST(range(0, ch)) AS c(c)
        |)
        |SELECT doc_id, 'png' AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(ch AS BIGINT) AS channels, CAST(w * h AS BIGINT) AS n_pixels,
        |  CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
        |  CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
        |  CAST(sum(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b,
        |  CAST(sum(CASE WHEN c = 3 THEN v END) AS BIGINT) AS sum_a,
        |  CAST(sum(v * (pos + 1)) AS BIGINT) AS checksum
        |FROM px GROUP BY doc_id, w, h, ch ORDER BY doc_id""".stripMargin,
    // independent replay of the SAMPLE stream: text byte i is PCM byte i,
    // so sample j = ord(byte 2j) + 256·ord(byte 2j+1), two's-complement
    // signed; channel = j mod channels (fixture text is pure ASCII, so
    // ord() = byte value). LEFT JOIN keeps zero-sample docs with NULL
    // stats, matching the decoder's degradation
    "mm_wav_decode" ->
      """WITH m AS (
        |  SELECT doc_id, text, doc_id % 2 + 1 AS ch,
        |    octet_length(CAST(text AS BLOB)) // 2 AS n
        |  FROM documents
        |), sv AS (
        |  SELECT doc_id, ch, j.j AS j,
        |    CASE WHEN ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) >= 32768
        |         THEN ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) - 65536
        |         ELSE ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) END AS v
        |  FROM m, UNNEST(range(0, n)) AS j(j)
        |), agg AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN j % ch = 0 THEN v END) AS s0,
        |    sum(CASE WHEN j % ch = 1 THEN v END) AS s1,
        |    sum(v * v) AS sq, max(abs(v)) AS pk
        |  FROM sv GROUP BY doc_id
        |)
        |SELECT m.doc_id, 'wav' AS format, CAST(m.ch AS BIGINT) AS channels,
        |  CAST(m.n AS BIGINT) AS n_samples,
        |  CAST(a.s0 AS BIGINT) AS sum_ch0, CAST(a.s1 AS BIGINT) AS sum_ch1,
        |  CAST(a.sq AS BIGINT) AS sum_sq, CAST(a.pk AS BIGINT) AS peak
        |FROM m LEFT JOIN agg a ON m.doc_id = a.doc_id
        |ORDER BY m.doc_id""".stripMargin,
    // independent replay of the NN resample: the oracle computes the SAME
    // source coordinates sy = ⌊ty·h/2⌋, sx = ⌊tx·w/2⌋ and evaluates the
    // pixel GENERATOR there — the Spark side can only reach those values
    // by decoding the bytes and indexing the pixel buffer
    "mm_png_resize" ->
      """WITH m AS (
        |  SELECT doc_id, doc_id % 16 + 1 AS w, n_chars % 12 + 1 AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS ch
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, ch, ty.ty AS ty, tx.tx AS tx,
        |    (ty.ty * h) // 2 AS sy, (tx.tx * w) // 2 AS sx
        |  FROM m, UNNEST(range(0, 2)) AS ty(ty), UNNEST(range(0, 2)) AS tx(tx)
        |)
        |SELECT doc_id, CAST(ty AS BIGINT) AS ty, CAST(tx AS BIGINT) AS tx,
        |  CAST(sy AS BIGINT) AS sy, CAST(sx AS BIGINT) AS sx,
        |  CAST((doc_id * 31 + sy * 7 + sx * 5) % 256 AS BIGINT) AS r,
        |  CAST((doc_id * 31 + sy * 7 + sx * 5 + 11) % 256 AS BIGINT) AS g,
        |  CAST((doc_id * 31 + sy * 7 + sx * 5 + 22) % 256 AS BIGINT) AS b,
        |  CAST(CASE WHEN ch = 4 THEN (doc_id * 31 + sy * 7 + sx * 5 + 33) % 256 END AS BIGINT) AS a
        |FROM px ORDER BY doc_id, ty, tx""".stripMargin,
    // independent replay of the zero-crossing / amplitude features from
    // the text byte stream (same sample derivation as mm_wav_decode);
    // lead() pairs consecutive same-channel samples. Sub-channel sums that
    // have rows but no hits coalesce to 0 (matches the decoder's counters);
    // mono ch1 columns and zero-sample docs stay NULL.
    "mm_wav_features" ->
      """WITH m AS (
        |  SELECT doc_id, text, doc_id % 2 + 1 AS ch,
        |    octet_length(CAST(text AS BLOB)) // 2 AS n
        |  FROM documents
        |), sv AS (
        |  SELECT doc_id, ch, j.j AS j, j.j % ch AS c,
        |    CASE WHEN ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) >= 32768
        |         THEN ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) - 65536
        |         ELSE ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) END AS v
        |  FROM m, UNNEST(range(0, n)) AS j(j)
        |), w AS (
        |  SELECT doc_id, c, v,
        |    lead(v) OVER (PARTITION BY doc_id, c ORDER BY j) AS nv
        |  FROM sv
        |), agg AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN c = 0 AND nv IS NOT NULL AND ((v < 0) <> (nv < 0)) THEN 1 END) AS z0,
        |    sum(CASE WHEN c = 1 AND nv IS NOT NULL AND ((v < 0) <> (nv < 0)) THEN 1 END) AS z1,
        |    sum(CASE WHEN c = 0 THEN abs(v) END) AS a0,
        |    sum(CASE WHEN c = 1 THEN abs(v) END) AS a1
        |  FROM w GROUP BY doc_id
        |)
        |SELECT m.doc_id, 'wav' AS format, CAST(m.ch AS BIGINT) AS channels,
        |  CAST(m.n AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN m.n > 0 THEN coalesce(a.z0, 0) END AS BIGINT) AS zc_ch0,
        |  CAST(CASE WHEN m.n > 0 AND m.ch = 2 THEN coalesce(a.z1, 0) END AS BIGINT) AS zc_ch1,
        |  CAST(CASE WHEN m.n > 0 THEN coalesce(a.a0, 0) END AS BIGINT) AS abs_ch0,
        |  CAST(CASE WHEN m.n > 0 AND m.ch = 2 THEN coalesce(a.a1, 0) END AS BIGINT) AS abs_ch1
        |FROM m LEFT JOIN agg a ON m.doc_id = a.doc_id
        |ORDER BY m.doc_id""".stripMargin,
    // independent replay of ALL THREE modality generators: doc_id%3=0
    // through the pixel formula (RGB for even ids, RGBA for odd), %3=1
    // through the PCM byte stream (mono/stereo by id parity), %3=2
    // through the y4m sample formula — unioned into the same per-modality
    // accounting the router computes from the bytes alone
    // replays the dHash generator per sampled (ty, tx) — coefficients
    // from the collapsed content id, the one perturbed cell included —
    // and brute-forces the hamming<=3 pairs; the Spark side can only
    // match by genuinely inflating/unfiltering the PNGs and comparing
    // decoded gray cells (banding recall proven by the pigeonhole spec)
    "mm_dhash_neardup" -> (dhashOracleCte + dhashPairsCte +
      """SELECT a_id, b_id, hamming FROM allpairs
        |ORDER BY a_id, b_id""".stripMargin),
    // keyframe-luma replay + the same collapsed/guarded pair arithmetic
    "mm_video_neardup" -> (videoOracleCte + dhashPairsCte +
      """SELECT a_id, b_id, hamming FROM allpairs
        |ORDER BY a_id, b_id""".stripMargin),
    // replays ALL THREE perceptual signature formulas from the content
    // arithmetic (image Rec.601 dHash bits incl. the near class's forced
    // pixel flip, the 60-bit four-feature audio code with the dup
    // class's 2x gain, video keyframe luma bits) and counts distinct
    // values itself — never decoding a byte
    "pipe_media_dedup_e2e" -> (mediaSigOracleCte +
      """, rep AS (
        |  SELECT 'image' AS modality, count(*) AS n_items,
        |    count(DISTINCT CAST(hi AS VARCHAR) || ':' || CAST(lo AS VARCHAR)) AS n_distinct
        |  FROM ib
        |  UNION ALL
        |  SELECT 'audio', count(*),
        |    count(DISTINCT CAST(hi AS VARCHAR) || ':' || CAST(lo AS VARCHAR))
        |  FROM ab
        |  UNION ALL
        |  SELECT 'video', count(*),
        |    count(DISTINCT CAST(hi AS VARCHAR) || ':' || CAST(lo AS VARCHAR))
        |  FROM vb
        |)
        |SELECT modality, CAST(n_items AS BIGINT) AS n_items,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  CAST(n_items - n_distinct AS BIGINT) AS n_redundant
        |FROM rep ORDER BY modality""".stripMargin),
    // same three-formula replay, then BRUTE-FORCE per-modality pairs
    // (hamming <= 3 for image/video, 60-bit equality for audio),
    // recursive-CTE reachability min-label, keeper = min doc_id — the
    // full cluster/keeper arithmetic the engine's guarded banding + CC
    // must reproduce exactly
    "pipe_media_dedup_cut" -> (mediaClusterOracleCte +
      """SELECT s.doc_id, s.modality,
        |  CAST(coalesce(l.cluster_id, s.doc_id) AS BIGINT) AS cluster_id,
        |  coalesce(l.cluster_id, s.doc_id) = s.doc_id AS keep
        |FROM sig s LEFT JOIN lab l ON s.doc_id = l.doc_id
        |ORDER BY s.doc_id""".stripMargin),
    // the SAME cluster replay rolled into the manifest columns — keep
    // counts, order-insensitive signature XORs, kept id range
    "pipe_media_export" -> (mediaClusterOracleCte +
      """, v AS (
        |  SELECT s.doc_id, s.modality, s.hi, s.lo,
        |    coalesce(l.cluster_id, s.doc_id) = s.doc_id AS keep
        |  FROM sig s LEFT JOIN lab l ON s.doc_id = l.doc_id
        |)
        |SELECT modality,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  CAST(bit_xor(CASE WHEN keep THEN hi END) AS BIGINT) AS sig_hi_xor,
        |  CAST(bit_xor(CASE WHEN keep THEN lo END) AS BIGINT) AS sig_lo_xor,
        |  CAST(min(CASE WHEN keep THEN doc_id END) AS BIGINT) AS min_kept,
        |  CAST(max(CASE WHEN keep THEN doc_id END) AS BIGINT) AS max_kept
        |FROM v GROUP BY modality ORDER BY modality""".stripMargin),
    // recomputes every frame's luma mass from the generator formula
    // ((id*31 + f*13 + y*7 + x*5) % 256 over the id-arithmetic w×h grid)
    // and replays the delta-sign packing — never seeing a stream byte
    "mm_video_fingerprint" ->
      """WITH m AS (
        |  SELECT doc_id, doc_id % 8 + 1 AS w, n_chars % 6 + 1 AS h,
        |    n_chars % 3 + 2 AS nf
        |  FROM documents
        |), e AS (
        |  SELECT doc_id, nf, f.f AS f,
        |    sum((doc_id*31 + f.f*13 + y.y*7 + x.x*5) % 256) AS mass
        |  FROM m, UNNEST(range(0, nf)) AS f(f),
        |    UNNEST(range(0, h)) AS y(y), UNNEST(range(0, w)) AS x(x)
        |  GROUP BY doc_id, nf, f.f
        |), fp AS (
        |  SELECT l.doc_id, l.nf,
        |    sum(CASE WHEN l.mass > r.mass THEN (1::BIGINT << l.f) ELSE 0 END) AS fpv
        |  FROM e l JOIN e r ON l.doc_id = r.doc_id AND r.f = l.f + 1
        |  GROUP BY l.doc_id, l.nf
        |)
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(fpv AS BIGINT) AS fingerprint
        |FROM fp ORDER BY doc_id""".stripMargin,
    // batch-vs-corpus replay: brute-forces every (new, old) pair at
    // hamming <= 3 from the generator hashes (proving the asymmetric
    // banding's recall), then the same rank-1 (hamming, dup_of) pick
    "mm_dhash_incr" -> (dhashOracleCte +
      """, nw AS (SELECT * FROM b WHERE doc_id % 10 >= 8),
        |old AS (SELECT * FROM b WHERE doc_id % 10 <= 7),
        |cand AS (
        |  SELECT nw.doc_id AS doc_new, old.doc_id AS dup_of,
        |    CAST(bit_count(xor(nw.hash_hi, old.hash_hi))
        |       + bit_count(xor(nw.hash_lo, old.hash_lo)) AS BIGINT) AS hamming
        |  FROM nw JOIN old ON bit_count(xor(nw.hash_hi, old.hash_hi))
        |       + bit_count(xor(nw.hash_lo, old.hash_lo)) <= 3
        |)
        |SELECT doc_new, dup_of, hamming FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_new ORDER BY hamming, dup_of) AS rn FROM cand)
        |WHERE rn = 1 ORDER BY doc_new""".stripMargin),
    // the cross-modality incremental replay: all three signature
    // formulas, batch (doc_id % 10 = 0) brute-forced against the corpus
    // remainder per modality (equality-only for audio), same rank-1 pick
    "pipe_media_dedup_incr" -> (mediaSigOracleCte +
      """, sg AS (
        |  SELECT doc_id, 'image' AS modality, hi, lo FROM ib
        |  UNION ALL SELECT doc_id, 'video', hi, lo FROM vb
        |  UNION ALL SELECT doc_id, 'audio', hi, lo FROM ab
        |), nw AS (SELECT * FROM sg WHERE doc_id % 10 = 0),
        |old AS (SELECT * FROM sg WHERE doc_id % 10 <> 0),
        |cand AS (
        |  SELECT nw.doc_id AS doc_new, nw.modality, old.doc_id AS dup_of,
        |    CAST(bit_count(xor(nw.hi, old.hi))
        |       + bit_count(xor(nw.lo, old.lo)) AS BIGINT) AS hamming
        |  FROM nw JOIN old ON nw.modality = old.modality
        |  WHERE CASE WHEN nw.modality = 'audio'
        |          THEN nw.hi = old.hi AND nw.lo = old.lo
        |        ELSE bit_count(xor(nw.hi, old.hi))
        |           + bit_count(xor(nw.lo, old.lo)) <= 3 END
        |)
        |SELECT doc_new, modality, dup_of, hamming FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_new ORDER BY hamming, dup_of) AS rn FROM cand)
        |WHERE rn = 1 ORDER BY doc_new""".stripMargin),
    // same collapsed/guarded pair replay + recursive-CTE reachability
    // min-label (the clustersOracle pattern) + per-cluster membership
    // aggregates
    "pipe_image_dedup_e2e" -> (dhashOracleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      dhashPairsCte +
      """, pairs AS (
        |  SELECT a_id AS doc_a, b_id AS doc_b FROM allpairs
        |), adj AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs
        |), nodes AS (SELECT DISTINCT src AS doc_id FROM adj
        |), reach AS (
        |  SELECT doc_id AS a, doc_id AS b FROM nodes
        |  UNION SELECT r.a, adj.dst FROM reach r JOIN adj ON r.b = adj.src
        |), lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
        |SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_member_ids,
        |  CAST(max(doc_id) AS BIGINT) AS max_member_id
        |FROM lab GROUP BY cluster_id ORDER BY cluster_id""".stripMargin),
    // recomputes every channel-0 sample from the text's byte values (the
    // mm_wav_decode idiom), bins |v| into the 16 ⌊f·16/nf⌋ windows, and
    // rebuilds the 15 energy-delta bits — never seeing the framed bytes
    "mm_wav_fingerprint" ->
      """WITH m AS (
        |  SELECT doc_id, text, doc_id % 2 + 1 AS ch,
        |    octet_length(CAST(text AS BLOB)) // 2 AS n
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, (j.j // ch) AS fi, (n + ch - 1) // ch AS nf,
        |    abs(CASE WHEN ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) >= 32768
        |         THEN ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) - 65536
        |         ELSE ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) END) AS a
        |  FROM m, UNNEST(range(0, n)) AS j(j)
        |  WHERE j.j % ch = 0
        |), e AS (
        |  SELECT doc_id, nf, (fi * 16) // nf AS w, sum(a) AS ew
        |  FROM f GROUP BY doc_id, nf, (fi * 16) // nf
        |), fp AS (
        |  SELECT l.doc_id, l.nf,
        |    sum(CASE WHEN l.ew > coalesce(r.ew, 0) THEN (1::BIGINT << l.w) ELSE 0 END) AS fpv
        |  FROM e l LEFT JOIN e r ON l.doc_id = r.doc_id AND r.w = l.w + 1
        |  WHERE l.w < 15
        |  GROUP BY l.doc_id, l.nf
        |)
        |SELECT m.doc_id, CAST(fp.nf AS BIGINT) AS n_frames,
        |  CAST(fp.fpv AS BIGINT) AS fingerprint
        |FROM m JOIN fp ON m.doc_id = fp.doc_id
        |ORDER BY m.doc_id""".stripMargin,
    // the widened form: same per-sample replay, plus lag()-built first
    // and second differences and the per-window max — all four feature
    // chunks rebuilt bit-for-bit from the text bytes
    "mm_wav_fingerprint60" ->
      """WITH m AS (
        |  SELECT doc_id, text, doc_id % 2 + 1 AS ch,
        |    octet_length(CAST(text AS BLOB)) // 2 AS n
        |  FROM documents
        |), f0 AS (
        |  SELECT doc_id, (j.j // ch) AS fi, (n + ch - 1) // ch AS nf,
        |    CASE WHEN ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) >= 32768
        |         THEN ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) - 65536
        |         ELSE ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) END AS v
        |  FROM m, UNNEST(range(0, n)) AS j(j)
        |  WHERE j.j % ch = 0
        |), f AS (
        |  SELECT doc_id, fi, nf, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY fi) AS pv,
        |    lag(v, 2) OVER (PARTITION BY doc_id ORDER BY fi) AS pv2
        |  FROM f0
        |), e AS (
        |  SELECT doc_id, nf, (fi * 16) // nf AS w,
        |    sum(abs(v)) AS e0,
        |    sum(CASE WHEN fi >= 1 THEN abs(v - pv) ELSE 0 END) AS e1,
        |    sum(CASE WHEN fi >= 2 THEN abs(v - 2 * pv + pv2) ELSE 0 END) AS e2,
        |    max(abs(v)) AS e3
        |  FROM f GROUP BY doc_id, nf, (fi * 16) // nf
        |), fp AS (
        |  SELECT l.doc_id, l.nf,
        |    sum(CASE WHEN l.e2 > coalesce(r.e2, 0) THEN (1::BIGINT << l.w) ELSE 0 END)
        |      + sum(CASE WHEN l.e3 > coalesce(r.e3, 0) THEN (1::BIGINT << (16 + l.w)) ELSE 0 END) AS hi,
        |    sum(CASE WHEN l.e0 > coalesce(r.e0, 0) THEN (1::BIGINT << l.w) ELSE 0 END)
        |      + sum(CASE WHEN l.e1 > coalesce(r.e1, 0) THEN (1::BIGINT << (16 + l.w)) ELSE 0 END) AS lo
        |  FROM e l LEFT JOIN e r ON l.doc_id = r.doc_id AND r.w = l.w + 1
        |  WHERE l.w < 15
        |  GROUP BY l.doc_id, l.nf
        |)
        |SELECT m.doc_id, CAST(fp.nf AS BIGINT) AS n_frames,
        |  CAST(fp.hi AS BIGINT) AS sig_hi, CAST(fp.lo AS BIGINT) AS sig_lo
        |FROM m JOIN fp ON m.doc_id = fp.doc_id
        |ORDER BY m.doc_id""".stripMargin,
    // one 60-bit replay covers BOTH widths: the 15-bit code is chunk 0
    // of the 60-bit lo (identical e0 window comparisons), so distinct
    // counting lo & 32767 reproduces the narrow decoder's merges
    "mm_wav_overmerge" -> (mediaSigOracleCte +
      """, pl AS (
        |  SELECT count(*) AS n_planted FROM documents
        |  WHERE doc_id % 3 = 1 AND (doc_id // 3) % 8 = 7 AND doc_id // 3 >= 7
        |), r AS (
        |  SELECT 15 AS width_bits, count(*) AS n_items,
        |    count(DISTINCT lo & 32767) AS n_distinct FROM ab
        |  UNION ALL
        |  SELECT 60, count(*),
        |    count(DISTINCT CAST(hi AS VARCHAR) || ':' || CAST(lo AS VARCHAR))
        |  FROM ab
        |)
        |SELECT CAST(width_bits AS BIGINT) AS width_bits,
        |  CAST(n_items AS BIGINT) AS n_items,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  CAST(n_items - n_distinct AS BIGINT) AS n_redundant,
        |  CAST(pl.n_planted AS BIGINT) AS n_planted,
        |  CAST(n_items - n_distinct - pl.n_planted AS BIGINT) AS over_merge
        |FROM r, pl ORDER BY width_bits""".stripMargin),
    "pipe_multimodal_e2e" ->
      """WITH di AS (
        |  SELECT doc_id, doc_id % 16 + 1 AS w, n_chars % 12 + 1 AS h,
        |    CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS ch
        |  FROM documents WHERE doc_id % 4 = 0
        |), img AS (
        |  SELECT doc_id, w * h AS units,
        |    sum((doc_id * 31 + y.y * 7 + x.x * 5 + c.c * 11) % 256) AS mass
        |  FROM di, UNNEST(range(0, h)) AS y(y), UNNEST(range(0, w)) AS x(x),
        |    UNNEST(range(0, ch)) AS c(c)
        |  GROUP BY doc_id, w, h
        |), da AS (
        |  SELECT doc_id, text, octet_length(CAST(text AS BLOB)) // 2 AS n
        |  FROM documents WHERE doc_id % 4 = 1
        |), asum AS (
        |  SELECT doc_id, sum(abs(v)) AS mass FROM (
        |    SELECT doc_id,
        |      CASE WHEN ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) >= 32768
        |           THEN ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) - 65536
        |           ELSE ord(substr(text, 2 * j.j + 1, 1)) + 256 * ord(substr(text, 2 * j.j + 2, 1)) END AS v
        |    FROM da, UNNEST(range(0, n)) AS j(j))
        |  GROUP BY doc_id
        |), aud AS (
        |  SELECT da.doc_id, da.n AS units, coalesce(asum.mass, 0) AS mass
        |  FROM da LEFT JOIN asum ON da.doc_id = asum.doc_id
        |), dv AS (
        |  SELECT doc_id, doc_id % 8 + 1 AS w, n_chars % 6 + 1 AS h,
        |    n_chars % 3 + 2 AS nf
        |  FROM documents WHERE doc_id % 4 = 2
        |), vid AS (
        |  SELECT doc_id, w * h * nf AS units,
        |    sum((doc_id * 31 + f.f * 13 + p.p * 17 + y.y * 7 + x.x * 5) % 256) AS mass
        |  FROM dv, UNNEST(range(0, nf)) AS f(f), UNNEST(range(0, 3)) AS p(p),
        |    UNNEST(range(0, h)) AS y(y), UNNEST(range(0, w)) AS x(x)
        |  GROUP BY doc_id, w, h, nf
        |), jpg AS (
        |  -- doc_id % 4 = 3 is always odd: the 16x16 4:2:0 colour shape.
        |  -- Luma mass: the AC pattern cancels over full rows, so each
        |  -- block contributes 64*vY(bi); chroma adds 64*vCb + 64*vCr at
        |  -- quarter resolution. units = luma pixels (16*16).
        |  SELECT doc_id, 256 AS units,
        |    sum(64 * (2 * ((doc_id * 7 + b.b * 13) % 50) + 80))
        |      + 64 * (2 * ((doc_id * 11) % 40) + 88)
        |      + 64 * (2 * ((doc_id * 17) % 40) + 88) AS mass
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 3) dj,
        |    UNNEST(range(0, 4)) AS b(b)
        |  GROUP BY doc_id
        |), u AS (
        |  SELECT 'image' AS modality, units, mass FROM img
        |  UNION ALL SELECT 'image' AS modality, units, mass FROM jpg
        |  UNION ALL SELECT 'audio' AS modality, units, mass FROM aud
        |  UNION ALL SELECT 'video' AS modality, units, mass FROM vid
        |)
        |SELECT modality, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(units) AS BIGINT) AS total_units,
        |  CAST(sum(mass) AS BIGINT) AS total_mass,
        |  CAST(max(units) AS BIGINT) AS max_units
        |FROM u GROUP BY modality ORDER BY modality""".stripMargin)
}
