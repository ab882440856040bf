package graft

import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.functions._

/** Smoke + semantics checks for the oracle-checked query inventory at
  * sf0.001 (the full value-level gate is scripts/oracle_check.py vs DuckDB).
  */
class OperatorSmokeSpec extends SparkSuiteBase {

  test("every declared query has an oracle or is explicitly oracle-free") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without queries: $orphans")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries execute and are non-degenerate at sf0.001") {
    val allowedEmpty = Set("q_join_anti", "dedup_ngram_jaccard",
      "dedup_minhash_pairs", "sim_pairs_block")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf0001).count()
      assert(n >= 0, s"$name failed")
      if (!allowedEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("no query's physical plan contains an unbounded cartesian product") {
    // crossJoin in this library is ALWAYS crossJoin(broadcast(<bounded>))
    // — it plans as BroadcastNestedLoopJoin over a 1-row/codebook-sized
    // side. A plain CartesianProduct means a broadcast hint was lost and
    // the query would do |A|·|B| work at scale.
    val offenders = SparkEntry.queries.flatMap { case (name, fn) =>
      // a query whose plan fails to BUILD is an offender too — swallowing
      // the throw would silently pass the no-CartesianProduct check
      try {
        val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(s"$name (cartesian)") else None
      } catch {
        case e: Throwable => Some(s"$name (plan failed: ${e.getMessage})")
      }
    }
    assert(offenders.isEmpty,
      s"cartesian product or broken plan in: ${offenders.mkString(", ")}")
  }

  test("tx_array_unpack branch logic: short arrays fall back positionally") {
    val rows = SparkEntry.queries("tx_array_unpack")(spark, sf0001)
      .filter(col("n_params") === 2).limit(5).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("transaction_id")))
      assert(!r.isNullAt(r.fieldIndex("transaction_number")))
      assert(!r.isNullAt(r.fieldIndex("product_id")))
    }
  }

  test("sh_raw_typed_load: try_cast yields null on garbage, value on numerics") {
    val rows = SparkEntry.queries("sh_raw_typed_load")(spark, sf0001).limit(10).collect()
    rows.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("bad_num"))) // event_type never numeric
      assert(!r.isNullAt(r.fieldIndex("user_id")))
    }
  }

  test("MediaHeader.sniff: parses a real PNG IHDR, rejects corrupt CRC and non-PNG bytes") {
    import graft.operators.Multimodal.MediaHeader
    // hand-build a real PNG header: signature + IHDR(640x480, depth 8, RGBA)
    def be4(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val typePlusData = "IHDR".getBytes("US-ASCII") ++ be4(640) ++ be4(480) ++
      Array[Byte](8, 6, 0, 0, 0)
    val crc = new java.util.zip.CRC32(); crc.update(typePlusData)
    val png = MediaHeader.PngSignature ++ be4(13) ++ typePlusData ++
      be4(crc.getValue) ++ "payload-tail".getBytes
    assert(MediaHeader.sniff(png) ==
      MediaHeader.Parsed("png", Some(640), Some(480), Some(8), Some(6)))
    // flip one IHDR data byte without fixing the CRC -> corrupt, fields withheld
    val corrupt = png.clone(); corrupt(18) = (corrupt(18) ^ 1).toByte
    assert(MediaHeader.sniff(corrupt).format == "png-corrupt")
    assert(MediaHeader.sniff(corrupt).width.isEmpty)
    // non-PNG bytes -> raw
    assert(MediaHeader.sniff("just some text".getBytes).format == "raw")
    assert(MediaHeader.sniff(Array[Byte](1, 2, 3)).format == "raw")
    // a valid signature TRUNCATED before IHDR is corrupt, not raw
    assert(MediaHeader.sniff(png.take(20)).format == "png-corrupt")
    assert(MediaHeader.sniff(MediaHeader.PngSignature).format == "png-corrupt")
  }

  test("PNG header parse: Arrow path is row-identical to the row path") {
    val media = Multimodal.attachPngMedia(Tables.documents(spark, sf0001))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toList
    val parsed = canon(Multimodal.parseHeaders(media))
    assert(parsed.nonEmpty)
    // every fixture payload round-trips: built as a valid PNG, parsed as one
    assert(parsed.forall(_(1) == "png"))
  }

  test("WavHeader.sniff: parses a real RIFF/WAVE header, rejects inconsistent fmt and non-RIFF bytes") {
    import graft.operators.Multimodal.WavHeader
    // hand-build a real 2-channel 16 kHz 16-bit PCM wav with LE framing
    val data = "pcm-sample-bytes".getBytes
    val bb = java.nio.ByteBuffer.allocate(44 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(2)
      .putInt(16000).putInt(16000 * 2 * 2).putShort(4).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
    val wav = bb.array()
    assert(WavHeader.sniff(wav) ==
      WavHeader.Parsed("wav", Some(2), Some(16000), Some(16), Some(data.length.toLong)))
    // flip a byteRate byte: fails the rate*channels*bits/8 consistency
    // check (the WAV twin of a bad CRC) -> corrupt, fields withheld
    val corrupt = wav.clone(); corrupt(28) = (corrupt(28) ^ 1).toByte
    assert(WavHeader.sniff(corrupt).format == "wav-corrupt")
    assert(WavHeader.sniff(corrupt).channels.isEmpty)
    // non-RIFF bytes -> raw
    assert(WavHeader.sniff("not audio at all, just text padding".getBytes).format == "raw")
    assert(WavHeader.sniff(Array[Byte](1, 2, 3)).format == "raw")
    // a RIFF/WAVE frame TRUNCATED before the fmt/data chunks is corrupt
    assert(WavHeader.sniff(wav.take(20)).format == "wav-corrupt")
    assert(WavHeader.sniff(wav.take(12)).format == "wav-corrupt")
  }

  test("WAV header parse: Arrow path is row-identical to the row path") {
    val media = Multimodal.attachWavMedia(Tables.documents(spark, sf0001))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toList
    val parsed = canon(Multimodal.parseWavHeaders(media))
    assert(parsed.nonEmpty)
    // every fixture payload round-trips: built as a valid wav, parsed as one
    assert(parsed.forall(_(1) == "wav"))
  }

  test("PngCodec: encode/decode round-trips exact pixels across all five filters and both color types") {
    import graft.operators.Multimodal.PngCodec
    // heights ≥ 5 exercise every filter type (encoder rotates y % 5);
    // width 1 exercises the no-left-neighbor edge of Sub/Average/Paeth
    for {
      (w, h) <- Seq((1, 7), (3, 5), (16, 12), (5, 1))
      colorType <- Seq(2, 6)
    } {
      val ch = if (colorType == 2) 3 else 4
      def px(y: Int, x: Int, c: Int): Int = (y * 131 + x * 17 + c * 29 + 7) % 256
      val bytes = PngCodec.encode(w, h, colorType, px)
      val d = PngCodec.decode(bytes).fold(e => fail(s"decode($w x $h ct$colorType): $e"), identity)
      assert((d.width, d.height, d.channels) == (w, h, ch))
      for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
        assert((d.pixels((y * w + x) * ch + c) & 0xff) == px(y, x, c),
          s"pixel ($y,$x,$c) of $w x $h ct$colorType")
    }
  }

  test("PngCodec.decode: corrupt payloads degrade to typed reasons, never garbage pixels") {
    import graft.operators.Multimodal.PngCodec
    val good = PngCodec.encode(8, 6, 6, (y, x, c) => (y + x + c) % 256)
    assert(PngCodec.decode(good).isRight)
    // flipped IDAT byte: per-chunk CRC catches it before inflate runs
    val flipped = good.clone()
    flipped(good.length - 20) = (flipped(good.length - 20) ^ 0x55).toByte
    assert(PngCodec.decode(flipped).swap.exists(_.contains("crc mismatch")))
    // truncation mid-chunk
    assert(PngCodec.decode(java.util.Arrays.copyOf(good, good.length - 5)).isLeft)
    assert(PngCodec.decode(java.util.Arrays.copyOf(good, 20)).isLeft)
    // not a PNG at all
    assert(PngCodec.decode("plain text".getBytes).swap.exists(_.contains("signature")))
    // unsupported color type (grayscale = 0), CRC recomputed so only the
    // IHDR check can reject it
    val gray = PngCodec.encode(4, 4, 2, (_, _, _) => 0).clone()
    gray(25) = 0 // color type byte inside IHDR
    val crc = new java.util.zip.CRC32(); crc.update(gray, 12, 17)
    val c = crc.getValue
    gray(29) = ((c >> 24) & 0xff).toByte; gray(30) = ((c >> 16) & 0xff).toByte
    gray(31) = ((c >> 8) & 0xff).toByte; gray(32) = (c & 0xff).toByte
    assert(PngCodec.decode(gray).swap.exists(_.contains("unsupported")))
    // crafted IHDR claiming huge dimensions over a tiny IDAT: the
    // plausibility gate must reject BEFORE allocating (zlib can't exceed
    // ~1032:1), keeping the typed-Left contract instead of an OOM Error
    val huge = PngCodec.encode(4, 4, 6, (_, _, _) => 0).clone()
    def putBe4(off: Int, v: Long): Unit = {
      huge(off) = ((v >> 24) & 0xff).toByte; huge(off + 1) = ((v >> 16) & 0xff).toByte
      huge(off + 2) = ((v >> 8) & 0xff).toByte; huge(off + 3) = (v & 0xff).toByte
    }
    putBe4(16, 16000); putBe4(20, 16000) // width, height inside IHDR
    val crc2 = new java.util.zip.CRC32(); crc2.update(huge, 12, 17)
    putBe4(29, crc2.getValue)
    assert(PngCodec.decode(huge).swap.exists(e =>
      e.contains("implausible") || e.contains("exceed")))
  }

  test("mm_png_decode: decoded pixel sums equal an independent replay of the generator formula") {
    val got = Multimodal.queries("mm_png_decode")(spark, sf0001).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getString(1) == "png"), "every fixture payload must decode")
    val docs = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("n_chars").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = ((id % 16 + 1).toInt, (docs(id) % 12 + 1).toInt)
      val ch = if (id % 2 == 0) 3 else 4
      var sums = new Array[Long](4); var checksum = 0L
      for (y <- 0 until h; x <- 0 until w; c <- 0 until ch) {
        val v = (id * 31 + y * 7 + x * 5 + c * 11) % 256
        sums(c) += v
        checksum += v * ((y.toLong * w + x) * ch + c + 1)
      }
      assert((r.getLong(2), r.getLong(3), r.getLong(4)) == (w.toLong, h.toLong, ch.toLong))
      assert(r.getLong(6) == sums(0) && r.getLong(7) == sums(1) && r.getLong(8) == sums(2))
      assert(if (ch == 4) r.getLong(9) == sums(3) else r.isNullAt(9))
      assert(r.getLong(10) == checksum, s"checksum doc $id")
    }
  }

  test("WAV PCM decode: signed samples, channel de-interleave, odd trailing byte, corrupt degrade") {
    import graft.operators.Multimodal
    // hand-build a stereo 16-bit wav whose samples exercise what the
    // ASCII-text fixture cannot: negative samples (high byte ≥ 0x80),
    // extremes, and an odd trailing byte that must be ignored
    def wav(channels: Int, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(channels.toShort)
        .putInt(16000).putInt(16000 * channels * 2).putShort((channels * 2).toShort)
        .putShort(16)
      bb.put("data".getBytes).putInt(data.length).put(data)
      bb.array()
    }
    // samples: +1, -1 (0xFFFF), -32768 (0x0080 LE), +32767 (0xFF7F LE), then one odd byte
    val data = Array[Byte](1, 0, -1, -1, 0, -128, -1, 127, 42)
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(7L, wav(2, data)))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType))))
    val r = Multimodal.decodeWav(media).collect().head
    assert(r.getString(1) == "wav" && r.getLong(2) == 2L)
    assert(r.getLong(3) == 4L, "odd trailing byte must not count as a sample")
    // de-interleave: ch0 = samples 0,2 = 1 + (-32768); ch1 = samples 1,3 = -1 + 32767
    assert(r.getLong(4) == 1L - 32768L)
    assert(r.getLong(5) == -1L + 32767L)
    assert(r.getLong(6) == 1L + 1L + 32768L * 32768L + 32767L * 32767L)
    assert(r.getLong(7) == 32768L)
    // corrupt: flipped byteRate fails the fmt arithmetic check → typed degrade
    val bad = wav(2, data); bad(28) = (bad(28) ^ 1).toByte
    val rb = Multimodal.decodeWav(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(8L, bad))),
      media.schema)).collect().head
    assert(rb.getString(1) == "wav-corrupt" && rb.isNullAt(3))
    // zero-channel header satisfies the byteRate/blockAlign identities
    // trivially (0 == 0) — must be rejected structurally, not crash the
    // de-interleave with a divide-by-zero
    val zeroCh = {
      val bb = java.nio.ByteBuffer.allocate(44 + 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + 4).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(0)
        .putInt(16000).putInt(0).putShort(0).putShort(16)
      bb.put("data".getBytes).putInt(4).put(Array[Byte](1, 2, 3, 4))
      bb.array()
    }
    assert(graft.operators.Multimodal.WavHeader.sniff(zeroCh).format == "wav-corrupt")
    // a VALID wav at a bit depth this decoder doesn't implement degrades
    // typed instead of decoding garbage labeled "wav"
    val eightBit = {
      val d8 = Array[Byte](10, 20, 30, 40)
      val bb = java.nio.ByteBuffer.allocate(44 + d8.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + d8.length).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(2)
        .putInt(16000).putInt(16000 * 2).putShort(2).putShort(8)
      bb.put("data".getBytes).putInt(d8.length).put(d8)
      bb.array()
    }
    val r8b = Multimodal.decodeWav(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(9L, eightBit))),
      media.schema)).collect().head
    assert(r8b.getString(1) == "wav-unsupported" && r8b.isNullAt(2))
  }

  test("PNG NN resize: picks the exact source pixels, upsamples 1x1, corrupt → zero rows, Arrow == row") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.PngCodec
    val mediaSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType)))
    def mediaOf(rows: Seq[(Long, Array[Byte])]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, b) =>
        org.apache.spark.sql.Row(id, b) }),
      mediaSchema)
    // 4×2 RGB with per-pixel-distinct values: NN to 2×2 must pick source
    // pixels (0,0), (0,2), (1,0), (1,2) — any off-by-one or stride bug
    // lands on a different (y*64 + x*16 + c) value
    val bytes = PngCodec.encode(4, 2, 2, (y, x, c) => y * 64 + x * 16 + c)
    val got = Multimodal.resizePng(mediaOf(Seq((1L, bytes))))
      .orderBy("ty", "tx").collect()
    assert(got.length == 4)
    val expect = Seq((0, 0), (0, 2), (1, 0), (1, 2)).zip(got).map {
      case ((sy, sx), r) =>
        assert((r.getLong(3), r.getLong(4)) == (sy.toLong, sx.toLong))
        assert((r.getLong(5), r.getLong(6), r.getLong(7)) ==
          ((sy * 64 + sx * 16).toLong, (sy * 64 + sx * 16 + 1).toLong,
            (sy * 64 + sx * 16 + 2).toLong))
        assert(r.isNullAt(8), "RGB image has no alpha")
    }
    assert(expect.length == 4)
    // 1×1 RGBA upsamples: all four thumbnail cells read pixel (0,0)
    val one = PngCodec.encode(1, 1, 6, (_, _, c) => 40 + c)
    val up = Multimodal.resizePng(mediaOf(Seq((2L, one)))).collect()
    assert(up.length == 4)
    up.foreach { r =>
      assert((r.getLong(3), r.getLong(4)) == (0L, 0L))
      assert((r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)) ==
        (40L, 41L, 42L, 43L))
    }
    // corrupt payload degrades to ZERO rows, never garbage cells
    val bad = bytes.clone(); bad(bytes.length - 6) = (bad(bytes.length - 6) ^ 1).toByte
    assert(Multimodal.resizePng(mediaOf(Seq((3L, bad)))).collect().isEmpty)
  }

  test("WAV features: zero crossings + |v| mass replay planted sign changes; v = 0 counts non-negative") {
    import graft.operators.Multimodal
    def wav(channels: Int, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(channels.toShort)
        .putInt(16000).putInt(16000 * channels * 2).putShort((channels * 2).toShort)
        .putShort(16)
      bb.put("data".getBytes).putInt(data.length).put(data)
      bb.array()
    }
    val mediaSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType)))
    def mediaOf(id: Long, b: Array[Byte]) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(id, b))),
      mediaSchema)
    // stereo, interleaved samples: ch0 = [+1, -32768, +5] (2 crossings),
    // ch1 = [-1, +32767] (1 crossing)
    val data = Array[Byte](1, 0, -1, -1, 0, -128, -1, 127, 5, 0)
    val r = Multimodal.wavFeatures(mediaOf(7L, wav(2, data))).collect().head
    assert(r.getString(1) == "wav" && r.getLong(2) == 2L && r.getLong(3) == 5L)
    assert(r.getLong(4) == 2L, "ch0 crossings: +1→-32768, -32768→+5")
    assert(r.getLong(5) == 1L, "ch1 crossings: -1→+32767")
    assert(r.getLong(6) == 1L + 32768L + 5L)
    assert(r.getLong(7) == 1L + 32767L)
    // mono with zeros: [0, -1, 0, +1] — 0 counts non-negative, so
    // crossings are 0→-1 and -1→0; ch1 columns stay NULL
    val mono = Array[Byte](0, 0, -1, -1, 0, 0, 1, 0)
    val rm = Multimodal.wavFeatures(mediaOf(8L, wav(1, mono))).collect().head
    assert(rm.getLong(2) == 1L && rm.getLong(3) == 4L)
    assert(rm.getLong(4) == 2L, "v = 0 must count as non-negative")
    assert(rm.isNullAt(5) && rm.isNullAt(7))
    assert(rm.getLong(6) == 0L + 1L + 0L + 1L)
    // degradation contract matches the decoder: corrupt fmt → typed class
    val bad = wav(2, data); bad(28) = (bad(28) ^ 1).toByte
    val rb = Multimodal.wavFeatures(mediaOf(9L, bad)).collect().head
    assert(rb.getString(1) == "wav-corrupt" && rb.isNullAt(4))
  }

  test("multimodal router: modality from bytes alone, recomposition parity, raw degrade, Arrow == row") {
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, sf0001)
    val media = Multimodal.attachMixedMedia(docs)
    val routed = Multimodal.routeMixed(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(routed.nonEmpty)
    // parity of the id only DECIDED which generator ran; the router
    // itself classifies from the bytes — every class must line up
    routed.foreach { case (id, r) =>
      val expected = (id % 4) match {
        case 0 => "image"; case 1 => "audio"; case 2 => "video"
        case _ => "image" // JPEG routes to the same modality as PNG
      }
      assert(r.getString(1) == expected,
        s"doc $id misrouted as ${r.getString(1)}")
    }
    // image units are the real decode's pixel count (PNG formula dims for
    // the %4=0 docs; JPEG %4=3 docs are all odd -> the 16x16 colour shape)
    val nChars = docs.select(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("n_chars").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    routed.filter(_._2.getString(1) == "image").foreach { case (id, r) =>
      if (id % 4 == 0)
        assert(r.getLong(2) == (id % 16 + 1) * (nChars(id) % 12 + 1))
      else
        assert(r.getLong(2) == 256L, s"jpeg doc $id units")
    }
    // video units are the real decode's luma-pixel count across frames
    routed.filter(_._2.getString(1) == "video").foreach { case (id, r) =>
      assert(r.getLong(2) ==
        (id % 8 + 1) * (nChars(id) % 6 + 1) * (nChars(id) % 3 + 2))
    }
    // audio stats recompose from the independently-spec'd wav features
    val audioDocs = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 4 === 1)
    val wf = Multimodal.wavFeatures(Multimodal.attachWavMedia(audioDocs)).collect()
      .map(r => r.getLong(0) -> r).toMap
    routed.filter(_._2.getString(1) == "audio").foreach { case (id, r) =>
      val f = wf(id)
      val mass =
        if (f.getLong(3) == 0L) 0L
        else f.getLong(6) + (if (!f.isNullAt(7)) f.getLong(7) else 0L)
      assert(r.getLong(2) == f.getLong(3) && r.getLong(3) == mass)
    }
    // a payload that is neither modality: typed class, stats withheld
    val rawMedia = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(999L, "not media at all, just text padding".getBytes))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType))))
    val rr = Multimodal.routeMixed(rawMedia).collect().head
    assert(rr.getString(1) == "raw" && rr.isNullAt(2) && rr.isNullAt(3))
  }

  test("minhash calibration: buckets recompose from signatures + verified pairs, estimator monotone") {
    val rows = SparkEntry.queries("dedup_minhash_calibration")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (lanes, n, _, implied) =>
      assert(implied == lanes * 125000L && n > 0 && lanes >= 0 && lanes <= 8)
    }
    // calibration direction: more agreeing lanes ⇒ (weakly) higher mean
    // exact jaccard — the property the estimator exists to have
    val means = rows.sortBy(_._1).map(_._3).toSeq
    assert(means == means.sorted,
      s"estimator must be monotone on the fixture, got $means")
    // bucket populations recompose from the two independently-oracled
    // queries: signature lanes + the verified candidate pair list
    val sig = SparkEntry.queries("dedup_minhash_sig")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    val pairs = SparkEntry.queries("dedup_verify_candidates")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byLanes = pairs.groupBy { case (a, b) =>
      sig(a).zip(sig(b)).count(t => t._1 == t._2).toLong
    }.view.mapValues(_.length.toLong).toMap
    assert(rows.map(r => r._1 -> r._2).toMap == byLanes)
  }

  test("evt_user_features: every field replays sequentially per user") {
    val rows = SparkEntry.queries("evt_user_features")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("ts")).as("day"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getString(2), r.getDouble(3)))
    val refDay = ev.map(_._2).max
    val byUser = ev.groupBy(_._1)
    assert(rows.map(_.getLong(0)).toSet == byUser.keySet)
    rows.foreach { r =>
      val es = byUser(r.getLong(0))
      def daysAgo(d: java.time.LocalDate): Long =
        java.time.temporal.ChronoUnit.DAYS.between(d, refDay)
      def cents(v: Double): Long = math.round(v * 100)
      assert(r.getLong(1) == es.length.toLong)
      assert(r.getLong(2) == es.map(_._2).distinct.length.toLong)
      // windowed day-bitmap: distinct days with days_ago in [0, 62]
      assert(r.getLong(3) ==
        es.map(e => daysAgo(e._2)).filter(_ <= 62).distinct.length.toLong)
      assert(r.getLong(4) == es.map(_._3).distinct.length.toLong)
      assert(r.getLong(5) == es.count(_._3 == "purchase").toLong)
      assert(r.getLong(6) == es.filter(_._3 == "purchase").map(e => cents(e._4)).sum)
      assert(r.getLong(7) == es.map(e => daysAgo(e._2)).min)
      assert(r.getLong(8) == es.map(e => daysAgo(e._2)).max)
      assert(r.getLong(9) == es.map { e =>
        val d = daysAgo(e._2)
        if (d >= 63) 0L else cents(e._4) >> d.toInt
      }.sum)
      // two-long bitmap horizon: distinct days with days_ago in [0, 125]
      assert(r.getLong(r.fieldIndex("active_days_w18")) ==
        es.map(e => daysAgo(e._2)).filter(_ <= 125).distinct.length.toLong)
    }
  }

  test("two-long day bitmap: a day-100 activity counts in w18 (single-long form drops or wraps it)") {
    import graft.operators.EventTime
    import spark.implicits._
    // days 0 and 100 active, plus 125 (last in-horizon day) and 126 (out).
    // A single 63-bit word drops day 100 entirely; an UNGUARDED 1<<100
    // would wrap mod 64 onto day 36 — both wrong. Day 36 is deliberately
    // inactive so aliasing would show up as a phantom w9 bit.
    val planted = Seq((1L, 0L), (1L, 100L), (1L, 125L), (1L, 126L), (2L, 36L))
      .toDF("user_id", "days_ago")
    val r = planted.groupBy(col("user_id"))
      .agg(EventTime.dayBitmapWordAggs(0), EventTime.dayBitmapWordAggs(1))
      .withColumn("w18", EventTime.activeDaysW18)
      .withColumn("w9", expr("CAST(bit_count(__w18_0) AS BIGINT)"))
      .collect().map(x => x.getLong(0) -> (x.getAs[Long]("w9"), x.getAs[Long]("w18"))).toMap
    assert(r(1L) == ((1L, 3L)), "w9 sees only day 0; w18 adds days 100 and 125, not 126")
    assert(r(2L) == ((1L, 1L)))
  }

  test("decay engagement: halving replay, and a 100-day-old whale contributes ZERO (shift-wrap guard)") {
    import graft.operators.EventTime
    import spark.implicits._
    def t(daysAgo: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(java.time.LocalDate.of(2024, 6, 30)
        .minusDays(daysAgo.toLong).atStartOfDay())
    // user 1: 100.00 today + 100.00 one day ago + 100.00 two days ago
    //   -> 10000 + 5000 + 2500 cents
    // user 2: a 100-day-old 1,000,000.00 whale. Java's shift masks the
    // distance mod 64, so 100 % 64 = 36 would leak 100000000 >> 36 = 1? no —
    // worse, 64 would leak FULL value; the guard must make it exactly 0.
    // user 3: one event exactly 64 days ago (the wrap distance) — also 0.
    val ev = Seq(
      (1L, t(0), 10L, "purchase", 100.0),
      (2L, t(1), 10L, "purchase", 100.0),
      (3L, t(2), 10L, "purchase", 100.0),
      (4L, t(100), 20L, "purchase", 1000000.0),
      (5L, t(64), 30L, "purchase", 500.0),
      (6L, t(62), 40L, "purchase", 500.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventTime.decayEngagement(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(10L) == ((10000L + 5000L + 2500L, 3L, 0L)))
    assert(got(20L)._1 == 0L, "100-day-old event must decay to exactly zero, not wrap")
    assert(got(30L)._1 == 0L, "64-day-old event (the mod-64 wrap distance) must be zero")
    // 62 days is inside the guard: 50000 cents >> 62 = 0 by genuine decay
    assert(got(40L)._1 == 0L && got(40L)._3 == 62L)
    // and the registered query replays sequentially on the fixture
    val real = SparkEntry.queries("evt_decay_engagement")(spark, sf0001).collect()
    assert(real.nonEmpty && real.length <= 20)
    val scores = real.map(_.getLong(1)).toSeq
    assert(scores == scores.sortBy(-_), "top-20 must be sorted by score desc")
  }

  test("cusum closed form equals the max(0,s+x-k) recursion; a planted shift alerts") {
    import graft.operators.EventTime
    // planted: steady 10/day for 10 days, then a sustained 25/day shift
    val series = (1 to 16).map { i =>
      ("ingest", java.sql.Date.valueOf(f"2024-01-$i%02d"), if (i <= 10) 10L else 25L)
    }
    import spark.implicits._
    val got = EventTime.cusumAlerts(series.toDF("event_type", "day", "n")).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toSeq
    val k = (series.map(_._3).sum + series.size - 1) / series.size
    var s = 0L
    val expected = series.map { case (_, d, n) =>
      s = math.max(0L, s + n - k)
      (d.toString, n, s, s > 3 * k)
    }
    assert(got == expected, "closed form must equal the sequential recursion")
    assert(got.exists(_._4) && got.exists(!_._4), "the shift must trip the alert")
    // and the registered query's output replays per type on the fixture
    val real = EventTime.queries("evt_cusum_alerts")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(real.nonEmpty)
    real.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      val kk = (sorted.map(_._3).sum + sorted.length - 1) / sorted.length
      var ss = 0L
      sorted.foreach { case (_, _, n, c, a) =>
        ss = math.max(0L, ss + n - kk)
        assert(c == ss && a == (ss > 3 * kk))
      }
    }
  }

  test("evt_outliers_mad matches a sequential median/MAD replay per type") {
    val rows = SparkEntry.queries("evt_outliers_mad")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(rows.nonEmpty)
    val byType = Tables.events(spark, sf0001)
      .filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100).cast("bigint").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    assert(rows.keySet == byType.keySet)
    byType.foreach { case (t, vs) =>
      def lowerMedian(xs: Vector[Long]): Long = xs((xs.length + 1) / 2 - 1)
      val med = lowerMedian(vs)
      val devs = vs.map(v => math.abs(v - med)).sorted
      val mad = lowerMedian(devs)
      val (n, qMed, qMad, qOut, qMax) = rows(t)
      assert(n == vs.length.toLong, s"$t n")
      assert(qMed == med, s"$t median")
      assert(qMad == mad, s"$t MAD")
      assert(qOut == devs.count(_ > 3 * mad).toLong, s"$t outliers")
      assert(qMax == devs.last, s"$t max dev")
    }
  }

  test("evt_seasonal_baseline: sequential per-(type,dow) median replay + planted spike/dip fire") {
    // replay the fixture query
    val got = SparkEntry.queries("evt_seasonal_baseline")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
      .toMap
    assert(got.nonEmpty)
    val daily = Tables.events(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd"), col("cnt"),
        expr("CAST(weekday(day) + 1 AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.keySet == daily.map(r => (r._1, r._2)).toSet)
    def lowerMedian(xs: Vector[Long]): Long = xs.sorted.apply((xs.length + 1) / 2 - 1)
    val baseline = daily.groupBy(r => (r._1, r._4)).view
      .mapValues(rs => lowerMedian(rs.map(_._3).toVector)).toMap
    daily.foreach { case (t, day, cnt, dow) =>
      val b = baseline((t, dow))
      val (gDow, gCnt, gBase, gSpike, gDip) = got((t, day))
      assert(gDow == dow && gCnt == cnt && gBase == b, s"($t, $day)")
      assert(gSpike == (cnt * 100 >= b * 150), s"($t, $day) spike")
      assert(gDip == (cnt * 100 <= b * 50), s"($t, $day) dip")
    }
    // planted seasonality: Mondays normally 100, one spiking to 200 and
    // one dipping to 40 — both fire; the normal Monday doesn't
    val planted = {
      import spark.implicits._
      Seq(
        ("click", "2024-01-01", 100L), ("click", "2024-01-08", 100L),
        ("click", "2024-01-15", 200L), ("click", "2024-01-22", 40L),
        ("click", "2024-01-02", 500L) // lone Tuesday: its own baseline, no flag
      ).toDF("event_type", "day", "cnt")
        .select(col("event_type"), to_date(col("day")).as("day"), col("cnt"))
    }
    val out = graft.operators.EventTime.seasonalBaseline(planted)
      .collect().map(r => r.getString(1) -> (r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
      .toMap
    assert(out("2024-01-01") == ((100L, false, false)))
    assert(out("2024-01-08") == ((100L, false, false)))
    assert(out("2024-01-15") == ((100L, true, false)), "spike fires vs Monday median")
    assert(out("2024-01-22") == ((100L, false, true)), "dip fires vs Monday median")
    assert(out("2024-01-02") == ((500L, false, false)), "n=1 class: day is its own baseline, never flags")
  }

  test("evt_rfm_segments: sequential tercile/score replay; users conserve") {
    val got = SparkEntry.queries("evt_rfm_segments")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).cast("string").as("day"),
        round(col("value") * 100).cast("bigint").as("cents"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val refDay = ev.map(_._2).max
    def days(a: String, b: String): Long =
      java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(b), java.time.LocalDate.parse(a))
    val rfm = ev.groupBy(_._1).map { case (u, rows) =>
      (u, days(refDay, rows.map(_._2).max), rows.size.toLong, rows.map(_._3).sum)
    }.toSeq
    val nu = rfm.size.toLong
    def bounds(vs: Seq[Long]): (Long, Long) = {
      val hist = vs.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val cums = hist.scanLeft((0L, 0L)) { case ((_, c), (v, k)) => (v, c + k) }.drop(1)
      def bd(target: Long) = cums.collectFirst { case (v, c) if c >= target => v }.get
      (bd((nu + 2) / 3), bd((2 * nu + 2) / 3))
    }
    val (rt1, rt2) = bounds(rfm.map(_._2))
    val (ft1, ft2) = bounds(rfm.map(_._3))
    val (mt1, mt2) = bounds(rfm.map(_._4))
    def asc(v: Long, t1: Long, t2: Long): Long = if (v <= t1) 1 else if (v <= t2) 2 else 3
    val expected = rfm.groupBy { case (_, r, f, m) =>
      (4 - asc(r, rt1, rt2)) * 100 + asc(f, ft1, ft2) * 10 + asc(m, mt1, mt2)
    }.map { case (seg, us) =>
      seg -> (us.size.toLong,
        us.map(_._2).sum / us.size, us.map(_._3).sum / us.size, us.map(_._4).sum / us.size)
    }
    assert(got == expected)
    assert(got.values.map(_._1).sum == nu, "every purchasing user lands in one segment")
    // terciles are real splits on the fixture: more than one segment per axis
    assert(got.keySet.map(_ / 100).size > 1 && got.keySet.map(_ % 10).size > 1)
  }

  test("txt_diversity: bounds hold and all-distinct docs hit the closed form") {
    val div = SparkEntry.queries("txt_diversity")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val stats = SparkEntry.queries("txt_stats")(spark, sf0001)
      .select("doc_id", "n_words", "n_distinct_words")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(div.keySet == stats.keySet)
    div.foreach { case (id, (n, s)) =>
      assert(n == stats(id)._1, s"doc $id token count")
      assert(s >= 0 && s < 1000000L, s"doc $id simpson out of range")
      // all-distinct tokens: sum c^2 = n, so simpson = 1e6 - 1e6 DIV n exactly
      if (stats(id)._2 == n)
        assert(s == 1000000L - 1000000L / n, s"doc $id closed form")
    }
    // the fixture exercises the closed-form branch at least once
    assert(stats.values.exists { case (n, d) => d == n })
  }

  test("txt_bpe_merges: top pairs equal a Scala replay of the BPE count") {
    val counts = scala.collection.mutable.Map[String, Long]()
    Tables.documents(spark, sf0001).select("text").collect().foreach { r =>
      r.getString(0).split(" ", -1).filter(_.length >= 2).foreach { w =>
        w.sliding(2).foreach(p => counts(p) = counts.getOrElse(p, 0L) + 1L)
      }
    }
    val expected = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(10)
    val got = SparkEntry.queries("txt_bpe_merges")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("txt_bpe_apply: chained merge replays in Scala and actually compresses") {
    val merges = Seq("er" -> "A", "in" -> "B", "ow" -> "C", "or" -> "D",
      "st" -> "E", "me" -> "F", "to" -> "G", "at" -> "H", "lu" -> "I", "al" -> "J")
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = SparkEntry.queries("txt_bpe_apply")(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSet == docs.keySet)
    rows.foreach { r =>
      val text = docs(r.getLong(0))
      val before = text.replace(" ", "").length.toLong
      val applied = merges.foldLeft(text) { case (t, (p, s)) => t.replace(p, s) }
      val after = applied.replace(" ", "").length.toLong
      assert(r.getLong(1) == before, s"doc ${r.getLong(0)} before")
      assert(r.getLong(2) == after, s"doc ${r.getLong(0)} after")
      assert(r.getLong(3) == (before - after) * 10000 / before, s"doc ${r.getLong(0)} saved")
    }
    assert(rows.count(_.getLong(3) > 0) > rows.length / 2,
      "the trained merge table should compress most documents")
  }

  test("pipe_tokenizer_e2e: applying the independently-oracled trained table replays per doc") {
    // recomposition: take txt_bpe_train's merge table (its own oracle row
    // pins the training), apply those pairs in rank order per document in
    // Scala, and the capstone's per-doc counts must match exactly
    val trained = SparkEntry.queries("txt_bpe_train")(spark, sf0001).collect()
      .sortBy(_.getLong(0)).map(r => r.getString(1) -> r.getString(2)).toSeq
    assert(trained.length == 5)
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = SparkEntry.queries("pipe_tokenizer_e2e")(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSet == docs.keySet)
    rows.foreach { r =>
      val text = docs(r.getLong(0))
      val before = text.replace(" ", "").length.toLong
      val applied = trained.foldLeft(text) { case (t, (p, s)) => t.replace(p, s) }
      val after = applied.replace(" ", "").length.toLong
      assert(r.getLong(1) == before, s"doc ${r.getLong(0)} before")
      assert(r.getLong(2) == after, s"doc ${r.getLong(0)} after")
      assert(r.getLong(3) == (before - after) * 10000 / before, s"doc ${r.getLong(0)} saved")
    }
    // the self-trained table compresses this corpus at least as well in
    // aggregate as a 5-merge prefix of any fixed shipped table could be
    // expected to — and strictly compresses overall
    val totBefore = rows.map(_.getLong(1)).sum
    val totAfter = rows.map(_.getLong(2)).sum
    assert(totAfter < totBefore, "trained merges must compress the corpus")
  }

  test("txt_bpe_train: the full 5-round greedy table replays in Scala") {
    // pins the fused one-action-per-round loop (pair argmax + previous
    // round's compression measure in one job): every column of every row
    // — pair, symbol, count, n_syms_after — must equal a driver-side
    // replay of the greedy algorithm over the raw corpus
    var texts = Tables.documents(spark, sf0001).select("text")
      .collect().map(_.getString(0)).toSeq
    val expected = (1 to 5).map { r =>
      val counts = scala.collection.mutable.Map[String, Long]()
      texts.foreach { t =>
        t.split(" ", -1).filter(_.length >= 2).foreach { w =>
          w.sliding(2).foreach(p => counts(p) = counts.getOrElse(p, 0L) + 1L)
        }
      }
      val (pair, n) = counts.toSeq.minBy { case (p, c) => (-c, p) }
      val sym = ('A' + r - 1).toChar.toString
      texts = texts.map(_.replace(pair, sym))
      val nAfter = texts.map(_.replace(" ", "").length.toLong).sum
      (r.toLong, pair, sym, n, nAfter)
    }
    val got = SparkEntry.queries("txt_bpe_train")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
  }

  test("txt_bpe_train_sampled: the hash-sampled trainer picks the exact trainer's merges") {
    // the scale contract: pair frequencies are corpus-wide ratios, so the
    // deterministic bottom-k-by-content-hash sample must reproduce the
    // exact loop's MERGE VOCABULARY at fixture scale. The pin is SET
    // equality of the merged pairs, not per-round order: this corpus's
    // rounds 2/3 ("in" vs "or") are near-tied, so sampling noise can
    // swap them at any honest k — and for DISJOINT pairs (no shared
    // characters, true here and asserted below) the final segmentation
    // is order-insensitive, so the vocabulary IS the semantic output.
    // Round 1's margin is clear, so its pick must match exactly.
    val exact = SparkEntry.queries("txt_bpe_train")(spark, sf0001).collect()
      .sortBy(_.getLong(0)).map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val sampled = SparkEntry.queries("txt_bpe_train_sampled")(spark, sf0001)
      .collect()
      .sortBy(_.getLong(0)).map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(sampled.length == 5)
    assert(sampled.map(_._2).toSet == exact.map(_._2).toSet,
      "sampled merge vocabulary must equal the exact trainer's at fixture scale")
    assert(sampled.head._2 == exact.head._2,
      "the clear-margin round-1 pick must agree exactly")
    // the set pin is sufficient iff the pairs that actually PERMUTED
    // commute: replace-ops on character-disjoint pairs are
    // order-independent, so the re-segmented text after the permuted
    // block — and every later round's counts — are identical up to
    // symbol naming. Assert exactly that for the positions that differ.
    val permuted = exact.zip(sampled).filter { case (e, s) => e._2 != s._2 }
      .flatMap { case (e, s) => Seq(e._2, s._2) }.distinct
    for (a <- permuted; b <- permuted if a < b)
      assert(!a.exists(b.contains(_)),
        s"permuted merges '$a'/'$b' share a character — order would matter")
    // and the sample is a real subset: round-1 pair count strictly below
    // the exact trainer's (the sample must not silently read every doc)
    val nExact = SparkEntry.queries("txt_bpe_train")(spark, sf0001)
      .filter(col("round") === 1L).collect()(0).getLong(3)
    val nSampled = SparkEntry.queries("txt_bpe_train_sampled")(spark, sf0001)
      .filter(col("round") === 1L).collect()(0).getLong(3)
    assert(nSampled < nExact, "sampled counts must be sample-sized")
  }

  test("txt_gopher_rules: every field replays in Scala and both outcomes occur") {
    val rows = SparkEntry.queries("txt_gopher_rules")(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.map(_.getLong(0)).toSet == docs.keySet)
    val stops = Set("the", "a", "of", "and")
    rows.foreach { r =>
      val w = docs(r.getLong(0)).split(" ", -1)
      val n = w.length.toLong
      val wlen = w.map(_.length.toLong).sum * 100 / n
      val nStop = w.count(stops).toLong
      val dist = w.distinct.length.toLong * 100 / n
      assert(r.getLong(1) == n, s"doc ${r.getLong(0)} n_words")
      assert(r.getLong(2) == wlen, s"doc ${r.getLong(0)} mean_wlen_x100")
      assert(r.getLong(3) == nStop, s"doc ${r.getLong(0)} n_stop")
      assert(r.getLong(4) == dist, s"doc ${r.getLong(0)} distinct_x100")
      val pass = n >= 20 && n <= 10000 && wlen >= 300 && wlen <= 1000 &&
        nStop >= 2 && dist >= 20
      assert(r.getBoolean(9) == pass, s"doc ${r.getLong(0)} pass bit")
    }
    assert(rows.exists(_.getBoolean(9)) && rows.exists(!_.getBoolean(9)),
      "fixture must exercise both gate outcomes")
  }

  test("txt_dsir_weights ranks the target language above the rest on average") {
    // direction check: the likelihood ratio must upweight target-domain
    // (lang='en') documents relative to the non-target mean — the property
    // importance resampling depends on (exactness is the oracle's job)
    val scores = SparkEntry.queries("txt_dsir_weights")(spark, sf0001)
      .join(Tables.documents(spark, sf0001).select("doc_id", "lang"), "doc_id")
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("dsir_score"))
    val (en, rest) = scores.partition(_._1 == "en")
    assert(en.nonEmpty && rest.nonEmpty)
    def mean(xs: Array[(String, Long)]) = xs.map(_._2).sum.toDouble / xs.length
    assert(mean(en) > mean(rest),
      s"target mean ${mean(en)} should exceed non-target mean ${mean(rest)}")
  }

  test("native graft_simhash16 is bit-identical to the relational explode/groupBy form") {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val native = SparkEntry.queries("dedup_simhash_sig")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val relational = Dedup.simhashRelational(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.nonEmpty)
    assert(native == relational)
  }

  test("frameSample: evenly spaced REAL frames, luma from actual planes, corrupt degrades to zero rows") {
    import graft.operators.Multimodal.Y4mCodec
    val media = Multimodal.attachY4mMedia(Tables.documents(spark, sf0001))
    // hand-check one doc: the sampled luma sums equal sums over the
    // decoded frames at the strided indices
    val one = media.orderBy("doc_id").limit(1).collect()(0)
    val v = Y4mCodec.decode(one.getAs[Array[Byte]]("payload")).toOption.get
    val rows = Multimodal.frameSample(media.orderBy("doc_id").limit(1), maxFrames = 2)
      .orderBy("slot").collect()
    val k = math.min(2, v.nFrames)
    assert(rows.length == k)
    rows.zipWithIndex.foreach { case (r, slot) =>
      val fidx = slot * v.nFrames / k
      assert(r.getLong(1) == slot.toLong && r.getLong(2) == fidx.toLong)
      assert(r.getLong(3) == v.nFrames.toLong && r.getLong(4) == v.frameLen.toLong)
      val expectedLuma = (0 until v.lumaLen).map(i => (v.frames(fidx)(i) & 0xff).toLong).sum
      assert(r.getLong(5) == expectedLuma)
    }
    // sampling a 4-frame clip with maxFrames=2 must hit frames 0 and 2
    val fourFrame = media.collect().find { r =>
      Y4mCodec.decode(r.getAs[Array[Byte]]("payload")).toOption.exists(_.nFrames == 4)
    }
    fourFrame.foreach { r =>
      val idx = Multimodal.frameSample(
        spark.createDataFrame(spark.sparkContext.parallelize(Seq(r)), media.schema)
          .select(col("doc_id"), col("payload")), maxFrames = 2)
        .orderBy("slot").collect().map(_.getLong(2)).toSeq
      assert(idx == Seq(0L, 2L))
    }
    // corrupt payload: zero rows (typed degrade, the resize contract)
    val corrupt = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(7L, "YUV4MPEG2 W2 H2 C444\nFRAME\nxx".getBytes))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType))))
    assert(Multimodal.frameSample(corrupt).collect().isEmpty)
  }

  test("mm_video_meta: 4:2:0 chroma round-trips through the real decoder; Arrow == row") {
    import graft.operators.Multimodal.Y4mCodec
    val media = Multimodal.attachY4mMixedMedia(Tables.documents(spark, sf0001))
    val rows = media.collect()
    // an odd doc decodes as 420jpeg with quarter chroma planes whose
    // samples follow the generator formula at CHROMA coordinates
    val odd = rows.find(_.getLong(0) % 2 == 1).get
    val id = odd.getLong(0)
    val v = Y4mCodec.decode(odd.getAs[Array[Byte]]("payload")).toOption.get
    assert(v.colourspace == "420jpeg")
    assert(v.chromaW == v.width / 2 && v.chromaH == v.height / 2)
    val cLen = v.chromaW * v.chromaH
    for (p <- 1 to 2; y <- 0 until v.chromaH; x <- 0 until v.chromaW)
      assert((v.frames(0)(v.lumaLen + (p - 1) * cLen + y * v.chromaW + x) & 0xff)
        == ((id * 31 + p * 17 + y * 7 + x * 5) % 256).toInt)
    // an even doc stays C444
    val even = rows.find(_.getLong(0) % 2 == 0).get
    assert(Y4mCodec.decode(even.getAs[Array[Byte]]("payload"))
      .toOption.get.colourspace == "444")
  }

  test("Y4mCodec: round-trip, header validation, truncation/garbage degrade typed") {
    import graft.operators.Multimodal.Y4mCodec
    val bytes = Y4mCodec.encode(3, 2, 2, (f, p, y, x) => f * 50 + p * 20 + y * 5 + x)
    val v = Y4mCodec.decode(bytes).toOption.get
    assert(v.width == 3 && v.height == 2 && v.nFrames == 2)
    assert(v.chromaW == 3 && v.chromaH == 2 && v.fpsNum == 25 && v.fpsDen == 1)
    for (f <- 0 until 2; p <- 0 until 3; y <- 0 until 2; x <- 0 until 3)
      assert((v.frames(f)(p * 6 + y * 3 + x) & 0xff) == f * 50 + p * 20 + y * 5 + x)
    // C420 chroma arithmetic: 4x2 frame = 8 luma + 2*2 chroma = 12 bytes
    val c420 = "YUV4MPEG2 W4 H2 C420jpeg\nFRAME\n".getBytes("US-ASCII") ++
      Array.tabulate(12)(_.toByte)
    val v420 = Y4mCodec.decode(c420).toOption.get
    assert(v420.chromaW == 2 && v420.chromaH == 1 && v420.frameLen == 12)
    // odd dims with 4:2:0 are invalid
    assert(Y4mCodec.decode("YUV4MPEG2 W3 H2 C420jpeg\n".getBytes("US-ASCII"))
      .left.exists(_.contains("odd dimensions")))
    // typed degrades: bad magic, truncated frame, missing marker,
    // unterminated header, unsupported colourspace, garbage tag value
    assert(Y4mCodec.decode("JUNK".getBytes).left.exists(_ == "bad magic"))
    assert(Y4mCodec.decode(bytes.dropRight(1)).left.exists(_ == "truncated frame"))
    assert(Y4mCodec.decode(bytes ++ "zz".getBytes)
      .left.exists(_ == "missing FRAME marker"))
    assert(Y4mCodec.decode("YUV4MPEG2 W2 H2".getBytes)
      .left.exists(_ == "unterminated stream header"))
    assert(Y4mCodec.decode("YUV4MPEG2 W2 H2 C999\n".getBytes)
      .left.exists(_.contains("unsupported colourspace")))
    assert(Y4mCodec.decode("YUV4MPEG2 Wxx H2 C444\n".getBytes)
      .left.exists(_.startsWith("decode error")))
  }

  // evt_dau_wau replaces the textbook rolling-distinct window (a day-spine
  // range join) with a bounded 7× explode of the (user, day) set. The
  // oracle uses the same explode shape, so pin the rewrite against the
  // range-join DEFINITION here.
  test("evt_dau_wau explode rewrite equals the rolling range-join definition") {
    val ud = Tables.events(spark, sf0001)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct().cache()
    val naive = ud.select(col("day")).distinct().as("s")
      .join(ud.select(col("user_id"), col("day").as("uday")),
        col("uday").between(date_sub(col("s.day"), 6), col("s.day")))
      .groupBy(col("s.day").as("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
    val got = SparkEntry.queries("evt_dau_wau")(spark, sf0001)
      .select("day", "wau")
    assert(got.except(naive).isEmpty && naive.except(got).isEmpty)
    ud.unpersist()
  }
}
