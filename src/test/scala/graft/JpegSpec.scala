package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.JpegCodec

/** Baseline JPEG codec: exact round-trip of the fixture's coefficient
  * scheme (gray + 4:2:0 colour), restart-marker handling, the typed
  * malformation ladder, and the decode query path's typed degrades.
  */
class JpegSpec extends SparkSuiteBase {

  /** The fixture's closed-form expected luma pixel. */
  private def lumaPx(id: Long, bi: Int, x: Int): Int = {
    val vY = 2 * ((id * 7 + bi * 13) % 50).toInt + 80
    val acm = ((id + bi) % 5).toInt - 2
    val sgn = if (Set(0, 3, 4, 7)((x % 8))) 1 else -1
    vY + sgn * 2 * acm
  }

  private def grayCoef(id: Long)(bi: Int): (Int, Int) = {
    val vY = 2 * ((id * 7 + bi * 13) % 50).toInt + 80
    ((vY - 128) / 2, ((id + bi) % 5).toInt - 2)
  }

  test("grayscale round-trip: Huffman -> dequant -> IDCT recovers the exact pixels") {
    val id = 10L
    val w = 24 // 3 blocks
    val Right(d) = JpegCodec.decode(JpegCodec.encodeGray(w, grayCoef(id)))
    assert(d.width == w && d.height == 8 && d.planes.length == 1)
    val y = d.planes.head
    assert(y.width == w && y.height == 8)
    for (yy <- 0 until 8; xx <- 0 until w) {
      val got = y.data(yy * w + xx) & 0xff
      assert(got == lumaPx(id, xx / 8, xx),
        s"pixel ($yy,$xx): got $got expected ${lumaPx(id, xx / 8, xx)}")
    }
  }

  test("restart markers: a DRI/RSTn stream decodes to the same pixels") {
    val id = 4L
    val w = 32 // 4 blocks, restart every 2 -> one RST marker mid-scan
    val plain = JpegCodec.decode(JpegCodec.encodeGray(w, grayCoef(id))).toOption.get
    val restarted = JpegCodec.decode(
      JpegCodec.encodeGray(w, grayCoef(id), restartInterval = 2)).toOption.get
    assert(plain.planes.head.data.sameElements(restarted.planes.head.data))
    // the restart file genuinely contains a restart marker
    val bytes = JpegCodec.encodeGray(w, grayCoef(id), restartInterval = 2)
    assert(bytes.sliding(2).exists(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd0))
  }

  test("4:2:0 colour: four luma blocks + quarter-resolution chroma, all exact") {
    val id = 7L
    val vCb = 2 * ((id * 11) % 40).toInt + 88
    val vCr = 2 * ((id * 17) % 40).toInt + 88
    val Right(d) = JpegCodec.decode(JpegCodec.encode420(
      grayCoef(id), (vCb - 128) / 2, (vCr - 128) / 2))
    assert(d.width == 16 && d.height == 16 && d.planes.length == 3)
    val Seq(py, pcb, pcr) = d.planes
    assert(py.width == 16 && py.height == 16)
    assert(pcb.width == 8 && pcb.height == 8, "4:2:0 chroma is quarter size")
    assert(pcr.width == 8 && pcr.height == 8)
    for (yy <- 0 until 16; xx <- 0 until 16) {
      val bi = (yy / 8) * 2 + (xx / 8)
      assert((py.data(yy * 16 + xx) & 0xff) == lumaPx(id, bi, xx),
        s"luma ($yy,$xx)")
    }
    assert(pcb.data.forall(b => (b & 0xff) == vCb))
    assert(pcr.data.forall(b => (b & 0xff) == vCr))
  }

  test("multi-scan non-interleaved baseline: the walk continues past the first SOS") {
    // three single-component scans (Y, Cb, Cr) — legal sequential T.81;
    // an early-return-at-first-SOS decoder would yield all-zero chroma
    // encoder takes QUANTIZED DCs: level v decodes as 2*dc + 128
    val Right(d) = JpegCodec.decode(JpegCodec.encode444MultiScan(
      (100 - 128) / 2, (90 - 128) / 2, (150 - 128) / 2))
    assert(d.width == 8 && d.height == 8 && d.planes.length == 3)
    assert(d.planes.forall(p => p.width == 8 && p.height == 8))
    assert(d.planes(0).data.forall(b => (b & 0xff) == 100))
    assert(d.planes(1).data.forall(b => (b & 0xff) == 90))
    assert(d.planes(2).data.forall(b => (b & 0xff) == 150))
  }

  test("0xFF fill bytes before a marker are legal (T.81 B.1.1.2)") {
    val ok = JpegCodec.encodeGray(8, grayCoef(5L))
    val dqtAt = ok.indices.find(i =>
      (ok(i) & 0xff) == 0xff && (ok(i + 1) & 0xff) == 0xdb).get
    // FF FF FF DB: two fill bytes, then the DQT marker
    val padded = ok.take(dqtAt) ++
      Array(0xff.toByte, 0xff.toByte) ++ ok.drop(dqtAt)
    val Right(d) = JpegCodec.decode(padded)
    assert(d.planes.head.data.sameElements(
      JpegCodec.decode(ok).toOption.get.planes.head.data))
  }

  test("malformation ladder: every structural break degrades typed") {
    val ok = JpegCodec.encodeGray(8, grayCoef(3L))
    assert(JpegCodec.decode("notajpeg".getBytes).left.exists(_ == "bad signature"))
    assert(JpegCodec.decode(Array[Byte](0xff.toByte, 0xd8.toByte))
      .left.exists(_ == "missing scan"))
    // truncated mid-scan (3-block image: the entropy segment is several
    // bytes, so trimming EOI + its tail lands inside the scan data)
    val ok3 = JpegCodec.encodeGray(24, grayCoef(3L))
    assert(JpegCodec.decode(ok3.dropRight(4)).left.exists(_ == "truncated scan"))
    // progressive frame: flip SOF0 -> SOF2
    val prog = ok.clone()
    val sofAt = prog.indices.find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(JpegCodec.decode(prog).left.exists(_ == "unsupported progressive"))
    // DHT with an impossible code count
    val badDht = ok.clone()
    val dhtAt = badDht.indices.find(i =>
      (badDht(i) & 0xff) == 0xff && (badDht(i + 1) & 0xff) == 0xc4).get
    badDht(dhtAt + 5) = 99.toByte // BITS[1] = 99 codes of length 1
    assert(JpegCodec.decode(badDht).isLeft)
    // scan data before any SOF
    val noSof = ok.filterNot(_ => false).clone()
    // craft: SOI then SOS immediately
    val hdrless = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xda.toByte,
      0, 8, 1, 1, 0, 0, 63, 0)
    assert(JpegCodec.decode(hdrless).left.exists(_ == "missing frame header"))
    assert(noSof.length == ok.length) // (keep the compiler honest about the clone)
  }

  test("jpeg resize: Arrow == row parity; corrupt payload yields zero rows") {
    val media = Multimodal.attachJpegMedia(Tables.documents(spark, sf0001))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "ty", "tx").collect().map(_.toSeq).toList
    val rows = canon(Multimodal.resizeJpeg(media))
    assert(rows.nonEmpty && rows.size % 4 == 0, "2x2 thumbnail per decodable doc")
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, Array[Byte](0xff.toByte, 0xd8.toByte, 9)))),
      media.schema)
    assert(Multimodal.resizeJpeg(bad).collect().isEmpty)
  }

  test("mm_jpeg_decode path: Arrow == row parity; corrupt payload keeps its typed class") {
    val docs = Tables.documents(spark, sf0001)
    val media = Multimodal.attachJpegMedia(docs)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toList
    val row = canon(Multimodal.decodeJpeg(media))
    assert(row.nonEmpty && row.forall(_(1) == "jpeg"))
    // a corrupt payload degrades typed through the same path
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, Array[Byte](0xff.toByte, 0xd8.toByte, 1, 2, 3)))),
      media.schema)
    assert(Multimodal.decodeJpeg(bad).collect()(0).getString(1) == "jpeg-corrupt")
    // and the 4-way router classifies real jpeg bytes as image from bytes alone
    val routed = Multimodal.routeMixed(media.limit(5)).collect()
    assert(routed.forall(_.getString(1) == "image"))
  }
}
