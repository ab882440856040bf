package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.operators.Multimodal

/** dHash + audio-fingerprint semantics pinned on planted fixtures:
  * exact-dup and near-dup plants land at the designed hamming distances,
  * the 4×16-bit banding has FULL recall vs brute force (the pigeonhole
  * guarantee the band equi-join rests on), and corrupt bytes degrade
  * typed.
  */
class DhashSpec extends SparkSuiteBase {

  private val docSchema = StructType(Seq(StructField("doc_id", LongType)))

  private def hashesFor(ids: Seq[Long]): Map[Long, (Long, Long)] = {
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(Row(_))), docSchema)
    Multimodal.dhash(Multimodal.attachDhashMedia(docs))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
  }

  test("planted exact dup: slot 8 hashes identically to slot 0") {
    val h = hashesFor(0L until 60L)
    for (d <- 0L until 60L by 10L)
      assert(h(d) === h(d + 8), s"doc $d vs ${d + 8}")
  }

  test("planted near dup: slot 9 lands at hamming 1-2 of slot 1, never 0") {
    val h = hashesFor(0L until 60L)
    for (d <- 1L until 60L by 10L) {
      val (ahi, alo) = h(d); val (bhi, blo) = h(d + 8)
      val ham = java.lang.Long.bitCount(ahi ^ bhi) + java.lang.Long.bitCount(alo ^ blo)
      assert(ham >= 1 && ham <= 2, s"doc $d vs ${d + 8}: hamming $ham")
    }
  }

  test("banding recall: band-collision pairs == brute-force hamming<=3 pairs") {
    val ids = 0L until 80L
    val h = hashesFor(ids)
    def full(x: (Long, Long)): Long = (x._1 << 32) | x._2
    val brute = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(full(h(a)) ^ full(h(b))) <= 3
    } yield (a, b)).toSet
    val banded = (for {
      a <- ids; b <- ids if a < b
      ha = full(h(a)); hb = full(h(b))
      if (0 until 4).exists(i => ((ha >> (16 * i)) & 0xffffL) == ((hb >> (16 * i)) & 0xffffL))
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(banded === brute)
    assert(brute.nonEmpty)
  }

  test("corrupt payload degrades typed, fields withheld") {
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(7L))), docSchema)
    val media = Multimodal.attachDhashMedia(docs)
      .select(col("doc_id"), expr("substring(payload, 1, 20)").as("payload"))
    val r = Multimodal.dhash(media).collect()
    assert(r.length === 1)
    assert(r(0).getString(1) === "png-corrupt")
    assert(r(0).isNullAt(2) && r(0).isNullAt(3))
  }

  test("wav fingerprint: decreasing energy staircase sets all 15 bits; flat sets none") {
    // 32 mono frames (even doc_ids are mono). Each sample is the crafted
    // byte pair (lo, 0x00): |v| strictly decreasing => every window
    // outweighs its successor => fp = 0x7fff; constant |v| => fp = 0.
    def mkText(vals: Seq[Int]): String =
      vals.flatMap(v => Seq(v.toChar, '\u0000')).mkString
    val dec = mkText((1 to 32).map(i => 120 - 3 * i))
    val flat = mkText(Seq.fill(32)(64))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("n_chars", LongType)))
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(0L, dec, dec.length.toLong), Row(2L, flat, flat.length.toLong))),
      schema)
    val out = Multimodal.wavFingerprint(Multimodal.attachWavMedia(docs))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(0L) === 0x7fffL)
    assert(out(2L) === 0L)
  }

  private def videoHashesFor(ids: Seq[Long]): Map[Long, (Long, Long)] = {
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(Row(_))), docSchema)
    Multimodal.videoDhash(Multimodal.attachVideoDupMedia(docs))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
  }

  test("video keyframe dHash: slot 8 exact dup, slot 9 at hamming 1-2 of slot 1") {
    val h = videoHashesFor(0L until 40L)
    for (d <- 0L until 40L by 10L) {
      assert(h(d) === h(d + 8), s"video doc $d vs ${d + 8}")
      val (ahi, alo) = h(d + 1); val (bhi, blo) = h(d + 9)
      val ham = java.lang.Long.bitCount(ahi ^ bhi) + java.lang.Long.bitCount(alo ^ blo)
      assert(ham >= 1 && ham <= 2, s"video doc ${d + 1} vs ${d + 9}: hamming $ham")
    }
  }

  test("video keyframe dHash hashes frame 0, not frame 1") {
    // frame 1's luma carries a +37 offset mod 256 — if the decoder hashed
    // it, the comparisons would differ from the frame-0 replay for some
    // doc in this range; recompute frame 0's expected hash directly
    val h = videoHashesFor(0L until 20L)
    for (id <- 0L until 20L if id % 10 != 9) {
      val k = (id / 10) * 10 + (id % 10) % 8
      val a1 = (k * 13 % 97 + 7).toInt
      val a2 = (k * 29 % 83 + 5).toInt
      def luma(y: Int, x: Int): Int = (a1 * x * x + a2 * x * y + 13 * y * y) % 256
      var hi = 0L; var lo = 0L
      for (ty <- 0 until 8; tx <- 0 until 8)
        if (luma(2 * ty, 2 * tx) > luma(2 * ty, 2 * tx + 2)) {
          val b = ty * 8 + tx
          if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
        }
      assert(h(id) === (hi, lo), s"video doc $id keyframe hash")
    }
  }

  test("perceptual mix fixture: every planted dup is byte-DIFFERENT but signature-equal") {
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 48L).map(Row(_))), docSchema)
    val payloads = Multimodal.attachPerceptualMixMedia(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val sigs = Multimodal.mediaSig(Multimodal.attachPerceptualMixMedia(docs))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    // dup pairs: content c = id/3 with c%8==7 duplicates content c-7 of
    // the SAME modality (id and id-21 share id%3)
    var checked = 0
    for (id <- 0L until 48L; c = id / 3 if c % 8 == 7) {
      val base = id - 21 // (c-7)*3 + m
      assert(!payloads(id).sameElements(payloads(base)),
        s"dup $id must differ from $base at the BYTE level")
      assert(sigs(id) === sigs(base),
        s"dup $id must equal $base at the SIGNATURE level")
      checked += 1
    }
    assert(checked >= 3, "all three modalities exercised")
    // modalities routed correctly by magic
    assert(sigs(0L)._1 === "image" && sigs(1L)._1 === "audio" &&
      sigs(2L)._1 === "video")
  }
}
