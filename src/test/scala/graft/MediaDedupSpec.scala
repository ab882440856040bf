package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** The cross-modality dedup capstone's semantics, pinned on the
  * perceptual-mix fixture — the round-12 "accounting, not a dedup" gap's
  * done-criteria:
  *  - the 60-bit four-feature audio fingerprint's over-merge on the mix
  *    corpus is STRICTLY below the 15-bit form's while every planted
  *    2×-gain dup still collides (the widen-before-drop-lists rule);
  *  - `pipe_media_dedup_cut` drops every planted byte-different dup in
  *    all three modalities, merges the image NEAR class via hamming
  *    (their signatures differ from their base's — equality alone cannot
  *    find them), keeps exactly the min-doc_id per cluster, and emits a
  *    verdict for every media row.
  */
class MediaDedupSpec extends SparkSuiteBase {

  private val sf = "/root/testdata/sf0.001"

  private def docs(n: Long) =
    spark.range(n).select(col("id").cast("long").as("doc_id"))

  test("60-bit audio fingerprint: planted gain-dups collide, over-merge strictly below 15-bit") {
    val media = Multimodal.attachPerceptualMixMedia(docs(500))
      .filter(col("doc_id") % 3 === 1) // the WAV third of the mix
    val n = media.count()
    val planted = (0L until 500L)
      .count(id => id % 3 == 1 && (id / 3) % 8 == 7 && id / 3 >= 7)
    val d15 = Multimodal.wavFingerprint(media)
      .filter(col("format") === "wav")
      .select(col("fingerprint")).distinct().count()
    val w60 = Multimodal.wavFingerprint60(media)
      .filter(col("format") === "wav").cache()
    try {
      val d60 = w60.select(col("sig_hi"), col("sig_lo")).distinct().count()
      val over15 = (n - d15) - planted
      val over60 = (n - d60) - planted
      assert(over60 >= 0, "every planted 2x-gain dup must still collide at 60 bits")
      assert(over60 < over15,
        s"widening must strictly reduce over-merge (got 15-bit $over15, 60-bit $over60)")
      // the measured values on this corpus (14 -> 2) — keep the old
      // number as the comparison the fixture scaladoc cites
      assert(over15 === 14L)
      assert(over60 === 2L)
      // gain invariance, directly: each planted dup's 60-bit code equals
      // its base's
      val sig = w60.select(col("doc_id"), col("sig_hi"), col("sig_lo"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      for (id <- 0L until 500L
           if id % 3 == 1 && (id / 3) % 8 == 7 && id / 3 >= 7) {
        assert(sig(id) === sig(id - 21),
          s"2x-gain dup $id must share its base's 60-bit code")
      }
    } finally w60.unpersist(): Unit
  }

  test("fingerprint identities: chunk 0 == the 15-bit code; exact 2x-gain invariance") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    // standalone RIFF builder (the fixture's wavPcm shape) over
    // deterministic pseudo-random PCM — 120 mono clips, varied lengths,
    // amplitudes < 16384 so the 2x gain cannot clip
    def wav(pcm: Array[Short]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(44 + 2 * pcm.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * pcm.length)
      out.put("WAVE".getBytes("US-ASCII"))
      out.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
      out.put("data".getBytes("US-ASCII")).putInt(2 * pcm.length)
      pcm.foreach(out.putShort)
      out.array()
    }
    def pcmFor(seed: Long, n: Int): Array[Short] =
      Array.tabulate(n)(j =>
        ((((seed * 6364136223846793005L + j * 1442695040888963407L) >>> 17)
          % 32767L) - 16383L).toShort)
    val rows = (0 until 120).flatMap { i =>
      val pcm = pcmFor(i.toLong, 7 + i * 3 % 90)
      Seq(Row(2L * i, wav(pcm)),
        Row(2L * i + 1, wav(pcm.map(v => (v * 2).toShort))))
    }
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    val f60 = Multimodal.wavFingerprint60(media)
      .filter(col("format") === "wav")
      .select(col("doc_id"), col("sig_hi"), col("sig_lo"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val f15 = Multimodal.wavFingerprint(media)
      .filter(col("format") === "wav")
      .select(col("doc_id"), col("fingerprint"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f60.size === 240)
    for (i <- 0 until 120) {
      val id = 2L * i
      // chunk 0 of the 60-bit code IS the 15-bit code (the identity the
      // mm_wav_overmerge oracle replays one formula through)
      assert((f60(id)._2 & 32767L) === f15(id), s"chunk0 identity clip $i")
      // all four features scale linearly with gain, so every across-
      // window comparison bit is EXACTLY invariant under 2x
      assert(f60(id + 1) === f60(id), s"gain invariance clip $i")
      assert(f15(id + 1) === f15(id), s"15-bit gain invariance clip $i")
    }
  }

  test("media dedup cut: plants drop, near class merges via hamming, keepers are min-id") {
    val cut = Multimodal.queries("pipe_media_dedup_cut")(spark, sf).cache()
    try {
      val nDocs = 500L // sf0.001 documents
      assert(cut.count() === nDocs, "one verdict per media row")
      val verdicts = cut.select(col("doc_id"), col("cluster_id"), col("keep"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      // every planted byte-different dup drops, in all three modalities,
      // and lands in its base's cluster (min id = the base unless an
      // incidental smaller member joined — assert membership, not label)
      for (id <- 0L until nDocs if (id / 3) % 8 == 7 && id / 3 >= 7) {
        val (cl, keep) = verdicts(id)
        assert(!keep, s"planted dup $id must drop")
        val base = id - 21 // same modality, content c-7
        assert(cl === verdicts(base)._1, s"dup $id must share base $base's cluster")
      }
      // the image NEAR class (one flipped sampled pixel, hamming 1-2)
      // drops too — and its signature is NOT equal to the base's, so
      // only the hamming merge can have found it
      val sigs = Multimodal.mediaSig(
          Multimodal.attachPerceptualMixMedia(docs(nDocs)))
        .filter(col("modality") === "image")
        .select(col("doc_id"), col("sig_hi"), col("sig_lo"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val nearIds = (0L until nDocs)
        .filter(id => id % 3 == 0 && (id / 3) % 8 == 3 && id / 3 >= 3)
      assert(nearIds.nonEmpty)
      for (id <- nearIds) {
        val base = id - 9 // image of content c-3
        assert(sigs(id) !== sigs(base),
          s"near image $id must be signature-DISTINCT from base $base")
        assert(!verdicts(id)._2, s"near image $id must drop")
        assert(verdicts(id)._1 === verdicts(base)._1,
          s"near image $id must join base $base's cluster")
      }
      // canonical keeper: the cluster label IS the min member id, and it
      // is the only kept member
      val byCluster = verdicts.toSeq.groupBy(_._2._1)
      for ((cl, members) <- byCluster) {
        assert(members.map(_._1).min === cl, s"cluster $cl label must be min id")
        assert(members.count(_._2._2) === 1, s"cluster $cl must keep exactly one")
        assert(verdicts(cl)._2, s"cluster $cl's keeper must be the label")
      }
    } finally cut.unpersist(): Unit
  }

  test("pipe_media_dedup_incr: persisted-artifact corpus equals a live decode; batch-sized work") {
    val incr = Multimodal.queries("pipe_media_dedup_incr")(spark, sf)
      .collect().toSeq
    assert(incr.nonEmpty, "the fixture plants batch-vs-corpus media dups")
    // live replay: decode BOTH sides and run the same per-modality
    // asymmetric match — the artifact-served path must land on
    // identical rows (artifact-vs-live parity)
    val all = Multimodal.mediaSig(Multimodal.attachPerceptualMixMedia(
        Tables.documents(spark, sf)))
      .filter(col("modality").isin("image", "audio", "video"))
      .localCheckpoint()
    def side(batchSide: Boolean, m: String) = all
      .filter(if (batchSide) col("doc_id") % 10 === 0
        else col("doc_id") % 10 =!= 0)
      .filter(col("modality") === m)
      .select(col("doc_id"), col("sig_hi").as("hash_hi"),
        col("sig_lo").as("hash_lo"))
    val live = Seq(("image", 3), ("video", 3), ("audio", 0)).map {
      case (m, h) =>
        Multimodal.dhashIncrementalMatches(side(true, m), side(false, m), h)
          .withColumn("modality", lit(m))
    }.reduce(_ unionByName _)
      .select(col("doc_new"), col("modality"), col("dup_of"), col("hamming"))
      .orderBy(col("doc_new")).collect().toSeq
    assert(incr === live)
    // every batch doc's matches come from the corpus side only (the
    // asymmetry: a batch doc can never be dropped against another batch
    // doc here — that is the within-batch collapse's job)
    assert(incr.forall(r => r.getLong(0) % 10 == 0 && r.getLong(2) % 10 != 0))
  }

  test("media export is versioned: racing builders commit DISTINCT snapshots, both readable") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.sql.Row
    val wh = graft.operators.Artifacts.wh
    val key = "media_keep_spec_race"
    wh.dropTable(key)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("modality", StringType)))
    def frame(tag: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(tag, "image"), Row(tag + 1, "audio"))),
      schema)
    // two concurrent builders racing the reservation CAS
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val vs = Await.result(
      Future.sequence(Seq(10L, 20L).map(t =>
        Future(wh.versionedWrite(frame(t), key, Seq("modality"))))),
      5.minutes)
    assert(vs.toSet.size === 2, s"racing builds must land distinct versions, got $vs")
    // both snapshots committed intact — neither tore the other's files
    for (v <- vs) {
      val rows = wh.readVersion(spark, key, Some(v))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(rows === Set(10L, 11L) || rows === Set(20L, 21L))
      assert(rows.size === 2)
    }
    // the real export reads are PINNED: two reads return the same snapshot
    val a = Multimodal.MediaExportFixture.read(spark, sf)
      .orderBy(col("doc_id")).collect().toSeq
    val b = Multimodal.MediaExportFixture.read(spark, sf)
      .orderBy(col("doc_id")).collect().toSeq
    assert(a === b && a.nonEmpty)
  }
}
