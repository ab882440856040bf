package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based checks (SURVEY.md §5.4) via raw scalacheck (no
  * scalatestplus bridge in the offline cache): engine semantics hold for
  * arbitrary inputs, not just the fixtures.
  */
class PropertySpec extends SparkSuiteBase {

  private def check(prop: Prop, n: Int = 30): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("try_cast BIGINT agrees with Scala's Long parse for arbitrary strings") {
    val strings = Gen.oneOf(
      Gen.numStr,
      Gen.alphaNumStr,
      Gen.asciiPrintableStr,
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map(_.toString))
    check(Prop.forAll(Gen.listOfN(40, strings)) { xs =>
      val schema = StructType(Seq(StructField("s", StringType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(xs.map(Row(_)), 2), schema)
      val got = df.select(expr("try_cast(s AS BIGINT)")).collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
      // Spark's cast trims whitespace/control chars before parsing
      val want = xs.map(s => scala.util.Try(s.trim.toLong).toOption)
      got == want
    }, n = 15)
  }

  test("conditional array unpack never throws and branches on size==21 for arbitrary lengths") {
    val arrGen = Gen.chooseNum(0, 25).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-1000L, 1000L)))
    check(Prop.forAll(Gen.listOfN(30, arrGen)) { arrays =>
      val schema = StructType(Seq(StructField("event_params", ArrayType(LongType))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(arrays.map(a => Row(a)), 2), schema)
      val out = df.select(
        when(size(col("event_params")) === 21, try_element_at(col("event_params"), lit(1)))
          .otherwise(lit(null)).as("transaction_id"),
        when(size(col("event_params")) === 21, try_element_at(col("event_params"), lit(3)))
          .otherwise(try_element_at(col("event_params"), lit(1))).as("transaction_number"))
        .collect()
      out.zip(arrays).forall { case (r, a) =>
        if (a.length == 21) !r.isNullAt(0) && r.getLong(0) == a.head && r.getLong(1) == a(2)
        else r.isNullAt(0) &&
          (if (a.isEmpty) r.isNullAt(1) else r.getLong(1) == a.head)
      }
    }, n = 15)
  }

  test("saltedJoin equals the plain join for arbitrary (skewed) data") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val rowGen = for {
      k <- Gen.chooseNum(0L, 3L) // few keys -> heavy skew
      v <- Gen.chooseNum(-100L, 100L)
    } yield (k, v)
    check(Prop.forAll(Gen.listOfN(60, rowGen), Gen.listOfN(10, rowGen)) { (ls, rs) =>
      val schema = StructType(Seq(StructField("lk", LongType), StructField("lv", LongType)))
      val rschema = StructType(Seq(StructField("rk", LongType), StructField("rv", LongType)))
      val l = spark.createDataFrame(
        spark.sparkContext.parallelize(ls.map { case (k, v) => Row(k, v) }, 3), schema)
      val r = spark.createDataFrame(
        spark.sparkContext.parallelize(rs.map { case (k, v) => Row(k, v) }, 2), rschema)
      val salted = graft.operators.Relational
        .saltedJoin(l, "lk", xxhash64(col("lv")), r, "rk", buckets = 4)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val plain = l.join(r, col("lk") === col("rk"))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
        .groupBy(identity).view.mapValues(_.length).toMap
      salted == plain
    }, n = 10)
  }

  test("TopKBuffer matches a sort-based reference for arbitrary inserts") {
    val entryGen = for {
      s <- Gen.chooseNum(-50.0, 50.0)
      id <- Gen.chooseNum(0L, 30L) // small range -> score ties happen
    } yield (s, id)
    check(Prop.forAll(Gen.listOfN(40, entryGen), Gen.chooseNum(1, 6)) { (xs, k) =>
      val buf = new graft.plans.TopKBuffer(k)
      xs.foreach { case (s, id) => buf.insert(s, id) }
      val got = (0 until buf.size).map(i => (buf.scores(i), buf.ids(i))).toList
      // duplicates are kept by the buffer, so the reference is a plain
      // stable sort on (score DESC, id ASC) truncated to k
      val want = xs.sortBy { case (s, id) => (-s, id) }.take(k)
      got == want
    }, n = 20)
  }

  test("BottomKBuffer = k smallest DISTINCT hashes ascending, MIN payload, any insert order") {
    val entryGen = for {
      h <- Gen.chooseNum(0L, 50L) // small domain forces duplicate hashes
      v <- Gen.chooseNum(-100.0, 100.0)
    } yield (h, v)
    check(Prop.forAll(Gen.listOfN(60, entryGen), Gen.chooseNum(1, 8)) { (xs, k) =>
      val buf = new graft.plans.BottomKBuffer(k)
      xs.foreach { case (h, v) => buf.insert(h, v) }
      val got = (0 until buf.size).map(i => (buf.hs(i), buf.vs(i))).toList
      // reference: MIN payload per hash, k smallest hashes ascending — the
      // arrival-order-independent rule the oracle's GROUP BY hh + min()
      // dedup reproduces exactly (a hash outside the k smallest can never
      // influence a kept payload, so global min == min-over-kept-hash rows)
      val want = xs.groupBy(_._1).map { case (h, vs) => (h, vs.map(_._2).min) }
        .toList.sortBy(_._1).take(k)
      got == want
    }, n = 20)
  }

  test("connectedComponents equals a union-find reference on random graphs") {
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 24L)
      b <- Gen.chooseNum(0L, 24L)
      if a != b
    } yield (math.min(a, b), math.max(a, b))
    check(Prop.forAll(Gen.listOfN(15, edgeGen)) { edges =>
      edges.isEmpty || {
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(edges.map { case (a, b) => Row(a, b) }, 2),
          StructType(Seq(StructField("doc_a", LongType), StructField("doc_b", LongType))))
        val got = graft.operators.Dedup.connectedComponents(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // union-find reference with min-label roots
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(n => n -> find(n)).toMap
        got == want
      }
    }, n = 10)
  }

  test("graft_dot is commutative and matches a plain Scala fold for arbitrary float vectors") {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val vecGen = Gen.chooseNum(1, 16).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-100f, 100f)))
    check(Prop.forAll(vecGen) { v =>
      val schema = StructType(Seq(
        StructField("a", ArrayType(FloatType)), StructField("b", ArrayType(FloatType))))
      val rev = v.reverse
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(v, rev)), 1), schema)
      val r = df.select(
        call_function("graft_dot", col("a"), col("b")).as("ab"),
        call_function("graft_dot", col("b"), col("a")).as("ba")).collect()(0)
      val want = v.zip(rev).map { case (x, y) => x.toDouble * y.toDouble }.sum
      r.getDouble(0) == r.getDouble(1) &&
        math.abs(r.getDouble(0) - want) <= math.abs(want) * 1e-12 + 1e-12
    }, n = 15)
  }

  test("content-hash split: total, deterministic, and duplicate-safe for arbitrary corpora") {
    // the contamination-safety contract behind txt_split_assign: every doc
    // gets exactly one split, the assignment is a pure function of the
    // TEXT (so replays and duplicates can never straddle splits), and the
    // three buckets partition the hash space 80/10/10
    val docGen = Gen.listOfN(25, Gen.alphaNumStr.map(s => s.take(30)))
    check(Prop.forAll(docGen) { texts =>
      val withDups = texts ++ texts.take(5) // force duplicates
      val schema = StructType(Seq(StructField("text", StringType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(withDups.map(Row(_)), 3), schema)
      val assign = df.select(col("text"),
        pmod(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long"), lit(100L))
          .as("bucket"))
        .select(col("text"),
          when(col("bucket") < 80, "train").when(col("bucket") < 90, "val")
            .otherwise("test").as("split"))
        .collect().map(r => (r.getString(0), r.getString(1)))
      val byText = assign.groupBy(_._1).view.mapValues(_.map(_._2).distinct)
      assign.length == withDups.length &&
        byText.values.forall(_.length == 1) // identical text -> identical split, always
    }, n = 15)
  }

  test("integer div credit split conserves value up to n-1 remainder units for arbitrary inputs") {
    // the multi-touch attribution arithmetic: v*10^6 div n summed n times
    // loses strictly less than n units of 1e-8 dollars, never gains
    val g = for {
      cents <- Gen.chooseNum(1L, 10000000L)
      n <- Gen.chooseNum(1, 500)
    } yield (cents, n)
    check(Prop.forAll(g) { case (cents, n) =>
      val per = cents * 1000000L / n
      val total = per * n
      total <= cents * 1000000L && cents * 1000000L - total < n
    }, n = 50)
  }

  test("refreshRollup-style partition overwrite: any replay order of daily batches converges") {
    import scala.util.Random
    val g = Gen.chooseNum(1L, Long.MaxValue).map(new Random(_))
    check(Prop.forAll(g) { rnd =>
      val wh = new graft.pipeline.Warehouse(tmpDir("whprop"))
      val rows = (0 until 60).map { i =>
        Row(f"2024-01-${i % 3 + 1}%02d", s"k${i % 4}", rnd.nextInt(100).toLong)
      }
      val schema = StructType(Seq(StructField("ds", StringType),
        StructField("k", StringType), StructField("v", LongType)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
      // replay days in a random order, some twice
      val order = rnd.shuffle(days ++ rnd.shuffle(days).take(2))
      order.foreach { d =>
        wh.refreshRollup(df.filter(col("ds") === d), "r", "ds", Seq("k"),
          Seq(sum(col("v")).as("sv"), count(lit(1)).as("n")))
      }
      val got = wh.read(spark, "r")
        .select(col("ds").cast("string"), col("k"), col("sv"), col("n"))
        .collect().map(_.toSeq).toSet
      val want = df.groupBy(col("ds"), col("k"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSet
      got == want
    }, n = 8)
  }

  test("PngCodec round-trips ARBITRARY small images pixel-exactly (both color types, all filters)") {
    import graft.operators.Multimodal.PngCodec
    val gen = for {
      w <- Gen.chooseNum(1, 24)
      h <- Gen.chooseNum(1, 24)
      ct <- Gen.oneOf(2, 6)
      seed <- Gen.chooseNum(0, 100000)
    } yield (w, h, ct, seed)
    check(Prop.forAll(gen) { case (w, h, ct, seed) =>
      def px(y: Int, x: Int, c: Int): Int = (seed * 31 + y * 13 + x * 7 + c * 3) % 256
      PngCodec.decode(PngCodec.encode(w, h, ct, px)) match {
        case Right(d) =>
          val ch = if (ct == 2) 3 else 4
          d.width == w && d.height == h && d.channels == ch &&
            (0 until h).forall(y => (0 until w).forall(x => (0 until ch).forall(c =>
              (d.pixels((y * w + x) * ch + c) & 0xff) == px(y, x, c))))
        case Left(_) => false
      }
    }, n = 40)
  }

  test("WAV features replay a sequential reference for ARBITRARY PCM streams") {
    import graft.operators.Multimodal
    val gen = for {
      ch <- Gen.oneOf(1, 2)
      n <- Gen.chooseNum(0, 60)
      samples <- Gen.listOfN(n, Gen.chooseNum(Short.MinValue.toInt, Short.MaxValue.toInt))
      trailing <- Gen.oneOf(true, false)
    } yield (ch, samples, trailing)
    val mediaSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", BinaryType)))
    check(Prop.forAll(gen) { case (ch, samples, trailing) =>
      val data0 = samples.flatMap(v => Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
      val data = (if (trailing) data0 :+ 42.toByte else data0).toArray
      val bb = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + data.length).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(ch.toShort)
        .putInt(16000).putInt(16000 * ch * 2).putShort((ch * 2).toShort).putShort(16)
      bb.put("data".getBytes).putInt(data.length).put(data)
      val media = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(1L, bb.array()))), mediaSchema)
      val r = Multimodal.wavFeatures(media).collect().head
      // sequential reference: the trailing odd byte never counts
      val byCh = samples.zipWithIndex.groupBy(_._2 % ch)
        .view.mapValues(_.map(_._1)).toMap
      def zc(vs: Seq[Int]) = vs.sliding(2).count {
        case Seq(a, b) => (a < 0) != (b < 0); case _ => false }
      def absSum(vs: Seq[Int]) = vs.map(v => math.abs(v).toLong).sum
      if (samples.isEmpty)
        r.getString(1) == "wav" && r.getLong(3) == 0L && r.isNullAt(4)
      else {
        val ok0 = r.getLong(4) == zc(byCh.getOrElse(0, Nil)).toLong &&
          r.getLong(6) == absSum(byCh.getOrElse(0, Nil))
        val ok1 =
          if (ch == 2)
            r.getLong(5) == zc(byCh.getOrElse(1, Nil)).toLong &&
              r.getLong(7) == absSum(byCh.getOrElse(1, Nil))
          else r.isNullAt(5) && r.isNullAt(7)
        r.getString(1) == "wav" && r.getLong(3) == samples.length.toLong && ok0 && ok1
      }
    }, n = 12)
  }

  test("GzipCodec: arbitrary multi-member archives round-trip bytes and names exactly") {
    import graft.operators.Crawl.GzipCodec
    val member = for {
      n <- Gen.chooseNum(0, 400)
      data <- Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
      named <- Gen.oneOf(true, false)
      name <- Gen.alphaNumStr.map(_.take(12))
    } yield (if (named && name.nonEmpty) Some(name) else None, data.map(_.toByte).toArray)
    check(Prop.forAll(Gen.chooseNum(1, 6).flatMap(k => Gen.listOfN(k, member))) { ms =>
      GzipCodec.decodeMembers(GzipCodec.encodeMembers(ms)) match {
        case Right(out) =>
          out.length == ms.length && out.zip(ms).forall { case (o, (n, d)) =>
            o.name == n && o.data.sameElements(d)
          }
        case Left(_) => false
      }
    }, n = 25)
  }

  test("GzipCodec.MemberIterator: streamed decode == eager decode; salvage is the verified prefix") {
    import graft.operators.Crawl.GzipCodec
    val member = for {
      n <- Gen.chooseNum(0, 300)
      data <- Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
      named <- Gen.oneOf(true, false)
      name <- Gen.alphaNumStr.map(_.take(10))
    } yield (if (named && name.nonEmpty) Some(name) else None, data.map(_.toByte).toArray)
    check(Prop.forAll(for {
      ms <- Gen.chooseNum(1, 5).flatMap(k => Gen.listOfN(k, member))
      corruptTail <- Gen.oneOf(true, false)
    } yield (ms, corruptTail)) { case (ms, corruptTail) =>
      val clean = GzipCodec.encodeMembers(ms)
      val bytes =
        if (!corruptTail) clean
        else {
          val bad = GzipCodec.encodeMember("x".getBytes)
          bad(bad.length - 1) = (bad(bad.length - 1) ^ 0x5a).toByte
          clean ++ bad
        }
      val streamed = scala.util.Try(
        new GzipCodec.MemberIterator(
          new java.io.ByteArrayInputStream(bytes)).toList)
      val salvaged = GzipCodec.salvageIterator(bytes).toList
      def matches(out: Seq[GzipCodec.Member]) =
        out.length == ms.length && out.zip(ms).forall { case (o, (n, d)) =>
          o.name == n && o.data.sameElements(d)
        }
      if (!corruptTail)
        // streamed == eager == salvage on a clean archive
        streamed.toOption.exists(matches) && matches(salvaged) &&
          GzipCodec.decodeMembers(bytes).exists(matches)
      else
        // corrupt tail: the iterator throws typed AFTER the verified
        // prefix; salvage keeps exactly that prefix; eager is Left
        streamed.isFailure &&
          streamed.failed.get.isInstanceOf[GzipCodec.CorruptArchive] &&
          matches(salvaged) && GzipCodec.decodeMembers(bytes).isLeft
    }, n = 25)
  }

  test("JpegCodec: arbitrary per-block coefficients round-trip pixel-exactly for arbitrary widths") {
    import graft.operators.Multimodal.JpegCodec
    val blockGen = for {
      dcq <- Gen.chooseNum(-24, 25) // levels 80..178
      acm <- Gen.chooseNum(-2, 2)
    } yield (dcq, acm)
    check(Prop.forAll(for {
      nBlocks <- Gen.chooseNum(1, 5)
      blocks <- Gen.listOfN(nBlocks, blockGen)
      restart <- Gen.oneOf(0, 2)
    } yield (blocks, restart)) { case (blocks, restart) =>
      val w = blocks.length * 8
      val bytes = JpegCodec.encodeGray(w, bi => blocks(bi), restart)
      JpegCodec.decode(bytes) match {
        case Right(d) =>
          val p = d.planes.head
          d.width == w && d.height == 8 && d.planes.length == 1 &&
            (0 until 8).forall { y =>
              (0 until w).forall { x =>
                val (dcq, acm) = blocks(x / 8)
                val sgn = if (Set(0, 3, 4, 7)(x % 8)) 1 else -1
                (p.data(y * w + x) & 0xff) == 128 + 2 * dcq + sgn * 2 * acm
              }
            }
        case Left(_) => false
      }
    }, n = 25)
  }

  test("JpegCodec.decode is TOTAL: arbitrary byte mutations return Left or Right, never throw") {
    import graft.operators.Multimodal.JpegCodec
    val base = JpegCodec.encodeGray(16, bi => (5 + bi, 1))
    check(Prop.forAll(for {
      at <- Gen.chooseNum(0, base.length - 1)
      v <- Gen.chooseNum(0, 255)
      alsoTruncate <- Gen.oneOf(true, false)
      keep <- Gen.chooseNum(2, base.length)
    } yield (at, v, alsoTruncate, keep)) { case (at, v, alsoTruncate, keep) =>
      val mutated = base.clone()
      mutated(at) = v.toByte
      val input = if (alsoTruncate) mutated.take(keep) else mutated
      // total function: any structural damage is a typed Left, and a
      // harmless mutation (e.g. inside the APP0 payload) still decodes
      scala.util.Try(JpegCodec.decode(input)).isSuccess
    }, n = 50)
  }

  test("HttpCodec: arbitrary binary bodies round-trip under BOTH framings at arbitrary chunk sizes") {
    import graft.operators.Crawl.HttpCodec
    val gen = for {
      n <- Gen.chooseNum(0, 500)
      body <- Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
      chunked <- Gen.oneOf(true, false)
      chunkSize <- Gen.chooseNum(1, 97)
      status <- Gen.chooseNum(100, 599)
    } yield (body.map(_.toByte).toArray, chunked, chunkSize, status)
    check(Prop.forAll(gen) { case (body, chunked, chunkSize, status) =>
      val wire = HttpCodec.encode(status, "R", Seq("X-K" -> "v"),
        body, chunked, chunkSize)
      HttpCodec.decode(wire) match {
        case Right(r) => r.status == status && r.body.sameElements(body)
        case Left(_) => false
      }
    }, n = 40)
  }

  test("WarcCodec: arbitrary headers and binary bodies round-trip; truncation always degrades typed") {
    import graft.operators.Crawl.WarcCodec
    val hdr = for {
      k <- Gen.alphaStr.suchThat(_.nonEmpty).map(h => "X-" + h.take(10))
      v <- Gen.alphaNumStr.map(_.take(20))
    } yield (k, v)
    val rec = for {
      hs <- Gen.listOfN(3, hdr)
      n <- Gen.chooseNum(0, 300)
      body <- Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
    } yield (hs, body.map(_.toByte).toArray)
    check(Prop.forAll(rec) { case (hs, body) =>
      val bytes = WarcCodec.encode(hs, body)
      val rt = WarcCodec.decode(bytes) match {
        case Right(r) =>
          r.body.sameElements(body) &&
            hs.forall { case (k, v) => r.headers.get(k).contains(v) }
        case Left(_) => false
      }
      // any strict prefix must fail typed, never return a record
      val cut = bytes.length / 2
      rt && (cut == 0 || WarcCodec.decode(bytes.take(cut)).isLeft)
    }, n = 25)
  }

  test("Y4mCodec: arbitrary dims/frames round-trip every sample through encode/decode") {
    import graft.operators.Multimodal.Y4mCodec
    val clip = for {
      w <- Gen.chooseNum(1, 10)
      h <- Gen.chooseNum(1, 8)
      nf <- Gen.chooseNum(0, 4)
      seed <- Gen.chooseNum(0, 1000)
    } yield (w, h, nf, seed)
    check(Prop.forAll(clip) { case (w, h, nf, seed) =>
      def px(f: Int, p: Int, y: Int, x: Int) = (seed + f * 13 + p * 17 + y * 7 + x * 5) % 256
      Y4mCodec.decode(Y4mCodec.encode(w, h, nf, px)) match {
        case Right(v) =>
          v.width == w && v.height == h && v.nFrames == nf &&
            (0 until nf).forall { f =>
              (0 until 3).forall { p =>
                (0 until h).forall { y =>
                  (0 until w).forall { x =>
                    (v.frames(f)(p * w * h + y * w + x) & 0xff) == px(f, p, y, x)
                  }
                }
              }
            }
        case Left(_) => false
      }
    }, n = 30)
  }

  test("Utf8Impl.is_valid agrees with the JDK strict decoder for arbitrary byte arrays") {
    import graft.plans.Utf8Impl
    val bytesGen = for {
      n <- Gen.chooseNum(0, 60)
      // bias toward the interesting range: high bytes and ASCII mixed
      bs <- Gen.listOfN(n, Gen.frequency(
        3 -> Gen.chooseNum(0, 127), 2 -> Gen.chooseNum(128, 255)))
    } yield bs.map(_.toByte).toArray
    check(Prop.forAll(bytesGen) { bytes =>
      val s = Utf8Impl.stats(bytes)
      val jdkValid = try {
        java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
          .decode(java.nio.ByteBuffer.wrap(bytes))
        true
      } catch { case _: java.nio.charset.CharacterCodingException => false }
      (s.invalidBytes == 0L) == jdkValid &&
        // and on valid input the char count matches the JDK exactly
        (!jdkValid || s.validChars ==
          new String(bytes, "UTF-8").codePointCount(0, new String(bytes, "UTF-8").length))
    }, n = 60)
  }

  test("HtmlTextImpl: tag-free text is preserved modulo whitespace normalization; wrapping never leaks markup") {
    import graft.plans.HtmlTextImpl
    val word = Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(8))
    val textGen = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    check(Prop.forAll(textGen) { t =>
      val norm = t.split("\\s+").filter(_.nonEmpty).mkString(" ")
      val s = HtmlTextImpl.extract(s"<html><body><p>$t</p></body></html>")
      s.text == norm && s.tags == 6 && s.links == 0
    }, n = 40)
  }
}
