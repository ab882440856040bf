package graft

import graft.operators.Crawl
import graft.operators.Crawl.{GzipCodec, HttpCodec, WarcCodec}
import org.apache.spark.sql.functions._

class CrawlSpec extends SparkSuiteBase {

  test("GzipCodec: member round-trip with FNAME, multi-member concatenation, exact consumption") {
    val a = "hello crawl world".getBytes("UTF-8")
    val b = "second member".getBytes("UTF-8")
    val archive = GzipCodec.encodeMembers(Seq(Some("a.txt") -> a, None -> b))
    val Right(members) = GzipCodec.decodeMembers(archive)
    assert(members.length == 2)
    assert(members(0).name.contains("a.txt") && members(0).data.sameElements(a))
    assert(members(1).name.isEmpty && members(1).data.sameElements(b))
    // a member with an empty payload is legal
    val Right(e) = GzipCodec.decodeMembers(GzipCodec.encodeMember(Array.emptyByteArray))
    assert(e.head.data.isEmpty)
  }

  test("GzipCodec: interop — java.util.zip reads our members, we read java.util.zip output") {
    val data = "interop check payload".getBytes("UTF-8")
    // our encoder -> JDK decoder
    val jdkIn = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(GzipCodec.encodeMember(data, Some("x"))))
    assert(jdkIn.readAllBytes().sameElements(data))
    // JDK encoder -> our decoder
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(data); gz.close()
    val Right(m) = GzipCodec.decodeMembers(bos.toByteArray)
    assert(m.head.data.sameElements(data))
  }

  test("GzipCodec: every malformation degrades typed") {
    val ok = GzipCodec.encodeMember("payload bytes".getBytes("UTF-8"), Some("n"))
    assert(GzipCodec.decodeMembers(Array.emptyByteArray).left.exists(_ == "empty archive"))
    assert(GzipCodec.decodeMembers("definitely not a gzip archive".getBytes)
      .left.exists(_ == "bad gzip magic"))
    // flip a payload byte -> CRC mismatch
    val bad = ok.clone(); bad(ok.length - 12) = (bad(ok.length - 12) ^ 0x01).toByte
    assert(GzipCodec.decodeMembers(bad).left.exists(e =>
      e == "member CRC mismatch" || e.startsWith("truncated")))
    // flip an ISIZE byte
    val badIsize = ok.clone(); badIsize(ok.length - 1) = 0x7f
    assert(GzipCodec.decodeMembers(badIsize).left.exists(_ == "member ISIZE mismatch"))
    // truncations
    assert(GzipCodec.decodeMembers(ok.take(5)).left.exists(_ == "truncated member header"))
    assert(GzipCodec.decodeMembers(ok.dropRight(4)).left.exists(_ == "truncated member trailer"))
    assert(GzipCodec.decodeMembers(ok.dropRight(12)).isLeft)
    // reserved flag bits
    val badFlg = ok.clone(); badFlg(3) = 0x20
    assert(GzipCodec.decodeMembers(badFlg).left.exists(_ == "reserved flag bits set"))
    // trailing garbage is a (failed) next member, never silently ignored
    assert(GzipCodec.decodeMembers(ok ++ "junk".getBytes).isLeft)
  }

  test("WarcCodec: record round-trip and the degrade ladder") {
    val body = "<html>x</html>".getBytes("UTF-8")
    val rec = WarcCodec.encode(Seq("WARC-Type" -> "response", "K" -> "v"), body)
    val Right(r) = WarcCodec.decode(rec)
    assert(r.version == "WARC/1.0")
    assert(r.headers("WARC-Type") == "response" && r.headers("K") == "v")
    assert(r.headers("Content-Length") == body.length.toString)
    assert(r.body.sameElements(body))
    assert(WarcCodec.decode("HTTP/1.1 200 OK\r\n\r\n".getBytes)
      .left.exists(_ == "bad warc version"))
    assert(WarcCodec.decode("WARC/1.0\r\nNoColonHere\r\n\r\n".getBytes)
      .left.exists(_ == "malformed header line"))
    assert(WarcCodec.decode("WARC/1.0\r\nA: b\r\n\r\nbody\r\n\r\n".getBytes)
      .left.exists(_ == "missing Content-Length"))
    assert(WarcCodec.decode(rec.dropRight(6)).left.exists(_ == "truncated body"))
    assert(WarcCodec.decode(rec.dropRight(1)).left.exists(_ == "truncated body"))
    assert(WarcCodec.decode(rec ++ "x".getBytes).left.exists(_ == "trailing garbage"))
  }

  test("MemberIterator: decodes a shard far larger than any single buffer in bounded memory") {
    // The archive is NEVER materialized: the test stream generates one
    // compressed member at a time, and the iterator holds one inflated
    // member at a time — 64 MB of logical inflated payload flows through
    // with peak live memory of one member (+ the 64 KB read window). A
    // whole-shard readAllBytes/Array[Member] implementation could not
    // pass without allocating the full archive this stream never holds.
    val nMembers = 256
    val memberBytes = 256 * 1024
    def memberData(idx: Int): Array[Byte] =
      Array.tabulate[Byte](memberBytes)(i => ((i * 31 + idx * 7) & 0xff).toByte)
    class GeneratedArchiveStream extends java.io.InputStream {
      private var idx = 0
      private var cur: java.io.ByteArrayInputStream = advance()
      private def advance(): java.io.ByteArrayInputStream =
        if (idx >= nMembers) null
        else {
          val chunk = GzipCodec.encodeMember(memberData(idx), Some(s"m-$idx"))
          idx += 1
          new java.io.ByteArrayInputStream(chunk)
        }
      override def read(): Int = {
        val one = new Array[Byte](1)
        if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        if (cur == null) -1
        else {
          val n = cur.read(b, off, len)
          if (n >= 0) n
          else { cur = advance(); read(b, off, len) }
        }
    }
    val it = new GzipCodec.MemberIterator(new GeneratedArchiveStream)
    var count = 0
    var totalBytes = 0L
    var sampleOk = true
    while (it.hasNext) {
      val m = it.next() // released on the next advance
      if (count % 64 == 0)
        sampleOk &&= m.data.sameElements(memberData(count)) &&
          m.name.contains(s"m-$count")
      totalBytes += m.data.length
      count += 1
    }
    assert(count == nMembers)
    assert(totalBytes == nMembers.toLong * memberBytes)
    assert(sampleOk)
  }

  test("MemberIterator/salvageIterator: mid-archive corruption — verified prefix, typed stop") {
    val good = (0 until 3).map(i => Some(s"g-$i") -> s"member $i body".getBytes("UTF-8"))
    val corrupt = {
      val m = GzipCodec.encodeMember("doomed".getBytes("UTF-8"))
      m(m.length - 1) = 0x7f // ISIZE byte flip
      m
    }
    val bytes = GzipCodec.encodeMembers(good) ++ corrupt
    // the incremental iterator yields the CRC-verified prefix, then throws typed
    val it = new GzipCodec.MemberIterator(new java.io.ByteArrayInputStream(bytes))
    val prefix = (0 until 3).map(_ => it.next())
    assert(prefix.map(_.name.get) == Seq("g-0", "g-1", "g-2"))
    val e = intercept[GzipCodec.CorruptArchive](it.hasNext)
    assert(e.reason == "member ISIZE mismatch")
    // the salvage view ends cleanly at the last verified boundary
    val salvaged = GzipCodec.salvageIterator(bytes).toSeq
    assert(salvaged.map(_.name.get) == Seq("g-0", "g-1", "g-2"))
    // all-or-nothing accounting is unchanged: the archive is Left as a whole
    assert(GzipCodec.decodeMembers(bytes).left.exists(_ == "member ISIZE mismatch"))
    // crawlTexts salvages the responses before the corruption point
    val resp = GzipCodec.encodeMember(WarcCodec.encode(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> "<urn:graft:7>"),
      "<html><body>ok</body></html>".getBytes("UTF-8")))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, resp ++ corrupt))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType))))
    val texts = Crawl.crawlTexts(media, "payload").collect()
    assert(texts.length == 1 && texts(0).getLong(0) == 7L &&
      texts(0).getString(1) == "ok")
  }

  test("robots Crawl-delay: parse, group precedence, malformed values, group splits") {
    import graft.operators.Crawl.RobotsCodec
    val txt =
      """User-agent: graftbot
        |Disallow: /x
        |Crawl-delay: 3
        |
        |User-agent: *
        |Crawl-delay: 5
        |Disallow: /never
        |""".stripMargin
    val g = RobotsCodec.parse(txt)
    // named group wins over * for the delay, same precedence as rules
    assert(RobotsCodec.delayFor(g, "graftbot") === Some(3))
    assert(RobotsCodec.delayFor(g, "otherbot") === Some(5))
    // a crawl-delay-only group still splits at the next user-agent
    val g2 = RobotsCodec.parse(
      """User-agent: a
        |Crawl-delay: 2
        |User-agent: b
        |Disallow: /q
        |""".stripMargin)
    assert(g2.length === 2)
    assert(RobotsCodec.delayFor(g2, "a") === Some(2))
    assert(RobotsCodec.delayFor(g2, "b") === None)
    assert(RobotsCodec.rulesFor(g2, "b").nonEmpty)
    // malformed and negative values are ignored; the STRICTEST (max)
    // declared delay wins — politeness never under-waits
    val g3 = RobotsCodec.parse(
      """User-agent: c
        |Crawl-delay: soon
        |User-agent: c
        |Crawl-delay: -1
        |User-agent: c
        |Crawl-delay: 7
        |User-agent: c
        |Crawl-delay: 4
        |""".stripMargin)
    assert(RobotsCodec.delayFor(g3, "c") === Some(7))
    // fractional delays (widespread in real robots.txt) ceil, never drop
    val g4 = RobotsCodec.parse(
      """User-agent: d
        |Crawl-delay: 0.5
        |""".stripMargin)
    assert(RobotsCodec.delayFor(g4, "d") === Some(1))
  }

  test("charset degrade: extraction DROPS the record, stats types it (pinned contract)") {
    // one record declaring windows-1251 whose body bytes are invalid in
    // it (0x98 is unmapped in cp1251): decodeBody degrades typed
    val badBody = Array[Byte](0x3c, 'p'.toByte, 0x3e, 0x98.toByte, 0x3c,
      '/'.toByte, 'p'.toByte, 0x3e)
    val rec = GzipCodec.encodeMember(WarcCodec.encode(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> "<urn:graft:11>",
      "Content-Type" -> "application/http; msgtype=response"),
      HttpCodec.encode(200, "OK",
        Seq("Content-Type" -> "text/html; charset=windows-1251"),
        badBody, chunked = false)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(11L, rec))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType))))
    // DOCUMENT path: no trustworthy text -> no row (never a garbage doc)
    assert(Crawl.crawlTexts(media, "payload").collect().isEmpty)
    // STATS path: the record-level accounting keeps a TYPED degrade row
    val stats = Crawl.crawlExtract(media).collect()
    assert(stats.length === 1)
    assert(stats(0).getString(1) === "charset-bad-bytes")
  }

  test("decodeBody tolerates whitespace around charset= and single quotes") {
    val bytes = "héllo".getBytes("ISO-8859-1")
    for (ct <- Seq("text/html; charset = ISO-8859-1",
        "text/html; charset='ISO-8859-1'",
        "text/html; CHARSET=\"iso-8859-1\""))
      assert(Crawl.decodeBody(Some(ct), bytes) === Right("héllo"), ct)
    // no declaration still defaults to UTF-8
    assert(Crawl.decodeBody(Some("text/html"), "ok".getBytes("UTF-8"))
      === Right("ok"))
  }

  test("WarcCodec.encode guards framing: CR/LF and caller-supplied Content-Length rejected") {
    intercept[IllegalArgumentException] {
      WarcCodec.encode(Seq("X" -> "a\r\nInjected: v"), "b".getBytes)
    }
    intercept[IllegalArgumentException] {
      WarcCodec.encode(Seq("Bad\rKey" -> "v"), "b".getBytes)
    }
    intercept[IllegalArgumentException] {
      WarcCodec.encode(Seq("Content-Length" -> "9999"), "b".getBytes)
    }
    intercept[IllegalArgumentException] {
      WarcCodec.encode(Seq("content-length" -> "1"), "b".getBytes)
    }
    // sane headers still round-trip
    assert(WarcCodec.decode(WarcCodec.encode(
      Seq("WARC-Type" -> "response"), "ok".getBytes)).isRight)
  }

  test("HttpCodec: Content-Length, chunked, and close-delimited framings round-trip; degrade ladder") {
    import graft.operators.Crawl.HttpCodec
    val body = ("x" * 137).getBytes("UTF-8") // not a multiple of any chunk size
    // Content-Length framing
    val cl = HttpCodec.encode(200, "OK", Seq("Content-Type" -> "text/html"), body, chunked = false)
    val Right(r1) = HttpCodec.decode(cl)
    assert(r1.status == 200 && r1.body.sameElements(body))
    assert(r1.headers("content-type") == "text/html")
    // chunked framing, odd chunk size
    val ch = HttpCodec.encode(404, "Not Found", Seq("X" -> "y"), body, chunked = true, chunkSize = 13)
    val Right(r2) = HttpCodec.decode(ch)
    assert(r2.status == 404 && r2.body.sameElements(body))
    // the wire form genuinely contains hex chunk-size lines
    assert(new String(ch, "ISO-8859-1").contains("\r\nd\r\n"))
    // close-delimited: no framing header, body = rest of bytes
    val closed = ("HTTP/1.1 200 OK\r\nServer: x\r\n\r\n").getBytes("ISO-8859-1") ++ body
    val Right(r3) = HttpCodec.decode(closed)
    assert(r3.body.sameElements(body))
    // chunk extensions are ignored per RFC 9112
    val ext = ("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
      "5;ext=1\r\nhello\r\n0\r\n\r\n").getBytes("ISO-8859-1")
    assert(HttpCodec.decode(ext).toOption.get.body.sameElements("hello".getBytes))
    // degrade ladder
    assert(HttpCodec.decode("not http".getBytes).left.exists(_ == "missing status line"))
    assert(HttpCodec.decode("FTP/1.1 200 OK\r\n\r\n".getBytes).left.exists(_ == "bad status line"))
    assert(HttpCodec.decode("HTTP/1.1 abc X\r\n\r\n".getBytes).left.exists(_ == "bad status code"))
    assert(HttpCodec.decode(cl.dropRight(5)).left.exists(_ == "truncated body"))
    assert(HttpCodec.decode(ch.dropRight(5)).isLeft)
    assert(HttpCodec.decode(("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
      "zz\r\n").getBytes).left.exists(_ == "bad chunk size"))
    assert(HttpCodec.decode("HTTP/1.1 200 OK\r\nNoColon\r\n\r\n".getBytes)
      .left.exists(_ == "malformed header line"))
    // encode guards CR/LF header injection like WarcCodec
    intercept[IllegalArgumentException] {
      HttpCodec.encode(200, "OK", Seq("X" -> "a\r\nInjected: v"), body, chunked = false)
    }
  }

  test("RobotsCodec: RFC 9309 group selection, wildcard/$ matching, longest-match precedence") {
    import graft.operators.Crawl.RobotsCodec
    val txt =
      """# comment line
        |Sitemap: https://x/sitemap.xml
        |Disallow: /orphan-rule-before-any-group
        |
        |User-agent: GraftBot
        |User-agent: secondbot
        |Disallow: /a
        |Allow: /a/b   # trailing comment
        |Disallow: /*.pdf$
        |Disallow:
        |Unknown-directive: zzz
        |
        |User-agent: *
        |Disallow: /
        |""".stripMargin
    val groups = RobotsCodec.parse(txt)
    assert(groups.length == 2)
    assert(groups.head.agents == Seq("graftbot", "secondbot"),
      "stacked User-agent lines share one group, case-folded")
    assert(groups.head.rules.length == 3, "empty Disallow and unknown keys are no-ops")
    // group selection: named group beats *, so graftbot is NOT fully blocked
    val rules = RobotsCodec.rulesFor(groups, "GRAFTBOT")
    assert(rules.length == 3)
    assert(RobotsCodec.rulesFor(groups, "strangerbot")
      .contains(RobotsCodec.Rule(allow = false, "/")), "unknown agents get the * group")
    // longest-match precedence: /a blocked, /a/b carved back out
    assert(!RobotsCodec.allowed(rules, "/a/x"))
    assert(RobotsCodec.allowed(rules, "/a/b/deep"))
    assert(RobotsCodec.allowed(rules, "/elsewhere"), "no matching rule => allowed")
    // $ anchor with * wildcard: only paths ENDING .pdf
    assert(!RobotsCodec.allowed(rules, "/files/doc.pdf"))
    assert(RobotsCodec.allowed(rules, "/files/doc.pdfx"))
    assert(RobotsCodec.allowed(rules, "/files/pdf.html"))
    // tie goes to Allow (equal-length patterns)
    val tie = Seq(RobotsCodec.Rule(allow = false, "/abc"),
      RobotsCodec.Rule(allow = true, "/ab*"))
    assert(RobotsCodec.allowed(tie, "/abcd"))
  }

  test("robotsVerdicts: a domain with NO robots row is ALLOWED, never dropped (RFC 9309)") {
    import spark.implicits._
    val frontier = Seq(
      "https://covered.com/a/x",
      "https://uncovered.org/anything").toDF("url")
    val robots = Seq(("covered.com",
      "User-agent: *\nDisallow: /a\n")).toDF("domain", "robots_txt")
    val out = Crawl.robotsVerdicts(frontier, robots, "anybot").collect()
      .map(r => r.getString(1) -> r.getBoolean(2)).toMap
    assert(out.size == 2, "every frontier URL must receive a verdict")
    assert(!out("covered.com"))
    assert(out("uncovered.org"), "unavailable robots.txt means crawling is allowed")
  }

  test("HttpCodec.encode guards: reason CR/LF injection and non-positive chunk sizes rejected") {
    import graft.operators.Crawl.HttpCodec
    intercept[IllegalArgumentException] {
      HttpCodec.encode(200, "OK\r\nX-Evil: 1", Nil, "b".getBytes, chunked = false)
    }
    intercept[IllegalArgumentException] {
      HttpCodec.encode(200, "OK", Nil, "b".getBytes, chunked = true, chunkSize = 0)
    }
    intercept[IllegalArgumentException] {
      HttpCodec.encode(200, "OK", Nil, "b".getBytes, chunked = true, chunkSize = -3)
    }
    // framing headers are writer-owned (the WarcCodec.encode rule): a
    // caller-supplied Content-Length/Transfer-Encoding would produce
    // duplicate/conflicting framing on the wire
    intercept[IllegalArgumentException] {
      HttpCodec.encode(200, "OK", Seq("content-length" -> "7"),
        "b".getBytes, chunked = false)
    }
    intercept[IllegalArgumentException] {
      HttpCodec.encode(200, "OK", Seq("Transfer-Encoding" -> "chunked"),
        "b".getBytes, chunked = true)
    }
  }

  test("redirect resolution rule ladder: relative base, loop, chain cap, dangling") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // a synthetic parsed-record frame exercising the paths the main
    // fixture can't reach: a 6-long chain that must hit the 5-hop cap,
    // a relative Location, a 2-cycle, and a dangling absolute target
    val chain = (0 to 6).map(i =>
      Row(100L + i, "http", s"https://h.com/c$i", 301L, s"https://h.com/c${i + 1}"))
    val rows = chain ++ Seq(
      Row(107L, "http", "https://h.com/c7", 200L, null),
      // relative: /landing resolves against h.com and lands on the 200 below
      Row(110L, "http", "https://h.com/start", 301L, "/landing"),
      Row(111L, "http", "https://h.com/landing", 200L, null),
      // 2-cycle
      Row(120L, "http", "https://h.com/a", 302L, "https://h.com/b"),
      Row(121L, "http", "https://h.com/b", 301L, "https://h.com/a"),
      // dangling absolute
      Row(130L, "http", "https://h.com/x", 301L, "https://h.com/nowhere"),
      // a corrupt row must not participate at all
      Row(140L, "warc-corrupt", null, null, null),
      // protocol-relative: //host/path takes the BASE's scheme
      Row(150L, "http", "https://h.com/dir/a", 301L, "//x.com/z"),
      // path-relative: resolves against the base's directory
      Row(151L, "http", "https://h.com/dir/a2", 301L, "b2"),
      Row(152L, "http", "https://h.com/dir/b2", 200L, null),
      // a 3xx with NO Location is typed out, never silently dropped
      Row(153L, "http", "https://h.com/noloc", 301L, null),
      // a slash inside the base QUERY must not leak into relative
      // resolution — the directory comes from the PATH alone
      Row(160L, "http", "https://h.com/w/deep?v=a/b", 301L, "n3"),
      Row(161L, "http", "https://h.com/w/n3", 200L, null),
      // an absolute Location with an UPPERCASE scheme passes through
      // verbatim (RFC 3986 schemes are case-insensitive) — it must not
      // be mangled into a path-relative concatenation
      Row(162L, "http", "https://h.com/up", 301L, "HTTPS://h.com/c7"),
      // chains CROSS hosts via absolute Locations (the main fixture is
      // same-host by construction; a real frontier is not)
      Row(170L, "http", "https://a.com/x", 301L, "https://b.com/y"),
      Row(171L, "http", "https://b.com/y", 302L, "https://c.com/z"),
      Row(172L, "http", "https://c.com/z", 200L, null))
    val recs = spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("format", StringType), StructField("url", StringType),
        StructField("status", LongType), StructField("location", StringType))))
    val out = Crawl.resolveRedirects(recs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(3), r.getString(4)))).toMap
    // chain head 100: follows 101..104 (5 hops taken), still redirecting
    assert(out(100L) === ((5L, "chain_cap", "https://h.com/c5")))
    // mid-chain 102: c3, c4, c5, c6, then c7 is a 200 — exactly 5 hops, ok
    assert(out(102L) === ((5L, "ok", "https://h.com/c7")))
    assert(out(110L) === ((1L, "ok", "https://h.com/landing")),
      "relative Location must resolve against the record's own host")
    assert(out(120L)._2 === "loop")
    assert(out(121L)._2 === "loop")
    assert(out(130L) === ((1L, "dangling", "https://h.com/nowhere")))
    assert(!out.contains(140L), "corrupt records must not enter resolution")
    assert(out(150L) === ((1L, "dangling", "https://x.com/z")),
      "protocol-relative Location must take the base scheme + its own host")
    assert(out(151L) === ((1L, "ok", "https://h.com/dir/b2")),
      "path-relative Location must resolve against the base directory")
    assert(out(153L) === ((0L, "no_location", "https://h.com/noloc")),
      "a 3xx without Location gets a typed verdict")
    assert(out(160L) === ((1L, "ok", "https://h.com/w/n3")),
      "base-query slashes must not leak into the resolution directory")
    assert(out(162L)._3 === "HTTPS://h.com/c7",
      "uppercase-scheme absolute Locations pass through verbatim")
    assert(out(170L) === ((2L, "ok", "https://c.com/z")),
      "chains must follow across hosts")
    // canon column only for ok landings
    val canon = Crawl.resolveRedirects(recs)
      .collect().map(r => r.getLong(0) -> Option(r.getString(5))).toMap
    assert(canon(110L) === Some("https://h.com/landing"))
    assert(canon(120L) === None)
  }

  test("incremental frontier walk: asymmetric parity, duplicate-edge collapse") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("format", StringType), StructField("url", StringType),
      StructField("status", LongType), StructField("location", StringType)))
    val rows = Seq(
      // duplicate SOURCE records for the same url (normal in a recrawl
      // frontier): the edge table must collapse to the min-doc_id
      // record's target, and each RECORD still gets exactly one verdict
      Row(200L, "http", "https://d.com/s", 301L, "https://d.com/t1"),
      Row(201L, "http", "https://d.com/s", 301L, "https://d.com/t2"),
      Row(202L, "http", "https://d.com/t1", 200L, null),
      // a chain THROUGH the duplicated url follows the collapsed edge
      Row(203L, "http", "https://d.com/head", 301L, "https://d.com/s"),
      // duplicate 200 records for one url must not fan the settle join
      Row(204L, "http", "https://d.com/t1", 200L, null),
      Row(210L, "http", "https://d.com/p", 301L, "https://d.com/t1"))
    val recs = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val full = Crawl.resolveRedirects(recs)
    assert(full.groupBy("doc_id").count().filter(col("count") > 1).isEmpty,
      "duplicate source/terminal records must not fan out settled rows")
    val got = full.collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3), r.getString(4))))
      .toMap
    assert(got(200L) === ((1L, "ok", "https://d.com/t1")))
    // record 201's OWN Location starts its walk (its target is what the
    // record says), but the EDGE for d.com/s is the min-record's t1
    assert(got(201L) === ((1L, "dangling", "https://d.com/t2")))
    assert(got(203L) === ((2L, "ok", "https://d.com/t1")),
      "a chain through a duplicated url follows the min-doc_id edge")
    assert(got(210L) === ((1L, "ok", "https://d.com/t1")))
    // asymmetric parity: walking only a batch slice against the full
    // archive == the full walk filtered to the batch's sources
    val batch = recs.filter(col("doc_id") % 2 === 0)
    val inc = Crawl.resolveRedirectsAgainst(batch, recs)
    val expect = full.filter(col("doc_id") % 2 === 0)
    assert(inc.orderBy("doc_id").collect().toSeq ===
      expect.orderBy("doc_id").collect().toSeq)
  }

  test("crawl_frontier_incr: artifact-vs-live parity on the fixture") {
    // the incremental query (batch decoded live, archive side read from
    // the persisted parsed-record artifact) must produce exactly the
    // full walk's rows for the batch's sources
    val live = Crawl.queries("crawl_redirects")(spark, sf0001)
      .filter(col("doc_id") % 10 === 0)
    val incr = Crawl.queries("crawl_frontier_incr")(spark, sf0001)
    assert(incr.count() > 0)
    assert(incr.orderBy("doc_id").collect().toSeq ===
      live.orderBy("doc_id").collect().toSeq)
  }

  test("url canonicalization rule ladder: ports, tracking params, fragments, case") {
    import spark.implicits._
    val got = graft.operators.Crawl.canonicalizedUrls(Seq(
      // non-default port SURVIVES (the fixture only exercises defaults)
      "https://Example.COM:8443/a?utm_campaign=z&z=9&a=1#frag",
      // default port for the scheme is stripped
      "http://H.com:80/x",
      "https://h.com:443/x",
      // https' default port on http is NOT default — kept
      "http://h.com:443/x",
      // tracking params gone even mid-list; survivors sorted; no '?' left
      "http://h.com/p?utm_source=a",
      "http://h.com/p?gclid=1&b=2&fbclid=2&a=1"
    ).toDF("url")).select("url", "canon_url").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("https://Example.COM:8443/a?utm_campaign=z&z=9&a=1#frag") ==
      "https://example.com:8443/a?a=1&z=9")
    assert(got("http://H.com:80/x") == "http://h.com/x")
    assert(got("https://h.com:443/x") == "https://h.com/x")
    assert(got("http://h.com:443/x") == "http://h.com:443/x")
    assert(got("http://h.com/p?utm_source=a") == "http://h.com/p")
    assert(got("http://h.com/p?gclid=1&b=2&fbclid=2&a=1") == "http://h.com/p?a=1&b=2")
  }

  test("decodeBody: charset parse ladder — quoted/cased labels, legacy transcode, typed degrades") {
    import graft.operators.Crawl.decodeBody
    def ct(v: String) = Some(s"text/html; $v")
    // absent charset defaults to UTF-8
    assert(decodeBody(None, "déjà".getBytes("UTF-8")) == Right("déjà"))
    assert(decodeBody(Some("text/html"), "x".getBytes) == Right("x"))
    // label parsing: quoted, mixed case, trailing parameters
    assert(decodeBody(ct("charset=\"ISO-8859-1\""),
      "café ±".getBytes("ISO-8859-1")) == Right("café ±"))
    assert(decodeBody(ct("CHARSET=Windows-1251; boundary=x"),
      "привет".getBytes("windows-1251")) == Right("привет"))
    // the decisive windows-1252 byte: 0x80 is € there, UNMAPPABLE in
    // ISO-8859-1's IANA mapping as text — misreading the label changes
    // the output, so transcoding is observable
    val euro = "€uro".getBytes("windows-1252")
    assert(decodeBody(ct("charset=windows-1252"), euro) == Right("€uro"))
    assert(decodeBody(ct("charset=utf-8"), euro) == Left("charset-bad-bytes"),
      "cp1252 bytes are not valid UTF-8 — strict decode must degrade, not replace")
    // unknown label -> typed degrade
    assert(decodeBody(ct("charset=x-no-such-enc"), "x".getBytes) ==
      Left("charset-unknown"))
    // declared UTF-8 with an invalid byte -> bad-bytes degrade
    assert(decodeBody(ct("charset=utf-8"), Array[Byte]('a', 0xFF.toByte)) ==
      Left("charset-bad-bytes"))
  }

  test("crawl pipeline: layer failures degrade to the failing layer's class; Arrow == row") {
    val docs = Tables.documents(spark, sf0001)
    val media = Crawl.attachWarcGzMedia(docs)
    def one(payload: Array[Byte]) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L, payload))),
      media.schema)
    // layer 1: not gzip
    assert(Crawl.crawlExtract(one("plain".getBytes)).collect()(0).getString(1)
      == "gzip-corrupt")
    // layer 2: valid gzip member whose content is not a WARC record
    assert(Crawl.crawlExtract(one(GzipCodec.encodeMember("not warc".getBytes)))
      .collect()(0).getString(1) == "warc-corrupt")
    // layer 3: valid WARC but no response record
    val reqOnly = GzipCodec.encodeMember(WarcCodec.encode(
      Seq("WARC-Type" -> "request"), "GET /".getBytes))
    val r3 = Crawl.crawlExtract(one(reqOnly)).collect()(0)
    assert(r3.getString(1) == "no-response" && r3.getLong(2) == 1L)
    // layer 4: response record DECLARING application/http whose message
    // is malformed — the new HTTP layer's typed class
    val badHttp = GzipCodec.encodeMember(WarcCodec.encode(
      Seq("WARC-Type" -> "response",
        "WARC-Record-ID" -> "<urn:graft:9>",
        "Content-Type" -> "application/http; msgtype=response"),
      "GARBAGE not an http message".getBytes))
    val r4 = Crawl.crawlExtract(one(badHttp)).collect()(0)
    assert(r4.getString(1) == "http-corrupt")
    // a record NOT declaring HTTP still passes its body through directly
    // (the pre-HTTP fixture shape keeps working)
    val bare = GzipCodec.encodeMember(WarcCodec.encode(
      Seq("WARC-Type" -> "response",
        "WARC-Record-ID" -> "<urn:graft:5>",
        "Content-Type" -> "text/html"),
      "<html><body>bare</body></html>".getBytes))
    val r5 = Crawl.crawlExtract(one(bare)).collect()(0)
    assert(r5.getString(1) == "warc" && r5.getLong(7) == 4L) // "bare"
    // every member-fixture archive decodes as gzip
    val gz = Crawl.attachGzipMedia(docs)
    assert(Crawl.decodeGzip(gz).collect().forall(_.getString(1) == "gzip"))
  }
}
