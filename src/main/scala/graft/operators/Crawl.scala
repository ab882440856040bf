package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Crawl-archive ingestion — the formats a web-scale training corpus
  * actually arrives in, decoded with REAL codecs (no archive library):
  *
  *  - [[GzipCodec]]: RFC 1952 gzip MEMBERS — header flag parsing
  *    (FEXTRA/FNAME/FCOMMENT/FHCRC), raw-DEFLATE inflate via
  *    `java.util.zip.Inflater(nowrap)`, CRC32 + ISIZE trailer
  *    verification, and multi-member concatenation (the `.warc.gz` /
  *    `.jsonl.gz` shard shape: each record its own member, so a reader
  *    can seek to any member boundary without decompressing the shard).
  *  - [[WarcCodec]]: ISO 28500 WARC records — version line, CRLF header
  *    block, exact Content-Length body slicing, record terminator.
  *  - [[HttpCodec]]: RFC 9112 HTTP/1.1 response messages — the layer a
  *    real WARC `response` record carries (`application/http`): status
  *    line, header block, Content-Length / CHUNKED / close-delimited
  *    body framing, trailer skip.
  *
  * The capstone `pipe_crawl_e2e` is the CommonCrawl ingestion pipeline
  * end to end: gzip members → WARC records → response filtering → HTTP
  * message parse (dechunking) → HTML visible-text extraction
  * ([[graft.plans.HtmlTextImpl]]) — every stage a real parser, verified
  * against the oracle's independent generator replay (the oracle never
  * sees a single archive byte).
  *
  * Scale posture: all decode stages run inside ONE narrow
  * `MapPartitions` pass ([[Rows.mapPartitions]]) — archive bytes are
  * decoded where they are read and never shuffle; only per-document stat rows continue to
  * the presentation sort. Malformed members/records degrade to typed
  * reasons, never garbage output.
  */
object Crawl extends QueryModule {

  /** RFC 1952 gzip, member-structured. The encoder writes canonical
    * members (optional FNAME); the decoder is the production path:
    * header + flag walk → raw inflate → CRC32/ISIZE trailer check →
    * next member, until the archive is exactly consumed.
    */
  object GzipCodec {
    case class Member(name: Option[String], data: Array[Byte])

    /** Typed malformation signal for the streaming decoder — same reason
      * strings [[decodeMembers]] returns as `Left`.
      */
    final case class CorruptArchive(reason: String)
        extends RuntimeException(reason)

    /** Incremental member decoder over a raw `InputStream`: inflates ONE
      * member per advance, CRC32 + ISIZE-verifies it, and releases it
      * before decoding the next — peak memory is one inflated member plus
      * a fixed 64 KB read window, never the shard. This is the production
      * read path for real `.warc.gz` shards (~1 GB compressed, several GB
      * inflated): the member-structured format exists precisely so a
      * reader can walk it member-at-a-time, and the eager
      * [[decodeMembers]] (whole-shard `Array[Member]`) is now just a
      * convenience wrapper over this iterator for doc-sized payloads.
      * Malformations throw [[CorruptArchive]] at the failing advance;
      * members already returned were individually CRC-verified and remain
      * valid.
      */
    final class MemberIterator(in: java.io.InputStream, bufSize: Int = 1 << 16)
        extends Iterator[Member] {
      private val buf = new Array[Byte](bufSize)
      private var bufPos = 0
      private var bufLen = 0
      private var eof = false
      private var pending: Member = null
      private var done = false

      /** Ensure ≥1 buffered byte; false at end of stream. */
      private def fill(): Boolean =
        if (bufPos < bufLen) true
        else if (eof) false
        else {
          bufPos = 0
          bufLen = 0
          var n = 0
          while (bufLen == 0 && { n = in.read(buf); n >= 0 })
            bufLen = n
          if (bufLen == 0) { eof = true; false } else true
        }

      private def readByte(err: String): Int = {
        if (!fill()) throw CorruptArchive(err)
        val b = buf(bufPos) & 0xff
        bufPos += 1
        b
      }

      private def skipBytes(n: Int, err: String): Unit = {
        var k = n
        while (k > 0) { readByte(err): Unit; k -= 1 }
      }

      private def le4(err: String): Long = {
        var v = 0L
        var i = 0
        while (i < 4) { v |= readByte(err).toLong << (8 * i); i += 1 }
        v
      }

      private def decodeNext(): Member = {
        if (readByte("truncated member header") != 0x1f ||
            readByte("truncated member header") != 0x8b)
          throw CorruptArchive("bad gzip magic")
        if (readByte("truncated member header") != 8)
          throw CorruptArchive("unsupported compression method")
        val flg = readByte("truncated member header")
        if ((flg & 0xe0) != 0) throw CorruptArchive("reserved flag bits set")
        skipBytes(6, "truncated member header") // MTIME, XFL, OS
        if ((flg & 0x04) != 0) { // FEXTRA
          val lo = readByte("truncated FEXTRA")
          val hi = readByte("truncated FEXTRA")
          skipBytes(lo | (hi << 8), "truncated FEXTRA")
        }
        var name: Option[String] = None
        if ((flg & 0x08) != 0) { // FNAME
          val nb = new java.io.ByteArrayOutputStream()
          var b = readByte("unterminated FNAME")
          while (b != 0) { nb.write(b); b = readByte("unterminated FNAME") }
          name = Some(new String(nb.toByteArray, "ISO-8859-1"))
        }
        if ((flg & 0x10) != 0) { // FCOMMENT
          var b = readByte("unterminated FCOMMENT")
          while (b != 0) b = readByte("unterminated FCOMMENT")
        }
        if ((flg & 0x02) != 0) skipBytes(2, "truncated FHCRC")
        val inflater = new java.util.zip.Inflater(true)
        val data = new java.io.ByteArrayOutputStream()
        val out = new Array[Byte](8192)
        try {
          inflater.setInput(buf, bufPos, bufLen - bufPos)
          while (!inflater.finished()) {
            val n =
              try inflater.inflate(out)
              catch {
                case e: java.util.zip.DataFormatException =>
                  throw CorruptArchive(
                    s"decode error: ${e.getClass.getSimpleName}")
              }
            if (n > 0) data.write(out, 0, n)
            else if (inflater.needsInput()) {
              bufPos = bufLen // the window is fully consumed
              if (!fill()) throw CorruptArchive("truncated deflate stream")
              inflater.setInput(buf, bufPos, bufLen - bufPos)
            } else if (!inflater.finished())
              throw CorruptArchive("truncated deflate stream")
          }
          bufPos = bufLen - inflater.getRemaining
        } finally inflater.end()
        val raw = data.toByteArray
        val crc = new java.util.zip.CRC32()
        crc.update(raw)
        if (le4("truncated member trailer") != crc.getValue)
          throw CorruptArchive("member CRC mismatch")
        if (le4("truncated member trailer") !=
            (raw.length.toLong & 0xffffffffL))
          throw CorruptArchive("member ISIZE mismatch")
        Member(name, raw)
      }

      override def hasNext: Boolean =
        pending != null || (!done && {
          if (!fill()) { done = true; false }
          else { pending = decodeNext(); true }
        })

      override def next(): Member = {
        if (!hasNext) throw new NoSuchElementException("end of archive")
        val m = pending
        pending = null
        m
      }
    }

    def encodeMember(data: Array[Byte], name: Option[String] = None): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val flg = if (name.isDefined) 0x08 else 0x00
      out.write(Array[Byte](0x1f.toByte, 0x8b.toByte, 8, flg.toByte,
        0, 0, 0, 0, // MTIME = 0
        0, 0xff.toByte)) // XFL, OS = unknown
      name.foreach { n => out.write(n.getBytes("ISO-8859-1")); out.write(0) }
      val deflater = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      deflater.setInput(data); deflater.finish()
      val buf = new Array[Byte](4096)
      while (!deflater.finished()) {
        val n = deflater.deflate(buf); out.write(buf, 0, n)
      }
      deflater.end()
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      def le4(v: Long): Unit = {
        out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
        out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
      }
      le4(crc.getValue)
      le4(data.length.toLong & 0xffffffffL)
      out.toByteArray
    }

    def encodeMembers(members: Seq[(Option[String], Array[Byte])]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      members.foreach { case (n, d) => out.write(encodeMember(d, n)) }
      out.toByteArray
    }

    /** Decode ALL members; the archive must be exactly consumed. Every
      * malformation — bad magic, unsupported compression method, reserved
      * flag bits, truncated header/stream, CRC or ISIZE mismatch,
      * trailing garbage — returns a typed Left.
      */
    /** Lazy SALVAGE view of an in-memory archive: stream members one at a
      * time until end-of-archive or the first malformation, then stop. A
      * broken member boundary makes everything after it unreachable in a
      * sequential gzip stream, so the CRC-verified prefix is exactly what
      * a production ingest can keep from a shard with one bad record; the
      * per-archive all-or-nothing accounting (corrupt ⇒ typed class, zero
      * data rows) stays with [[decodeMembers]] / `crawlExtract`.
      */
    def salvageIterator(bytes: Array[Byte]): Iterator[Member] = {
      val it = new MemberIterator(new java.io.ByteArrayInputStream(bytes))
      new Iterator[Member] {
        private var dead = false
        override def hasNext: Boolean = !dead &&
          (try it.hasNext
          catch { case CorruptArchive(_) => dead = true; false })
        override def next(): Member = {
          if (!hasNext) throw new NoSuchElementException("end of archive")
          it.next()
        }
      }
    }

    def decodeMembers(bytes: Array[Byte]): Either[String, Seq[Member]] = try {
      if (bytes.length == 0) return Left("empty archive")
      val it = new MemberIterator(new java.io.ByteArrayInputStream(bytes))
      val members = scala.collection.mutable.ArrayBuffer[Member]()
      while (it.hasNext) members += it.next()
      Right(members.toSeq)
    } catch {
      case CorruptArchive(reason) => Left(reason)
      case scala.util.control.NonFatal(e) =>
        Left(s"decode error: ${e.getClass.getSimpleName}")
    }
  }

  /** ISO 28500 WARC records: `WARC/1.0\r\n`, header lines, blank line,
    * exactly Content-Length body bytes, `\r\n\r\n` terminator.
    */
  object WarcCodec {
    case class WarcRecord(version: String, headers: Map[String, String],
                          body: Array[Byte])

    def encode(headers: Seq[(String, String)], body: Array[Byte]): Array[Byte] = {
      // guard the framing invariants decode() relies on: a CR/LF inside a
      // key or value would terminate a header line early (mis-slicing the
      // block), and a caller-supplied Content-Length would conflict with
      // the one derived from the actual body below
      headers.foreach { case (k, v) =>
        require(!k.exists(c => c == '\r' || c == '\n') &&
            !v.exists(c => c == '\r' || c == '\n'),
          s"WARC header may not contain CR/LF: $k")
        require(!k.equalsIgnoreCase("Content-Length"),
          "Content-Length is derived from the body, not caller-supplied")
      }
      val sb = new StringBuilder("WARC/1.0\r\n")
      headers.foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
      sb.append(s"Content-Length: ${body.length}\r\n\r\n")
      val head = sb.toString.getBytes("UTF-8")
      val out = new Array[Byte](head.length + body.length + 4)
      System.arraycopy(head, 0, out, 0, head.length)
      System.arraycopy(body, 0, out, head.length, body.length)
      System.arraycopy("\r\n\r\n".getBytes("US-ASCII"), 0, out,
        head.length + body.length, 4)
      out
    }

    def decode(bytes: Array[Byte]): Either[String, WarcRecord] = try {
      def lineEnd(from: Int): Int = {
        var i = from
        while (i + 1 < bytes.length &&
          !(bytes(i) == '\r' && bytes(i + 1) == '\n')) i += 1
        if (i + 1 >= bytes.length) -1 else i
      }
      val vEnd = lineEnd(0)
      if (vEnd < 0) return Left("missing version line")
      val version = new String(bytes, 0, vEnd, "UTF-8")
      if (!version.startsWith("WARC/")) return Left("bad warc version")
      var p = vEnd + 2
      val headers = scala.collection.mutable.LinkedHashMap[String, String]()
      var done = false
      while (!done) {
        val e = lineEnd(p)
        if (e < 0) return Left("unterminated header block")
        if (e == p) { done = true; p += 2 } // blank line
        else {
          val line = new String(bytes, p, e - p, "UTF-8")
          val colon = line.indexOf(':')
          if (colon <= 0) return Left("malformed header line")
          headers(line.substring(0, colon).trim) = line.substring(colon + 1).trim
          p = e + 2
        }
      }
      val len = headers.get("Content-Length") match {
        case Some(v) => try v.toInt catch {
          case _: NumberFormatException => return Left("malformed Content-Length")
        }
        case None => return Left("missing Content-Length")
      }
      if (len < 0 || p + len + 4 > bytes.length) return Left("truncated body")
      val body = java.util.Arrays.copyOfRange(bytes, p, p + len)
      val term = new String(bytes, p + len, 4, "US-ASCII")
      if (term != "\r\n\r\n") return Left("missing record terminator")
      if (p + len + 4 != bytes.length) return Left("trailing garbage")
      Right(WarcRecord(version, headers.toMap, body))
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"decode error: ${e.getClass.getSimpleName}")
    }
  }

  /** RFC 9112 HTTP/1.1 response messages — the layer a REAL WARC
    * `response` record carries (`Content-Type: application/http;
    * msgtype=response`): status line, CRLF header block, then the body
    * framed by `Content-Length` or by CHUNKED transfer coding (hex size
    * line + chunk + CRLF per chunk, `0`-chunk + blank trailer to end).
    * The decoder handles both framings plus close-delimited bodies
    * (neither header → everything to EOF), skips trailer fields after
    * the last chunk, and degrades every malformation to a typed reason.
    */
  object HttpCodec {
    case class HttpResponse(status: Int, headers: Map[String, String],
                            body: Array[Byte])

    def encode(status: Int, reason: String, headers: Seq[(String, String)],
        body: Array[Byte], chunked: Boolean, chunkSize: Int = 50): Array[Byte] = {
      require(!chunked || chunkSize > 0,
        "chunked encoding requires a positive chunk size")
      // the reason phrase is caller-supplied wire text too: a CR/LF there
      // would inject header lines just like one inside a header value
      require((reason +: headers.flatMap(h => Seq(h._1, h._2)))
        .forall(s => !s.exists(c => c == '\r' || c == '\n')),
        "HTTP reason/header may not contain CR/LF")
      // framing headers are WRITER-OWNED (the WarcCodec.encode rule): a
      // caller-supplied Content-Length or Transfer-Encoding would emit a
      // message with duplicate/conflicting framing — our decode's
      // last-wins map masks it locally, but the bytes stay ambiguous to
      // any other parser
      require(headers.forall(h =>
        !h._1.equalsIgnoreCase("Content-Length") &&
          !h._1.equalsIgnoreCase("Transfer-Encoding")),
        "framing headers (Content-Length/Transfer-Encoding) are writer-owned")
      val sb = new StringBuilder(s"HTTP/1.1 $status $reason\r\n")
      headers.foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
      val out = new java.io.ByteArrayOutputStream()
      if (chunked) {
        sb.append("Transfer-Encoding: chunked\r\n\r\n")
        out.write(sb.toString.getBytes("ISO-8859-1"))
        var off = 0
        while (off < body.length) {
          val n = math.min(chunkSize, body.length - off)
          out.write(s"${n.toHexString}\r\n".getBytes("US-ASCII"))
          out.write(body, off, n)
          out.write("\r\n".getBytes("US-ASCII"))
          off += n
        }
        out.write("0\r\n\r\n".getBytes("US-ASCII"))
      } else {
        sb.append(s"Content-Length: ${body.length}\r\n\r\n")
        out.write(sb.toString.getBytes("ISO-8859-1"))
        out.write(body, 0, body.length)
      }
      out.toByteArray
    }

    def decode(bytes: Array[Byte]): Either[String, HttpResponse] = try {
      def lineEnd(from: Int): Int = {
        var i = from
        while (i + 1 < bytes.length &&
          !(bytes(i) == '\r' && bytes(i + 1) == '\n')) i += 1
        if (i + 1 >= bytes.length) -1 else i
      }
      val sEnd = lineEnd(0)
      if (sEnd < 0) return Left("missing status line")
      val statusLine = new String(bytes, 0, sEnd, "ISO-8859-1")
      if (!statusLine.startsWith("HTTP/")) return Left("bad status line")
      val parts = statusLine.split(" ", 3)
      if (parts.length < 2) return Left("bad status line")
      val status = try parts(1).toInt catch {
        case _: NumberFormatException => return Left("bad status code")
      }
      var p = sEnd + 2
      val headers = scala.collection.mutable.LinkedHashMap[String, String]()
      var done = false
      while (!done) {
        val e = lineEnd(p)
        if (e < 0) return Left("unterminated header block")
        if (e == p) { done = true; p += 2 }
        else {
          val line = new String(bytes, p, e - p, "ISO-8859-1")
          val colon = line.indexOf(':')
          if (colon <= 0) return Left("malformed header line")
          headers(line.substring(0, colon).trim.toLowerCase) =
            line.substring(colon + 1).trim
          p = e + 2
        }
      }
      val body: Array[Byte] =
        if (headers.get("transfer-encoding").exists(
            _.toLowerCase.contains("chunked"))) {
          val out = new java.io.ByteArrayOutputStream()
          var lastChunk = false
          while (!lastChunk) {
            val e = lineEnd(p)
            if (e < 0) return Left("truncated chunk size")
            val sizeStr = new String(bytes, p, e - p, "US-ASCII")
              .split(";")(0).trim // chunk extensions ignored
            val n = try Integer.parseInt(sizeStr, 16) catch {
              case _: NumberFormatException => return Left("bad chunk size")
            }
            if (n < 0) return Left("bad chunk size")
            p = e + 2
            if (n == 0) lastChunk = true
            else {
              if (p + n + 2 > bytes.length) return Left("truncated chunk")
              out.write(bytes, p, n)
              if (bytes(p + n) != '\r' || bytes(p + n + 1) != '\n')
                return Left("missing chunk terminator")
              p += n + 2
            }
          }
          // trailer section: zero or more fields, then a blank line
          var trailerDone = false
          while (!trailerDone) {
            val e = lineEnd(p)
            if (e < 0) return Left("unterminated trailer")
            if (e == p) { trailerDone = true; p += 2 }
            else p = e + 2
          }
          out.toByteArray
        } else headers.get("content-length") match {
          case Some(v) =>
            val n = try v.toInt catch {
              case _: NumberFormatException =>
                return Left("malformed Content-Length")
            }
            if (n < 0 || p + n > bytes.length) return Left("truncated body")
            java.util.Arrays.copyOfRange(bytes, p, p + n)
          case None => // close-delimited: everything to EOF
            java.util.Arrays.copyOfRange(bytes, p, bytes.length)
        }
      Right(HttpResponse(status, headers.toMap, body))
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"decode error: ${e.getClass.getSimpleName}")
    }
  }

  /** RFC 9309 robots.txt engine — the crawl-compliance gate: group
    * parsing (stacked `User-agent` lines open a group; rules before any
    * group are ignored; `#` comments stripped; unknown directives
    * skipped; keys case-insensitive), group SELECTION (a group naming
    * the agent beats `*`; all matching groups' rules merge), and rule
    * matching with the spec's `*` wildcard and `$` end anchor over the
    * URL's path-and-query, decided by LONGEST-match specificity with
    * ties going to Allow. No matching rule ⇒ allowed. An empty
    * `Disallow:` value is a no-op (allow-everything idiom).
    */
  object RobotsCodec {
    case class Rule(allow: Boolean, pattern: String)
    case class Group(agents: Seq[String], rules: Seq[Rule],
                     delay: Option[Int] = None)

    def parse(text: String): Seq[Group] = {
      val groups = scala.collection.mutable.ArrayBuffer[Group]()
      var agents = scala.collection.mutable.ArrayBuffer[String]()
      var rules = scala.collection.mutable.ArrayBuffer[Rule]()
      var delay: Option[Int] = None
      var inGroup = false
      def flush(): Unit = {
        if (inGroup) groups += Group(agents.toSeq, rules.toSeq, delay)
        agents = scala.collection.mutable.ArrayBuffer[String]()
        rules = scala.collection.mutable.ArrayBuffer[Rule]()
        delay = None
        inGroup = false
      }
      text.split("\n").foreach { raw =>
        val line = raw.takeWhile(_ != '#').trim
        if (line.nonEmpty) {
          val colon = line.indexOf(':')
          if (colon > 0) {
            val key = line.substring(0, colon).trim.toLowerCase
            val value = line.substring(colon + 1).trim
            key match {
              case "user-agent" =>
                // a user-agent AFTER any directive starts a fresh group;
                // stacked user-agent lines extend the current agent set
                if (rules.nonEmpty || delay.nonEmpty) flush()
                agents += value.toLowerCase
                inGroup = true
              case "allow" if inGroup =>
                if (value.nonEmpty) rules += Rule(allow = true, value)
              case "disallow" if inGroup =>
                if (value.nonEmpty) rules += Rule(allow = false, value)
              case "crawl-delay" if inGroup =>
                // the de-facto politeness directive (not in RFC 9309 but
                // honored by every major crawler): seconds, FRACTIONAL
                // values common in the wild ("0.5") — ceil'd so an
                // explicit throttle request never rounds to no delay;
                // malformed/negative ignored, repeated lines keep the first
                if (delay.isEmpty)
                  delay = value.toDoubleOption.filter(_ >= 0)
                    .map(dv => math.ceil(dv).toInt)
              case _ => () // sitemap, unknown: ignored
            }
          }
        }
      }
      flush()
      groups.toSeq
    }

    /** The rules governing `agent`: all groups naming it exactly
      * (case-insensitive) if any, else all `*` groups.
      */
    def rulesFor(groups: Seq[Group], agent: String): Seq[Rule] = {
      val a = agent.toLowerCase
      val named = groups.filter(_.agents.contains(a))
      val chosen = if (named.nonEmpty) named else groups.filter(_.agents.contains("*"))
      chosen.flatMap(_.rules)
    }

    /** The crawl delay governing `agent` under the same group-selection
      * precedence as [[rulesFor]] (named groups beat `*`): the MAXIMUM
      * delay across chosen groups that declare one — for politeness the
      * conservative read is the site's STRICTEST declared rate (the
      * minimum would under-wait by exactly the ratio of the two
      * declarations). None = no delay declared for this agent (the
      * usual case; crawler default applies).
      */
    def delayFor(groups: Seq[Group], agent: String): Option[Int] = {
      val a = agent.toLowerCase
      val named = groups.filter(_.agents.contains(a))
      val chosen = if (named.nonEmpty) named else groups.filter(_.agents.contains("*"))
      val ds = chosen.flatMap(_.delay)
      if (ds.isEmpty) None else Some(ds.max)
    }

    /** RFC 9309 pattern match over path-and-query: literal prefix match
      * with `*` (any octet sequence) and a trailing `$` end anchor.
      */
    def matches(pattern: String, pathQuery: String): Boolean = {
      val anchored = pattern.endsWith("$")
      val p = if (anchored) pattern.dropRight(1) else pattern
      val segs = p.split("\\*", -1) // -1 keeps trailing empty seg for "x*"
      def from(i: Int, segIdx: Int, mustStart: Boolean): Boolean =
        if (segIdx == segs.length)
          !anchored || i == pathQuery.length
        else {
          val seg = segs(segIdx)
          if (mustStart) {
            pathQuery.startsWith(seg, i) &&
              from(i + seg.length, segIdx + 1, mustStart = false)
          } else if (segIdx == segs.length - 1 && anchored) {
            // last segment under $: must sit at the very end
            pathQuery.length - i >= seg.length && pathQuery.endsWith(seg)
          } else if (seg.isEmpty) from(i, segIdx + 1, mustStart = false)
          else {
            var at = pathQuery.indexOf(seg, i)
            var ok = false
            while (at >= 0 && !ok) {
              ok = from(at + seg.length, segIdx + 1, mustStart = false)
              if (!ok) at = pathQuery.indexOf(seg, at + 1)
            }
            ok
          }
        }
      from(0, 0, mustStart = true)
    }

    /** Longest-match decision: the matching rule with the longest raw
      * pattern wins; ties go to Allow; no match ⇒ allowed.
      */
    def allowed(rules: Seq[Rule], pathQuery: String): Boolean = {
      val matching = rules.filter(r => matches(r.pattern, pathQuery))
      if (matching.isEmpty) true
      else {
        val maxLen = matching.map(_.pattern.length).max
        matching.filter(_.pattern.length == maxLen).exists(_.allow)
      }
    }
  }

  /** The payload of a WARC `response` record: if the record declares
    * `application/http` content (the real CommonCrawl shape), the body
    * is an HTTP/1.1 message — parse it (status line, headers, chunked or
    * Content-Length framing) and return ITS body; otherwise the WARC
    * body is the payload directly. Left = the HTTP layer is declared
    * but malformed.
    */
  private[operators] def responsePayload(
      rec: WarcCodec.WarcRecord): Either[String, Array[Byte]] =
    if (rec.headers.get("Content-Type").exists(
        _.toLowerCase.startsWith("application/http")))
      HttpCodec.decode(rec.body).map(_.body)
    else Right(rec.body)

  /** Effective content-type + payload bytes of a response record: an
    * HTTP-layered record surfaces the HTTP header block's Content-Type
    * (where real pages declare their charset); a bare record surfaces the
    * WARC header's. Left = the declared HTTP layer doesn't parse.
    */
  private[operators] def responseContent(
      rec: WarcCodec.WarcRecord): Either[String, (Option[String], Array[Byte])] =
    if (rec.headers.get("Content-Type").exists(
        _.toLowerCase.startsWith("application/http")))
      HttpCodec.decode(rec.body).map(h => (h.headers.get("content-type"), h.body))
    else Right((rec.headers.get("Content-Type"), rec.body))

  /** CHARSET-AWARE body decoding — the load-then-type discipline applied
    * to crawl text (the reference loads bytes raw and types later,
    * `dags/daily_search_history.py:44-49`; the crawl twin must transcode
    * before extraction or legacy-charset pages — windows-1251, Shift_JIS,
    * GBK, all over real CommonCrawl — extract as mojibake). Rules:
    *  - the `charset=` parameter of the Content-Type header (quoted or
    *    bare, case-insensitive) names the encoding; absent → UTF-8 (the
    *    HTML5/CommonCrawl default);
    *  - any charset the JVM knows decodes (UTF-8, the ISO-8859 family,
    *    windows-125x, Shift_JIS, EUC-JP/KR, GBK, Big5, KOI8-R, ...);
    *    an unknown label is the typed degrade `charset-unknown`;
    *  - decoding is STRICT (malformed input REPORTs, never silently
    *    replaces — the utf8-audit discipline): bytes that don't conform
    *    to the declared charset degrade as `charset-bad-bytes`.
    */
  private[graft] def decodeBody(
      contentType: Option[String], body: Array[Byte]): Either[String, String] = {
    // tolerate real-world parameter spellings: optional whitespace around
    // '=' ("charset = utf-8") and single- as well as double-quoted values
    // ("charset='utf-8'") — all must honor the declaration, not silently
    // fall back to UTF-8 (and so mis-decode or mis-degrade legacy bytes)
    val declared = contentType.flatMap { ct =>
      ct.split(";").iterator.drop(1).map(_.trim).flatMap { p =>
        val eq = p.indexOf('=')
        if (eq < 0) None
        else if (p.substring(0, eq).trim.equalsIgnoreCase("charset"))
          Some(p.substring(eq + 1).trim
            .stripPrefix("\"").stripSuffix("\"")
            .stripPrefix("'").stripSuffix("'").trim)
        else None
      }.nextOption()
    }
    val name = declared.filter(_.nonEmpty).getOrElse("UTF-8")
    val charset =
      try Some(java.nio.charset.Charset.forName(name))
      catch {
        case _: java.nio.charset.IllegalCharsetNameException |
             _: java.nio.charset.UnsupportedCharsetException => None
      }
    charset match {
      case None => Left("charset-unknown")
      case Some(c) =>
        val dec = c.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        try Right(dec.decode(java.nio.ByteBuffer.wrap(body)).toString)
        catch {
          case _: java.nio.charset.CharacterCodingException =>
            Left("charset-bad-bytes")
        }
    }
  }

  // ---- fixtures: archives built from (doc_id, text) so the DuckDB
  // oracle predicts every decoded value independently ----

  /** Multi-member gzip archive of the doc's TEXT: the text's UTF-8 bytes
    * split into `n_chars % 2 + 1` contiguous members, member i named
    * `doc-<id>-<i>`.
    */
  def attachGzipMedia(docs: DataFrame): DataFrame = {
    Rows.mapPartitions(docs.select(col("doc_id"), col("text")),
        Multimodal.payloadSchema)(_.map { r =>
      val id = r.getLong(0)
      val data = r.getString(1).getBytes("UTF-8")
      val k = data.length % 2 + 1
      val cut = data.length / k
      val chunks = (0 until k).map { i =>
        val from = i * cut
        val until = if (i == k - 1) data.length else (i + 1) * cut
        (Some(s"doc-$id-$i"): Option[String],
          java.util.Arrays.copyOfRange(data, from, until))
      }
      Row(id, GzipCodec.encodeMembers(chunks))
    })
  }

  /** The fixture's WARC `request` record for doc `id`. */
  private def requestRecord(id: Long): Array[Byte] =
    WarcCodec.encode(Seq(
      "WARC-Type" -> "request",
      "WARC-Record-ID" -> s"<urn:graft:$id:req>",
      "WARC-Target-URI" -> s"https://example.com/$id"),
      s"GET /$id HTTP/1.1\r\nHost: example.com".getBytes("UTF-8"))

  /** The fixture's WARC `response` record — the REAL CommonCrawl shape:
    * the record body is a full HTTP/1.1 response message (status line,
    * headers, chunked transfer coding for odd ids / Content-Length for
    * even) whose body is the doc's HTML page. The decode chain must now
    * parse FOUR layers (gzip → WARC → HTTP → HTML) to reach the text the
    * oracle predicts.
    */
  private def responseRecord(id: Long, text: String): Array[Byte] =
    WarcCodec.encode(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> s"<urn:graft:$id>",
      "WARC-Target-URI" -> s"https://example.com/$id",
      "Content-Type" -> "application/http; msgtype=response"),
      HttpCodec.encode(200, "OK",
        Seq("Content-Type" -> "text/html; charset=utf-8",
          "Server" -> "graft-fixture"),
        TextAnalysis.htmlTemplate(id, text).getBytes("UTF-8"),
        chunked = id % 2 == 1,
        chunkSize = (id % 5 + 1).toInt * 17))

  /** Charset classes exercised by [[attachCharsetMedia]] /
    * `crawl_charset_extract`: (declared label, non-ASCII marker). The
    * markers are chosen so a wrong decode CANNOT hash right: each uses
    * code points whose bytes differ across the declared encodings (€ is
    * 0x80 in windows-1252 and unmappable in ISO-8859-1; the Cyrillic
    * marker is single-byte in windows-1251 and invalid UTF-8). Class 4
    * declares a label no decoder knows — the typed `charset-unknown`
    * degrade path.
    */
  private val charsetClasses: Seq[(String, String)] = Seq(
    ("utf-8", "déjà ✓"),
    ("ISO-8859-1", "café ±"),
    ("windows-1252", "€uro œuvre"),
    ("windows-1251", "привет мир"),
    ("x-graft-unknown", ""))

  /** Mixed-charset crawl fixture: one WARC response per doc whose HTTP
    * layer declares `charset=<class label>` and whose body is a minimal
    * page of the doc's text plus the class marker, ENCODED in that
    * charset — so the oracle (which only ever sees `documents`) predicts
    * the extraction text, and the Spark side can reach it only by
    * actually transcoding the legacy bytes.
    */
  def attachCharsetMedia(docs: DataFrame): DataFrame = {
    Rows.mapPartitions(docs.select(col("doc_id"), col("text")),
        StructType(Seq(StructField("doc_id", LongType),
          StructField("charset", StringType),
          StructField("payload", BinaryType))))(_.map { r =>
      val id = r.getLong(0)
      val (label, marker) = charsetClasses((id % 5).toInt)
      val page =
        s"<html><body><p>${r.getString(1)} $marker</p></body></html>"
      val cs =
        if (label == "x-graft-unknown") java.nio.charset.StandardCharsets.UTF_8
        else java.nio.charset.Charset.forName(label)
      // STRICT encode (REPORT, never '?'-substitute): corpus text outside
      // the class charset must fail LOUDLY here, not decode to a silent
      // '?' the oracle can't predict (a hash mismatch with no clue)
      val enc = cs.newEncoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      val pageBytes = {
        val bb = enc.encode(java.nio.CharBuffer.wrap(page))
        val arr = new Array[Byte](bb.remaining()); bb.get(arr); arr
      }
      Row(id, label, WarcCodec.encode(Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> s"<urn:graft:$id>",
        "WARC-Target-URI" -> s"https://example.com/$id",
        "Content-Type" -> "application/http; msgtype=response"),
        HttpCodec.encode(200, "OK",
          Seq("Content-Type" -> s"text/html; charset=$label"),
          pageBytes, chunked = false)))
    })
  }

  private val charsetStatSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("charset", StringType),
    StructField("format", StringType),
    StructField("extracted_md5", StringType),
    StructField("n_extracted_chars", LongType)))

  /** A realistic `.warc.gz` shard slice per doc: TWO gzip members — a
    * `request` record, then the `response` record whose body is the
    * doc's HTML page ([[TextAnalysis.htmlTemplate]]).
    */
  def attachWarcGzMedia(docs: DataFrame): DataFrame = {
    Rows.mapPartitions(docs.select(col("doc_id"), col("text")),
        Multimodal.payloadSchema)(_.map { r =>
      val id = r.getLong(0)
      Row(id, GzipCodec.encodeMembers(Seq(
        None -> requestRecord(id),
        None -> responseRecord(id, r.getString(1)))))
    })
  }

  val gzipDecodeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("n_members", LongType),
    StructField("n_raw_bytes", LongType),
    StructField("content_md5", StringType),
    StructField("name_first", StringType)))

  private def gzipDecodeRow(id: Long, bytes: Array[Byte]): Row =
    GzipCodec.decodeMembers(bytes) match {
      case Left(_) => Row(id, "gzip-corrupt", null, null, null, null)
      case Right(members) =>
        // stream members straight into the digest — no concatenated copy
        // (the advertised shard shape is MANY members; an array foldLeft
        // would be quadratic in member count)
        val md = java.security.MessageDigest.getInstance("MD5")
        var total = 0L
        members.foreach { m => md.update(m.data); total += m.data.length }
        Row(id, "gzip", members.length.toLong, total,
          md.digest().map("%02x".format(_)).mkString,
          members.head.name.orNull)
    }

  val crawlSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("n_records", LongType),
    StructField("n_responses", LongType),
    StructField("target_uri", StringType),
    StructField("content_length", LongType),
    StructField("extracted_md5", StringType),
    StructField("n_extracted_chars", LongType),
    StructField("n_links", LongType)))

  /** The full crawl-ingestion chain for ONE archive: gzip members → WARC
    * records → keep responses → charset-aware transcode ([[decodeBody]])
    * → HTML visible-text extraction. Fused in one narrow pass; a failure
    * at ANY layer degrades the whole doc to the failing layer's typed
    * class (`gzip-corrupt` / `warc-corrupt` / `no-response` /
    * `http-corrupt` / `charset-unknown` / `charset-bad-bytes`).
    */
  private def crawlRow(id: Long, bytes: Array[Byte]): Row =
    GzipCodec.decodeMembers(bytes) match {
      case Left(_) => Row(id, "gzip-corrupt", null, null, null, null, null, null, null)
      case Right(members) =>
        val records = members.map(m => WarcCodec.decode(m.data))
        if (records.exists(_.isLeft))
          Row(id, "warc-corrupt", null, null, null, null, null, null, null)
        else {
          val recs = records.map(_.toOption.get)
          val responses = recs.filter(_.headers.get("WARC-Type").contains("response"))
          if (responses.isEmpty)
            Row(id, "no-response", recs.length.toLong, 0L, null, null, null, null, null)
          else {
            val resp = responses.head
            responseContent(resp) match {
              case Left(_) =>
                Row(id, "http-corrupt", recs.length.toLong,
                  responses.length.toLong, null, null, null, null, null)
              case Right((ct, payload)) =>
                decodeBody(ct, payload) match {
                  case Left(reason) =>
                    // typed charset degrade keeps the record-level
                    // accounting (the bytes were reached; only the
                    // text layer is untrusted)
                    Row(id, reason, recs.length.toLong, responses.length.toLong,
                      resp.headers.getOrElse("WARC-Target-URI", null),
                      payload.length.toLong, null, null, null)
                  case Right(html) =>
                    val st = graft.plans.HtmlTextImpl.extract(html)
                    val md = java.security.MessageDigest.getInstance("MD5")
                    Row(id, "warc", recs.length.toLong, responses.length.toLong,
                      resp.headers.getOrElse("WARC-Target-URI", null),
                      payload.length.toLong,
                      md.digest(st.text.getBytes("UTF-8")).map("%02x".format(_)).mkString,
                      st.text.length.toLong, st.links)
                }
            }
          }
        }
    }

  /** `.jsonl.gz` sidecar-metadata payloads: one gzip member per doc whose
    * data is a single JSON line of the doc's metadata.
    */
  def attachGzipJsonlMedia(docs: DataFrame): DataFrame = {
    Rows.mapPartitions(docs.select(col("doc_id"), col("lang"), col("n_chars")),
        Multimodal.payloadSchema)(_.map { r =>
      val line =
        s"""{"doc_id":${r.getLong(0)},"lang":"${r.getString(1)}","n_chars":${r.getLong(2)}}"""
      Row(r.getLong(0), GzipCodec.encodeMember(line.getBytes("UTF-8")))
    })
  }

  /** Archive → text LINES: every member's bytes split on newlines —
    * the generic front half of any `.jsonl.gz` reader (the JSON parse
    * stays declarative, downstream in `from_json`).
    */
  def decodeGzipLines(media: DataFrame): DataFrame =
    Rows.mapPartitions(media.select(col("payload")),
        StructType(Seq(StructField("line", StringType)))) { it =>
      // one-member-at-a-time salvage iterator: peak task memory is one
      // inflated member, not the whole inflated shard — a corrupt member
      // ends that archive's contribution at the last verified boundary
      it.flatMap { row =>
        GzipCodec.salvageIterator(row.getAs[Array[Byte]](0)).flatMap(m =>
          new String(m.data, "UTF-8").split("\n").iterator.filter(_.nonEmpty))
      }.map(Row(_))
    }

  /** Archive → DOCUMENTS: every response record in every member of each
    * archive becomes one (doc_id, text) row — doc identity parsed from
    * the `WARC-Record-ID` header (`<urn:graft:N>`), text = the HTML
    * body's extracted visible text ([[graft.plans.HtmlTextImpl]]). The
    * ingest seam [[graft.streaming.StreamRunner.crawlIngestToWarehouse]]
    * feeds into the dedup publisher. Malformed archives/records and
    * non-response or unidentifiable records yield zero rows here — the
    * accounting query for the corrupt classes is [[crawlExtract]];
    * an ingest pipeline runs both (extract for the corpus, the stats row
    * for the quarantine report).
    */
  private val RecordIdPattern = java.util.regex.Pattern.compile("urn:graft:(\\d+)")

  /** One WARC member's bytes → the extracted (doc_id, text) row, if it is
    * an identifiable response record — the per-member unit shared by the
    * in-row [[crawlTexts]] and the file-based [[crawlTextsFromFiles]].
    */
  /** One WARC member → the extracted (doc_id, text) row, or None.
    *
    * CONTRACT (deliberate, spec-pinned in CrawlSpec): this is the
    * DOCUMENT-extraction path — a record whose text layer can't be
    * trusted (charset-unknown / bad bytes / unparseable HTTP) yields NO
    * document, because there is no text to emit; it does NOT emit a
    * typed-degrade row the way the per-record STATS path ([[crawlRow]])
    * does. The two paths therefore agree on every extractable record and
    * intentionally diverge on degraded ones: stats keeps the record-level
    * accounting, extraction keeps only trustworthy text. A pipeline that
    * needs the degrade ledger runs the stats query beside the ingest.
    */
  private def memberText(data: Array[Byte]): Option[Row] =
    WarcCodec.decode(data) match {
      case Right(rec) if rec.headers.get("WARC-Type").contains("response") =>
        val mm = RecordIdPattern.matcher(
          rec.headers.getOrElse("WARC-Record-ID", ""))
        if (!mm.find()) None
        else responseContent(rec) match {
          case Left(_) => None // declared-HTTP record that doesn't parse
          case Right((ct, payload)) => decodeBody(ct, payload) match {
            case Left(_) => None // charset degrade: no trustworthy text
            case Right(html) => Some(Row(mm.group(1).toLong,
              graft.plans.HtmlTextImpl.extract(html).text))
          }
        }
      case _ => None
    }

  private val textSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** `.warc.gz` shard FILES → extracted (doc_id, text) documents, read
    * through the streaming `warcgz` V2 source: one member is inflated,
    * CRC-verified, WARC-parsed, extracted, and released per row — peak
    * task memory is one record regardless of shard size, and there is no
    * whole-file row anywhere (this is the large-shard replacement for
    * handing `binaryFile` content to [[crawlTexts]], which is capped at
    * Spark's 2 GB single-file-row ceiling). With `salvage = true` a
    * corrupt member ends its FILE's contribution at the last verified
    * boundary instead of failing the scan — [[crawlTexts]]' typed-degrade
    * contract, which the continuous-ingest sink relies on (a checkpoint
    * would otherwise replay the same corrupt shard forever: a permanent
    * poison pill).
    */
  def crawlTextsFromFiles(spark: SparkSession, paths: Seq[String],
      salvage: Boolean = false): DataFrame = {
    val members = spark.read.format("warcgz")
      .option("salvage", salvage.toString).load(paths: _*).select(col("data"))
    Rows.mapPartitions(members, textSchema)(
      _.flatMap(row => memberText(row.getAs[Array[Byte]](0))))
  }

  def crawlTexts(archives: DataFrame, payloadCol: String): DataFrame =
    Rows.mapPartitions(archives.select(col(payloadCol)), textSchema) { it =>
      // one-member-at-a-time salvage iterator: each member is inflated,
      // WARC-parsed, extracted, and RELEASED before the next — peak task
      // memory is one record, not the inflated shard. A corrupt member
      // ends that archive's contribution at the last verified boundary.
      it.flatMap { row =>
        GzipCodec.salvageIterator(row.getAs[Array[Byte]](0))
          .flatMap(m => memberText(m.data))
      }
    }

  def decodeGzip(media: DataFrame): DataFrame =
    Multimodal.decodeEach(media, gzipDecodeSchema)(gzipDecodeRow)

  def crawlExtract(media: DataFrame): DataFrame =
    Multimodal.decodeEach(media, crawlSchema)(crawlRow)

  /** On-disk gzip-member shard files for the V2 source
    * ([[graft.sources.GzipMemberSource]]): up to eight `shard-<s>.gz`
    * files, shard s holding one member per doc with `doc_id % 8 = s`
    * (ascending, member name `doc-<id>`, data = the text bytes; an empty
    * residue class writes NO file, matching the oracle's GROUP BY).
    * Built once per corpus fingerprint by the DISTRIBUTED
    * [[graft.sources.GzipShardWriter]] — executor tasks stream the
    * members, nothing data-sized touches the driver, and the
    * `crawl_source_scan` oracle row therefore checks the full
    * write→read round trip of the crawl layer.
    */
  private[graft] object GzipShardFixture {
    def dir(s: SparkSession, d: String): String = Artifacts.wh.tablePath(
      Artifacts.publish("gz_shards", d) { scratch =>
        graft.sources.GzipShardWriter.write(
          Tables.documents(s, d).select(col("doc_id"),
            concat(lit("doc-"), col("doc_id")).as("name"),
            col("text").cast("binary").as("data")),
          Artifacts.wh.tablePath(scratch), 8): Unit
      })
  }

  /** On-disk `.warc.gz` shard files (request + response record per doc,
    * each its own member, `doc_id % 8` sharding) — the realistic
    * CommonCrawl shard set, written by the DISTRIBUTED
    * [[graft.sources.GzipShardWriter]] once per corpus fingerprint.
    * Record bytes are WARC-encoded on executors; nothing data-sized
    * touches the driver.
    */
  private[graft] object WarcShardFixture {
    // layout v2: response records carry the HTTP layer
    def dir(s: SparkSession, d: String): String = Artifacts.wh.tablePath(
      Artifacts.publish("warc_shards", d, layout = "v2") { scratch =>
        val df = Rows.mapPartitions(
            Tables.documents(s, d).select(col("doc_id"), col("text")),
            StructType(Seq(
              StructField("doc_id", LongType),
              StructField("name", StringType),
              StructField("data", BinaryType))))(_.flatMap { r =>
          val id = r.getLong(0)
          // name "q" < "r" sorts the request record before its response
          Seq(Row(id, "q", requestRecord(id)),
            Row(id, "r", responseRecord(id, r.getString(1))))
        })
        graft.sources.GzipShardWriter.write(
          df, Artifacts.wh.tablePath(scratch), 8): Unit
      })
  }

  private val warcStatSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("is_response", LongType),
    StructField("target_uri", StringType),
    StructField("content_length", LongType),
    StructField("extracted_md5", StringType),
    StructField("n_extracted_chars", LongType),
    StructField("n_links", LongType)))

  /** Per-MEMBER WARC record stats over `warcgz` source rows — the
    * file-based building block `pipe_crawl_files_e2e` reassembles into
    * per-doc accounting. Response records carry the full extraction
    * columns; request records carry only identity (nulls elsewhere);
    * unparseable members are dropped (the per-archive typed accounting
    * stays with [[crawlExtract]]).
    */
  def warcRecordStats(members: DataFrame): DataFrame =
    Rows.mapPartitions(members.select(col("data")), warcStatSchema) { it =>
      it.flatMap { row =>
        val data = row.getAs[Array[Byte]](0)
        WarcCodec.decode(data) match {
          case Left(_) => None
          case Right(rec) =>
            val mm = RecordIdPattern.matcher(
              rec.headers.getOrElse("WARC-Record-ID", ""))
            if (!mm.find()) None
            else {
              val id = mm.group(1).toLong
              if (rec.headers.get("WARC-Type").contains("response"))
                responseContent(rec) match {
                  case Left(_) => None // declared-HTTP record, unparseable
                  case Right((ct, payload)) => decodeBody(ct, payload) match {
                    case Left(_) => None // charset degrade: no text layer
                    case Right(html) =>
                      val st = graft.plans.HtmlTextImpl.extract(html)
                      val md = java.security.MessageDigest.getInstance("MD5")
                      Some(Row(id, 1L,
                        rec.headers.getOrElse("WARC-Target-URI", null),
                        payload.length.toLong,
                        md.digest(st.text.getBytes("UTF-8"))
                          .map("%02x".format(_)).mkString,
                        st.text.length.toLong, st.links))
                  }
                }
              else Some(Row(id, 0L, null, null, null, null, null))
            }
        }
      }
    }

  /** Generic URL canonicalization over a frame carrying a `url` column
    * (built-in codegen'd `parse_url` + array HOFs, no UDF): adds
    * `canon_url` = lowercase scheme and host; the port only when
    * NON-default for the scheme; the path; surviving query params
    * (tracking params utm_* / fbclid / gclid dropped) sorted; fragment
    * gone. Shared by `crawl_url_canon` and the CrawlSpec rule-ladder
    * unit tests (which feed planted urls the fixture doesn't cover,
    * e.g. non-default ports that must SURVIVE).
    */
  private[graft] def canonicalizedUrls(raw: DataFrame): DataFrame =
    raw
      .withColumn("scheme", lower(parse_url(col("url"), lit("PROTOCOL"))))
      .withColumn("host", lower(parse_url(col("url"), lit("HOST"))))
      .withColumn("port",
        regexp_extract(parse_url(col("url"), lit("AUTHORITY")), ":(\\d+)$", 1))
      .withColumn("path", parse_url(col("url"), lit("PATH")))
      .withColumn("params", expr(
        """array_sort(filter(
          |  split(coalesce(parse_url(url, 'QUERY'), ''), '&'),
          |  p -> p != '' AND substring(p, 1, 4) != 'utm_'
          |    AND NOT substring_index(p, '=', 1) IN ('fbclid', 'gclid')))"""
          .stripMargin))
      .withColumn("keep_port",
        col("port") =!= "" &&
          !(col("scheme") === "http" && col("port") === "80") &&
          !(col("scheme") === "https" && col("port") === "443"))
      .withColumn("canon_url", concat(
        col("scheme"), lit("://"), col("host"),
        when(col("keep_port"), concat(lit(":"), col("port"))).otherwise(""),
        col("path"),
        when(size(col("params")) > 0,
          concat(lit("?"), array_join(col("params"), "&"))).otherwise("")))

  /** The synthesized crawl-frontier URL (shared by `crawl_url_stats` and
    * `crawl_robots_gate`): varied subdomains, TLDs, path depths, query
    * strings — all derived from (doc_id, n_chars) so the oracle replays
    * every field.
    */
  private def frontierUrl: org.apache.spark.sql.Column = concat(
    lit("https://"),
    when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
    lit("site"), (col("doc_id") % 7).cast("string"),
    when(col("doc_id") % 2 === 0, lit(".com")).otherwise(lit(".org")),
    lit("/"),
    array_join(transform(sequence(lit(1), col("doc_id") % 4 + 1),
      i => concat(lit("p"), i.cast("string"))), "/"),
    when(col("n_chars") % 2 === 0,
      concat(lit("?q="), (col("n_chars") % 100).cast("string"),
        lit("&page="), (col("doc_id") % 5).cast("string")))
      .otherwise(lit("")))

  // ---------- HTTP redirect records (3xx + Location) ----------

  /** The redirect fixture's frontier URL — injective in doc_id; EVEN ids
    * carry an unsorted query string plus a utm tracking param, so the
    * resolved target's canonicalization is load-bearing (params must
    * sort, utm must drop).
    */
  private def redirectUrl(id: Long): String = {
    val base = s"https://site${id % 3}.com/d/$id"
    if (id % 2 == 0) s"$base?b=${id % 9}&a=${id % 5}&utm_src=x" else base
  }

  /** WARC response records whose HTTP layer carries REAL 3xx redirects —
    * the records the response-payload chain filters out but a frontier
    * builder must consume (3xx `Location` targets are frontier inputs
    * and a top source of duplicate canonical URLs). Classes by
    * c = doc_id % 12 (host = site{id%3}, so every ±3/±6 hop stays
    * same-host and relative Locations resolve):
    *  - c ∈ {1, 5}: 301 absolute → url(id+3) (lands on a 200 — 1 hop);
    *  - c = 2: 302 absolute → url(id+3) = a c=5 redirect → 2-hop chain;
    *  - c = 7: 301 RELATIVE `Location: /d/…` (path+query of url(id+3)) —
    *    resolves against the record's own scheme://host;
    *  - c = 3 ↔ c = 9: 301 → url(id±6) — a 2-cycle the resolver must
    *    detect as a LOOP (or dangle when id+6 falls past the corpus);
    *  - c = 6: 301 → a /gone/ URL no record serves (dangling);
    *  - else: 200 OK terminals.
    * The oracle replays the whole walk in doc_id space (url() is
    * injective), so status parsing, Location extraction, relative
    * resolution, loop detection, and the hop cap all flip rows.
    */
  def attachRedirectMedia(docs: DataFrame): DataFrame = {
    Rows.mapPartitions(docs.select(col("doc_id")),
        Multimodal.payloadSchema)(_.map { r =>
      val id = r.getLong(0)
      val c = id % 12
      val (st, reason, headers, body) =
        if (c == 2)
          (302, "Found", Seq("Location" -> redirectUrl(id + 3)),
            Array.emptyByteArray)
        else if (c == 1 || c == 3 || c == 5 || c == 6 || c == 7 || c == 9) {
          val loc = c match {
            case 1 | 5 => redirectUrl(id + 3)
            case 7 => redirectUrl(id + 3).replaceFirst("^https://[^/]+", "")
            case 3 => redirectUrl(id + 6)
            case 9 => redirectUrl(id - 6)
            case _ => s"https://site${id % 3}.com/gone/$id"
          }
          (301, "Moved Permanently", Seq("Location" -> loc),
            Array.emptyByteArray)
        } else
          (200, "OK", Seq("Content-Type" -> "text/plain"),
            s"payload $id".getBytes("UTF-8"))
      val bytes = WarcCodec.encode(Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> s"<urn:graft:redir:$id>",
        "WARC-Target-URI" -> redirectUrl(id),
        "Content-Type" -> "application/http; msgtype=response"),
        HttpCodec.encode(st, reason, headers, body, chunked = false))
      Row(id, bytes)
    })
  }

  val redirectSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("url", StringType),
    StructField("status", LongType),
    StructField("location", StringType)))

  /** WARC → HTTP parse keeping the STATUS LINE layer the payload chain
    * drops: (url = WARC-Target-URI, status, Location header). Corrupt
    * layers degrade typed.
    */
  private def redirectRow(id: Long, bytes: Array[Byte]): Row =
    WarcCodec.decode(bytes) match {
      case Left(_) => Row(id, "warc-corrupt", null, null, null)
      case Right(rec) =>
        HttpCodec.decode(rec.body) match {
          case Left(_) => Row(id, "http-corrupt",
            rec.headers.getOrElse("WARC-Target-URI", null), null, null)
          case Right(h) => Row(id, "http",
            rec.headers.getOrElse("WARC-Target-URI", null),
            h.status.toLong, h.headers.get("location").orNull)
        }
    }

  /** Redirect-record parse, one [[redirectRow]] per payload. */
  def redirectRecords(media: DataFrame): DataFrame =
    Multimodal.decodeEach(media, redirectSchema)(redirectRow)

  /** A REAL streaming-maintained frontier fixture: the streaming ingest
    * body ([[graft.streaming.StreamRunner.frontierPublishBatch]]) run
    * over the redirect fixture in `slices` batches, built once per
    * corpus fingerprint. Content is deterministic and every write is an
    * idempotent partition upsert, so concurrent rebuilds converge; the
    * done-marker gates reads on a COMPLETED build of the CURRENT layout
    * (its content is the layout version, so a code change that adds
    * side tables forces a rebuild instead of serving a stale shape).
    * Variants: [[FrontierServeFixture]] (`pipe_frontier_serve` /
    * `pipe_frontier_compacted` / `pipe_frontier_gated` — two batches,
    * default retry bound) and [[FrontierAgedFixture]]
    * (`pipe_frontier_aged` — three batches, retryMaxAge = 1, so
    * late-arriving targets genuinely age out). Each variant has its own
    * store `kind` (`fs`, `fsa`, `fsh`), so the variants never share a key.
    */
  private[graft] sealed class FrontierFixture(
      kind: String,
      slices: Seq[org.apache.spark.sql.Column],
      retryMaxAge: Option[Long],
      serveTables: Seq[String] = Nil)
    extends StreamedFixture(kind,
      Seq("_records", "_settled", "_edges", "_terminals", "_ledger")
        ++ serveTables,
      // v3: round 16 added the ledger fold (`_ledger_serve`) to
      // compactFrontier and to the hybrid variant's published table set —
      // the marker bump forces stale-layout builds to regenerate
      layout = "v3",
      extraPruneSuffixes =
        Seq("_records_serve", "_settled_serve", "_ledger_serve")
          .diff(serveTables)) {

    /** Mid-stream maintenance hook — fires after batch `i` publishes
      * (the CorpusStatsHybridFixture convention); the hybrid variant
      * folds and vacuums here.
      */
    protected def afterBatch(s: SparkSession, scratch: String, i: Int): Unit =
      ()

    override protected def buildScratch(
        s: SparkSession, d: String, scratch: String): Unit = {
      val media = attachRedirectMedia(Tables.documents(s, d))
      slices.zipWithIndex.foreach { case (cond, i) =>
        graft.streaming.StreamRunner.frontierPublishBatch(
          media.filter(cond), i.toLong, wh, scratch, _ => None,
          retryMaxAge)
        afterBatch(s, scratch, i)
      }
    }

    /** Build (if needed), then COMPACT the fixture's frontier lakes into
      * versioned `_serve` snapshots once per JVM
      * ([[graft.streaming.StreamRunner.compactFrontier]] under the shared
      * [[StreamedFixture.compactOnce]] memo; retention pruned to the
      * last two so cross-session reruns stay bounded). Returns the
      * table prefix.
      */
    def compact(s: SparkSession, d: String): String = {
      val p = build(s, d)
      compactOnce(p) {
        graft.streaming.StreamRunner.compactFrontier(s, wh, p)
        wh.pruneVersions(s"${p}_records_serve", keep = 2)
        wh.pruneVersions(s"${p}_settled_serve", keep = 2)
        wh.pruneVersions(s"${p}_ledger_serve", keep = 2)
        wh.currentVersion(s"${p}_records_serve").isDefined &&
          wh.currentVersion(s"${p}_settled_serve").isDefined
      }
      p
    }
  }

  private[graft] object FrontierServeFixture extends FrontierFixture(
    "fs",
    Seq(col("doc_id") % 10 =!= 0, col("doc_id") % 10 === 0),
    graft.streaming.StreamRunner.DefaultRetryMaxAge)

  /** Three batches (doc_id % 10: the bulk, then the 5s, then the 0s)
    * under retryMaxAge = 1, so a chain whose blocking record lands two
    * batches after the source's last state change genuinely AGES OUT
    * while one landing the very next batch still re-resolves — the
    * give-up/retry boundary `pipe_frontier_aged`'s oracle replays.
    */
  private[graft] object FrontierAgedFixture extends FrontierFixture(
    "fsa",
    Seq(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5,
      col("doc_id") % 10 === 5, col("doc_id") % 10 === 0),
    Some(1L))

  /** The HYBRID frontier variant: the serve fixture's two slices, but
    * the records/settled lakes are compacted AND fully vacuumed between
    * them — batch 1's retry queue must then re-resolve its danglings
    * against the `_records_serve` snapshot (the walk's raw-record reads
    * go through [[graft.streaming.StreamRunner.hybridLakeRead]]) and
    * the settled serve view must union the pinned generation with the
    * live tail. Oracle: pipe_frontier_serve's from-scratch walk replay,
    * verbatim — convergence through the fold+vacuum boundary IS the
    * contract.
    */
  private[graft] object FrontierHybridFixture extends FrontierFixture(
    "fsh",
    Seq(col("doc_id") % 10 =!= 0, col("doc_id") % 10 === 0),
    graft.streaming.StreamRunner.DefaultRetryMaxAge,
    serveTables = Seq("_records_serve", "_settled_serve", "_ledger_serve")) {
    override protected def afterBatch(
        s: SparkSession, scratch: String, i: Int): Unit =
      if (i == 0) {
        graft.streaming.StreamRunner.compactFrontier(s, wh, scratch)
        graft.streaming.StreamRunner.gcLake(s, wh, s"${scratch}_records",
          s"${scratch}_records_serve", slackGenerations = 0)
        graft.streaming.StreamRunner.gcLake(s, wh, s"${scratch}_settled",
          s"${scratch}_settled_serve", slackGenerations = 0)
        // the ledger too — batch 1's non-quiesced trust (were it run)
        // would read committed ids snapshot+tail; nothing else reads it
        graft.streaming.StreamRunner.gcLake(s, wh, s"${scratch}_ledger",
          s"${scratch}_ledger_serve", slackGenerations = 0): Unit
      }
  }

  /** The PERSISTED crawl frontier: the archive's parsed redirect records
    * `(doc_id, format, url, status, location)` as a fingerprint-keyed
    * [[Artifacts]] table — the status-line edges and 200
    * landings a frontier walk needs, WITHOUT the WARC/HTTP bytes. A real
    * crawler maintains this at ingest time (each batch's parsed records
    * append with the batch — the dedup_incremental signature-table
    * convention), so redirect resolution reads parsed url keys, never
    * re-decoding the archive; here it is built once per corpus
    * fingerprint and read by `crawl_frontier_incr`.
    */
  private def frontierRecordsTable(s: SparkSession, d: String): DataFrame =
    Artifacts.table(s, d, "documents", "frontier_records")(
      redirectRecords(attachRedirectMedia(Tables.documents(s, d))))

  /** Redirect-CHAIN resolution over a parsed record frame `(doc_id, url,
    * status, location)` — the frontier feeder a real crawler runs. Per
    * 3xx record: resolve the Location (relative paths against the
    * record's own scheme://host), then follow the chain through the
    * redirect edge table up to `maxHops` follows (5 — the conventional
    * crawler cap), carrying the ≤ maxHops-entry visited list for LOOP
    * detection. Outcomes are typed: `ok` (landed on a 200 record — the
    * canonicalized landing URL is emitted for the frontier), `dangling`
    * (target serves no record), `loop` (next hop already visited),
    * `chain_cap` (still redirecting at the cap).
    *
    * Scale: each hop is ONE url-key equi-join of the still-unresolved
    * rows against the redirect edge table (redirects are a fraction of
    * the frontier; the loop runs a fixed maxHops times regardless of
    * data), with lineage cut per round — never a per-row driver walk.
    */
  private[graft] def resolveRedirects(
      records: DataFrame, maxHops: Int = 5): DataFrame =
    resolveRedirectsAgainst(records, records, maxHops)

  /** RFC 3986 reference resolution of each 3xx record's Location, the
    * forms a crawler actually sees: absolute (ANY scheme,
    * case-insensitive per RFC 3986 §3.1); protocol-relative (`//host/p`
    * — base scheme); root-relative (`/p` — base origin); path-relative
    * (`p`, `a/b` — base origin + the base PATH's directory, query
    * dropped). `.`/`..` segments are left verbatim (they survive into
    * canon; the fixture plants none). Returns the 3xx-with-Location
    * rows with a `target` column added.
    */
  private def resolvedTargets(recs: DataFrame): DataFrame = {
    val origin = regexp_extract(col("url"), "^(https?://[^/]+)", 1)
    // directory of the base PATH only — a slash inside the base QUERY
    // ("/watch?v=a/b") must not leak into relative resolution
    val baseDir = regexp_extract(
      parse_url(col("url"), lit("PATH")), "^(.*/)", 1)
    recs
      .filter(col("status").between(300L, 399L) && col("location").isNotNull)
      .withColumn("target",
        when(col("location").startsWith("//"),
          concat(regexp_extract(col("url"), "^(https?):", 1), lit(":"),
            col("location")))
          .when(col("location").startsWith("/"), concat(origin, col("location")))
          .when(col("location").rlike("^[A-Za-z][A-Za-z0-9+.-]*://"),
            col("location"))
          .otherwise(concat(origin,
            when(baseDir === "", lit("/")).otherwise(baseDir),
            col("location"))))
  }

  /** Hash-bucket count shared by every persisted frontier side table
    * (edges keyed by source url, terminals by landing url, records by
    * doc_id). Fixed, so a reader prunes directories by bucket and a
    * batch's upsert rewrites only the buckets it touches (the
    * perceptual sigs-index convention).
    */
  private[graft] val FrontierBuckets = 64L

  /** Bucket id of a frontier key (url string or doc_id). */
  private[graft] def frontierBucket(
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(c), lit(FrontierBuckets))

  /** One edge row per parsed 3xx record: `(cur = record url, nxt =
    * RFC 3986-resolved Location, rid = record id)` — the raw edge
    * delta a frontier ingest derives from its batch before the
    * min-record-id collapse.
    */
  private[graft] def frontierEdgesOf(recs: DataFrame): DataFrame =
    resolvedTargets(recs.filter(col("format") === "http"))
      .select(col("url").as("cur"), col("target").as("nxt"),
        col("doc_id").as("rid"))

  /** ONE edge per source URL: real recrawl frontiers carry duplicate
    * records for the same URL, and a duplicated `cur` key would fan
    * out every hop join and emit conflicting settled rows per doc_id.
    * Keeper = the lowest record id (deterministic, and IDEMPOTENT
    * under replayed/duplicated rows — min of a multiset is stable, so
    * a checkpoint replay merging its own previous rows converges).
    */
  private[graft] def collapseEdges(edges: DataFrame): DataFrame =
    edges.groupBy(col("cur"))
      .agg(min_by(col("nxt"), col("rid")).as("nxt"),
        min(col("rid")).as("rid"))

  /** Distinct 200-landing URLs of a parsed-record frame — the terminal
    * set chains resolve against. Distinct ⇒ idempotent under replay.
    */
  private[graft] def frontierTerminalsOf(recs: DataFrame): DataFrame =
    recs.filter(col("format") === "http" && col("status") === 200L)
      .select(col("url").as("t_url")).distinct()

  /** The asymmetric form [[resolveRedirects]] delegates to, and the
    * daily-frontier job runs directly: `batch`'s 3xx records START the
    * walk (one output row per batch redirect record), while the chain
    * FOLLOWS `archive`'s edges and lands on `archive`'s 200 terminals —
    * so an incremental run decodes only the new batch and reads the
    * archive side from a persisted parsed-record artifact
    * ([[frontierRecordsTable]]), never re-decoding the WARC lake.
    */
  private[graft] def resolveRedirectsAgainst(
      batch: DataFrame, archive: DataFrame, maxHops: Int = 5): DataFrame = {
    val arc = archive.filter(col("format") === "http")
    walkChains(batch,
      collapseEdges(frontierEdgesOf(arc)).select(col("cur"), col("nxt")),
      frontierTerminalsOf(arc), maxHops)
  }

  /** The redirect-chain walk over PRE-DERIVED edge and terminal frames —
    * the form the streaming frontier runs against its PERSISTED
    * `_edges`/`_terminals` lakes ([[graft.streaming.StreamRunner
    * .frontierPublishBatch]]), so per-batch walk cost never re-derives
    * either side from the record archive. `edges` = `(cur, nxt[, eb])`
    * (one row per source url — [[collapseEdges]]' contract); `terminals`
    * = `(t_url[, tb])`. When the bucket columns are present, each hop
    * join FILTERS the lake to the buckets the active frontier's keys
    * hash to (a ≤[[FrontierBuckets]]-row collect per round — the
    * carryDupHashLo idiom), so the bucket-partitioned lake is
    * directory-pruned: per-round I/O is bounded by touched buckets, not
    * the archive. A steady-state retry batch touching a handful of urls
    * reads a handful of bucket directories; a batch touching everything
    * degrades gracefully to the full-lake join.
    */
  private[graft] def walkChains(
      batch: DataFrame, edges: DataFrame, terminals: DataFrame,
      maxHops: Int = 5): DataFrame = {
    require(maxHops >= 1, "resolveRedirects needs at least one follow")
    val recs = batch.filter(col("format") === "http")
    val redirects = resolvedTargets(recs)
    val edgesBucketed = edges.columns.contains("eb")
    val termsBucketed = terminals.columns.contains("tb")
    def bucketsOf(keys: DataFrame, key: String): Seq[Long] =
      keys.select(frontierBucket(col(key)).as("v"))
        .distinct().collect().map(_.getLong(0)).toIndexedSeq
    def prunedEdges(active: DataFrame): DataFrame =
      if (!edgesBucketed) edges
      else {
        val touched = bucketsOf(active, "cur")
        if (touched.isEmpty) edges.limit(0).drop("eb")
        else edges.filter(col("eb").isin(touched: _*)).drop("eb")
      }
    // a 3xx with NO Location is undrivable — typed out, never silently
    // dropped (pipe_frontier_merge carries it in its n_no_location
    // hygiene column, so ok + dangling + loop + cap + no_location sums
    // back to n_redirects)
    val noLocation = recs
      .filter(col("status").between(300L, 399L) && col("location").isNull)
      .select(col("doc_id"), col("status"), col("url").as("cur"),
        lit(0L).as("n_hops"), lit("no_location").as("outcome"))
    // per round, ONLY the still-unresolved rows join the edge table;
    // settled rows leave the loop the round they settle (their slice of
    // the round's checkpoint is final) — per-round cost tracks the
    // unresolved frontier, not the full redirect set
    var active = redirects.select(col("doc_id"), col("status"),
        col("target").as("cur"), lit(1L).as("n_hops"),
        array(col("url")).as("visited"))
      .localCheckpoint()
    val settled = Seq.newBuilder[DataFrame]
    var round = 0
    // early exit once every chain settled: a steady-state retry batch
    // whose chains all end by round 2 must not pay the remaining rounds'
    // bucket collects + checkpoints (isEmpty on a checkpointed frame is
    // a cheap local scan)
    while (round < maxHops && !active.isEmpty) {
      round += 1
      val j = active.join(prunedEdges(active), Seq("cur"), "left")
      // settle order (matched by the oracle): chain ends here / next hop
      // revisits / cap reached — else advance
      val o2 = when(col("nxt").isNull, lit("end"))
        .when(array_contains(col("visited"), col("nxt")) ||
          col("nxt") === col("cur"), lit("loop"))
        .when(col("n_hops") >= maxHops, lit("chain_cap"))
      val stepped = j.select(col("doc_id"), col("status"),
          when(o2.isNull, col("nxt")).otherwise(col("cur")).as("cur2"),
          when(o2.isNull, col("n_hops") + 1).otherwise(col("n_hops"))
            .as("n_hops"),
          when(o2.isNull, array_append(col("visited"), col("cur")))
            .otherwise(col("visited")).as("visited"),
          o2.as("outcome"))
        .withColumnRenamed("cur2", "cur")
        .localCheckpoint()
      settled += stepped.filter(col("outcome").isNotNull)
        .select(col("doc_id"), col("status"), col("cur"), col("n_hops"),
          col("outcome"))
      active = stepped.filter(col("outcome").isNull)
        .drop("outcome")
    }
    // the cap guarantees `active` is empty after maxHops rounds (every
    // row settles as end/loop/chain_cap by then); a batch with NO
    // redirects never enters the loop, so seed the empty settled shape
    val frames = settled.result()
    val state = (if (frames.isEmpty)
      active.select(col("doc_id"), col("status"), col("cur"),
        col("n_hops"), lit(null).cast("string").as("outcome")).limit(0)
    else frames.reduce(_ unionByName _))
      .unionByName(noLocation)
    val terms =
      if (!termsBucketed) terminals
      else {
        // the terminal probe is one distinct-landing-sized key set; its
        // buckets prune the terminal lake the same way the hop joins
        // prune edges
        val touched = bucketsOf(state.select(col("cur")).distinct(), "cur")
        if (touched.isEmpty) terminals.limit(0).drop("tb")
        else terminals.filter(col("tb").isin(touched: _*)).drop("tb")
      }
    val done = state.join(terms, col("cur") === col("t_url"), "left")
      .withColumn("outcome",
        when(col("outcome") === "end",
          when(col("t_url").isNotNull, lit("ok")).otherwise(lit("dangling")))
          .otherwise(col("outcome")))
    canonicalizedUrls(done.withColumnRenamed("cur", "url"))
      .select(col("doc_id"), col("status").cast("bigint").as("status"),
        col("n_hops").cast("bigint").as("n_hops"), col("outcome"),
        col("url").as("final_url"),
        when(col("outcome") === "ok", col("canon_url"))
          .otherwise(lit(null).cast("string")).as("final_canon"))
  }

  /** Fixture robots.txt for synthetic domain `domIdx` — three
    * specificity rungs for `graftbot` (a 6-octet path Disallow, a
    * 9-octet Allow carve-out that must WIN by longest-match, a 5-octet
    * wildcard-query Disallow), a `$`-anchored rule that never matches
    * the frontier, a fully-blocked `otherbot` group, and a `*` group
    * with a crawl-delay — so group selection, merge, and precedence are
    * all load-bearing.
    */
  private[operators] def robotsTextFor(domIdx: Long): String = {
    val sb = new StringBuilder(s"# synthetic robots for domain $domIdx\n")
    sb.append("User-agent: graftbot\n")
    if (domIdx % 2 == 0) sb.append("Disallow: /p1/p2\n")
    if (domIdx % 3 == 0) sb.append("Allow: /p1/p2/p3\n")
    if (domIdx % 5 == 0) sb.append("Disallow: /*?q=\n")
    sb.append("Disallow: /private$\n")
    // politeness rung: every third domain declares a per-agent delay
    if (domIdx % 3 == 0) sb.append(s"Crawl-delay: ${domIdx % 4 + 1}\n")
    sb.append("\nUser-agent: otherbot\nDisallow: /\n")
    sb.append("\nUser-agent: *\nCrawl-delay: 5\nDisallow: /never\n")
    sb.toString
  }

  private val robotsVerdictSchema = StructType(Seq(
    StructField("url", StringType),
    StructField("domain", StringType),
    StructField("allowed", org.apache.spark.sql.types.BooleanType)))

  /** Per-URL robots verdicts: the frontier LEFT-joins its (small,
    * broadcast) per-domain robots table — a domain with NO robots row is
    * ALLOWED, per RFC 9309's unavailable-robots.txt rule (the normal
    * case in a real crawl), never silently dropped — and each partition
    * parses every DISTINCT robots text once (cached) before matching
    * URLs against the selected agent group. At 100 TB the frontier is
    * the data side and robots bodies are domain-count-sized — the
    * broadcast is the correct shape at any crawl scale.
    */
  def robotsVerdicts(frontier: DataFrame, robots: DataFrame,
      agent: String): DataFrame = {
    val withParts = frontier.select(
      col("url"),
      regexp_extract(parse_url(col("url"), lit("HOST")),
        "([^.]+\\.[^.]+)$", 1).as("domain"),
      concat(parse_url(col("url"), lit("PATH")),
        when(parse_url(col("url"), lit("QUERY")).isNull, lit(""))
          .otherwise(concat(lit("?"), parse_url(col("url"), lit("QUERY")))))
        .as("path_query"))
    val joined = withParts.join(broadcast(robots), Seq("domain"), "left")
    Rows.mapPartitions(joined.select(col("url"), col("domain"),
        col("path_query"), col("robots_txt")), robotsVerdictSchema) { it =>
      val cache = scala.collection.mutable.HashMap[String, Seq[RobotsCodec.Rule]]()
      it.map { r =>
        val allowed =
          if (r.isNullAt(3)) true // no robots.txt for this domain
          else RobotsCodec.allowed(
            cache.getOrElseUpdate(r.getString(3),
              RobotsCodec.rulesFor(RobotsCodec.parse(r.getString(3)), agent)),
            r.getString(2))
        Row(r.getString(0), r.getString(1), allowed)
      }
    }
  }

  /** The host→host link-edge report shared by `crawl_link_graph` and
    * `pipe_crawl_budget`: planted-HTML outlink extraction in the scan
    * projection (`graft_html_links`), resolution, canonicalization,
    * and the (src_host, dst_host) rollup — only edge keys shuffle.
    */
  private def hostLinkEdges(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    def str(c: org.apache.spark.sql.Column) = c.cast("string")
    val tld = when(id % 2 === 0, lit(".com")).otherwise(lit(".org"))
    val pageHost = concat(lit("site"), str(id % 7), tld)
    val html = concat(
      lit("<html><head><script>var d = \"<a href='http://decoy.example/x'>d</a>\";" +
        "</script></head><body><!-- <a href=\"http://comment.example/c\">c</a> -->" +
        "<p>see <a href=\"/local/"),
      str(id % 5), lit("?a=1&amp;b=2\">rel</a> and <a href='https://site"),
      str((id * 3) % 7), tld, lit("/p/"), str(id % 11),
      lit("?utm_source=t&amp;ref="), str(id % 3), lit("'>abs</a>"),
      when(id % 3 === 0, concat(lit("<a HREF=HTTPS://WWW.Site"), str((id + 1) % 7),
        lit(".COM:443/q/"), str(id % 13), lit(">up</a>"))).otherwise(lit("")),
      when(id % 4 === 0, lit("<a name=\"x\">plain anchor</a>")).otherwise(lit("")),
      when(id % 5 === 0, concat(lit("<a href=\"#sec"), str(id % 9), lit("\">frag</a>")))
        .otherwise(lit("")),
      lit(" again <a href=\"/local/"), str(id % 5),
      lit("?a=1&amp;b=2\">rel2</a></p></body></html>"))
    val links = Tables.documents(s, d)
      .select(id, pageHost.as("page_host"), html.as("html"))
      .select(col("doc_id"), col("page_host"),
        explode(call_function("graft_html_links", col("html"))).as("href"))
      .filter(!col("href").startsWith("#"))
      .withColumn("url", when(col("href").startsWith("/"),
          concat(lit("https://"), col("page_host"), col("href")))
        .otherwise(col("href")))
    canonicalizedUrls(links)
      .groupBy(col("page_host"), col("host"))
      .agg(count(lit(1)).cast("bigint").as("n_links"),
        countDistinct(col("doc_id")).cast("bigint").as("n_pages"),
        sum(pmod(conv(substring(md5(col("canon_url")), 1, 15), 16, 10).cast("bigint"),
          lit(1000000007L))).cast("bigint").as("url_check"))
      .select(col("page_host").as("src_host"), col("host").as("dst_host"),
        col("n_links"), col("n_pages"), col("url_check"))
  }

  /** A `(domain, robots_txt)` table of literal rows. */
  private def robotsTable(s: SparkSession, rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("domain", StringType), StructField("robots_txt", StringType))))
  }

  /** Per-domain crawl delay for `agent` from the robots table — a
    * |domains|-sized frame ([[RobotsCodec.delayFor]] per body), the
    * politeness input a fetch scheduler multiplies into its budget.
    */
  def robotsDelays(robots: DataFrame, agent: String): DataFrame =
    Rows.mapPartitions(robots.select(col("domain"), col("robots_txt")),
        StructType(Seq(StructField("domain", StringType),
          StructField("crawl_delay", LongType))))(_.map { r =>
      Row(r.getString(0),
        RobotsCodec.delayFor(RobotsCodec.parse(r.getString(1)), agent)
          .map(_.toLong).map(Long.box).orNull)
    })

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- the V2 SOURCE surface: `spark.read.format("warcgz")` over a
    // real on-disk shard set — per-shard member accounting computed from
    // rows the custom `TableProvider` produced by genuinely walking and
    // CRC-verifying each archive. The projection touches only metadata
    // columns, so `SupportsPushDownRequiredColumns` prunes `data` out of
    // the ReadSchema (spec-pinned) — the decompressed bytes never become
    // rows. Oracle predicts the accounting from the shard-assignment
    // formula. ----
    "crawl_source_scan" -> ((s, d) => {
      val dir = GzipShardFixture.dir(s, d)
      s.read.format("warcgz").load(dir)
        .groupBy(col("file"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("n_bytes")).cast("bigint").as("total_bytes"),
          min(col("name")).as("first_name"))
        .select(
          regexp_extract(col("file"), "shard-(\\d+)", 1).cast("bigint").as("shard"),
          col("n_members"), col("total_bytes"), col("first_name"))
        .orderBy(col("shard"))
    }),
    // ---- REAL multi-member gzip decode: member count, reassembled byte
    // length, content md5, and the first member's FNAME exist on the
    // Spark side ONLY via [[GzipCodec.decodeMembers]] — header flag walk,
    // raw inflate, CRC32/ISIZE trailer verification per member — while
    // the oracle predicts them from (doc_id, text). The compressed bytes
    // never shuffle. ----
    "crawl_gzip_members" -> ((s, d) => {
      val media = attachGzipMedia(Tables.documents(s, d))
      decodeGzip(media).cache().orderBy(col("doc_id"))
    }),

    // ---- `.jsonl.gz` metadata shards: each doc's payload is a gzip
    // member holding a JSON-lines record (the sidecar-metadata shard
    // format every corpus release ships). The MEMBER layer is the real
    // [[GzipCodec]] (inflate + CRC verify in a narrow pass); the JSON
    // layer is Catalyst's BUILT-IN `from_json` with an explicit schema
    // (codegen'd — the "functions, not UDFs" rule; PERMISSIVE nulls
    // would surface a poisoned line rather than fail the shard). The
    // oracle predicts the parsed fields and per-language rollup from
    // `documents` directly. ----
    "crawl_jsonl_gz" -> ((s, d) => {
      val media = attachGzipJsonlMedia(Tables.documents(s, d))
      val lineSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("n_chars", LongType)))
      decodeGzipLines(media)
        .select(from_json(col("line"), lineSchema).as("j"))
        .select(col("j.doc_id").as("doc_id"), col("j.lang").as("lang"),
          col("j.n_chars").as("n_chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("total_chars"),
          min(col("doc_id")).as("min_doc"))
        .orderBy(col("lang"))
    }),

    // ---- URL structure audit over a synthesized crawl frontier — the
    // per-domain accounting that feeds domain caps / robots grouping /
    // host-level dedup. URLs are generated from (doc_id, n_chars) with
    // varied subdomains, TLDs, path depths, and query strings; the Spark
    // side parses them with the BUILT-IN `parse_url` (codegen'd — the
    // "functions, not UDFs" rule) and derives the registrable domain,
    // while the oracle re-derives every field with independent regex/
    // string ops. One narrow projection + one partial-agg'd domain
    // rollup. ----
    "crawl_url_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), frontierUrl.as("url"))
        .select(col("doc_id"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY")).as("query"))
        .select(
          // registrable domain: last two dot-labels of the host
          regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1).as("domain"),
          (size(split(col("path"), "/")) - 1).cast("bigint").as("path_depth"),
          when(col("query").isNull, 0L)
            .otherwise(size(split(col("query"), "&")).cast("bigint")).as("n_params"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"),
          sum(col("path_depth")).as("total_depth"),
          max(col("path_depth")).as("max_depth"),
          sum(col("n_params")).as("total_params"))
        .orderBy(col("domain"))
    }),

    // ---- URL canonicalization + canonical-frontier dedup — the
    // cheapest dedup a crawl runs, BEFORE any fetch: the same page hides
    // behind cased schemes/hosts, default ports, tracking parameters
    // (utm_*/fbclid/gclid), permuted query order, and fragments. The
    // Spark side canonicalizes GENERICALLY from the raw string with the
    // built-in codegen'd `parse_url` + array HOFs (lowercase scheme and
    // host; strip the scheme's default port, KEEP a non-default one;
    // drop the fragment; drop tracking params; sort survivors), then
    // groups the frontier by canonical form (min-doc_id keeper — the
    // exact-dedup convention). The oracle re-derives both the RAW url
    // and its canonical form from doc_id arithmetic alone, so only a
    // real parse + normalize can match. The messy-frontier generator
    // reuses [[frontierUrl]]'s id-arithmetic style with a 20-slot path
    // space so canonical collisions actually occur. Scale: one narrow
    // projection, one count-over-canon aggregation keyed on the canon
    // string — the crawl-frontier analog of dedup_exact. ----
    "crawl_url_canon" -> ((s, d) => {
      val raw = Tables.documents(s, d).select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, "HTTP").otherwise("https"),
          lit("://"),
          when(col("doc_id") % 2 === 0, "WWW.Site").otherwise("www.site"),
          (col("doc_id") % 7).cast("string"),
          when(col("doc_id") % 2 === 0, ".COM").otherwise(".org"),
          when(col("doc_id") % 3 === 0,
            when(col("doc_id") % 2 === 0, ":80").otherwise(":443")).otherwise(""),
          lit("/p/"), (col("doc_id") % 20).cast("string"),
          when(col("doc_id") % 4 === 0, "?b=2&a=1&utm_source=x")
            .when(col("doc_id") % 4 === 1, "?a=1&b=2")
            .when(col("doc_id") % 4 === 2, "?a=1").otherwise(""),
          when(col("doc_id") % 5 === 0,
            concat(lit("#s"), (col("doc_id") % 9).cast("string"))).otherwise("")
        ).as("url"))
      val canon = canonicalizedUrls(raw)
      val byCanon = org.apache.spark.sql.expressions.Window
        .partitionBy(col("canon_url"))
      canon
        .withColumn("n_dups", count(lit(1)).over(byCanon))
        .withColumn("is_canonical", col("doc_id") === min(col("doc_id")).over(byCanon))
        .select(col("doc_id"), col("url"), col("canon_url"),
          col("n_dups"), col("is_canonical"))
        .orderBy(col("doc_id"))
    }),

    // ---- host-level WEB LINK GRAPH from real outlink extraction: each
    // page's HTML (synthesized, integer-derived — decoy anchors inside a
    // <script> string literal and an HTML comment, a no-href <a name>,
    // an entity-encoded query (&amp;), an unquoted uppercase HREF, a
    // fragment-only link) runs through `graft_html_links` (the one-pass
    // anchor-href parser), then the frontier pipeline: fragment links
    // dropped, relative hrefs resolved against the page origin, every
    // URL canonicalized (scheme/host lowercase, default-port drop,
    // utm/click-id strip, param sort), and edges rolled up host→host.
    // The oracle never parses a byte of HTML: it replays the planted
    // link arithmetic and constructs each CANONICAL url string directly
    // — url_check (the md5-derived modular sum over every link
    // occurrence) only agrees if extraction found exactly the real
    // anchors (decoys excluded) AND resolution+canonicalization produced
    // the exact strings. Scale: extract/resolve/canonicalize is ONE
    // narrow projection where the page bytes live (no shuffle); the edge
    // rollup partial-aggs (host, host, doc_id) tuples — link-graph
    // construction over a 100 TB crawl shuffles only edge keys, and the
    // result is |hosts|²-bounded. ----
    "crawl_link_graph" -> ((s, d) =>
      hostLinkEdges(s, d).orderBy(col("src_host"), col("dst_host"))),

    // ---- per-host CRAWL-BUDGET report — the capstone a scheduler
    // actually polls, composing the round's pieces end-to-end: robots
    // verdicts over the frontier ([[robotsVerdicts]], robots broadcast),
    // canonical-URL dedup of the ALLOWED urls ([[canonicalizedUrls]] —
    // n_canon is the real fetch count, dup_saved the fetches the canon
    // pass eliminates), and link-graph authority (in_links/in_hosts from
    // [[hostLinkEdges]], cross-domain edges only) — then a fetch-priority
    // bucket from the in-link rank. Scale: the frontier shuffles only
    // domain keys (three partial-agg'd rollups), robots stays broadcast,
    // and the rank window runs over the |domains|-sized REPORT (14 rows
    // here; |hosts| at 100 TB), never the frontier. Oracle: full
    // closed-form replay of all three inputs (verdict arithmetic, canon
    // string construction, planted link arithmetic) + the same rank. ----
    "pipe_crawl_budget" -> ((s, d) => {
      val frontier = Tables.documents(s, d)
        .select(col("doc_id"), frontierUrl.as("url"))
      val robots = robotsTable(s, (0 until 14).map { i =>
        Row(s"site${i % 7}${if (i < 7) ".com" else ".org"}",
          robotsTextFor(i.toLong))
      })
      // localCheckpoint (not cache): the verdict pass feeds BOTH the
      // gate rollup and the canonical-dedup branch — without it the
      // robots matching runs twice (the branches shuffle on different
      // keys, so no exchange below the fork is reused). Checkpointing materializes eagerly and is
      // GC-reclaimed when the plan dies, where a .cache() with no
      // unpersist hook would pin the pass in executor memory for the
      // session (the dedup_clusters convention).
      val verdicts = robotsVerdicts(frontier, robots, "graftbot")
        .localCheckpoint()
      val gate = verdicts.groupBy(col("domain"))
        .agg(count(lit(1)).cast("bigint").as("n_urls"),
          sum(when(col("allowed"), 1L).otherwise(0L)).cast("bigint")
            .as("n_allowed"))
      val canon = canonicalizedUrls(
          verdicts.filter(col("allowed")).select(col("url"), col("domain")))
        .groupBy(col("domain"))
        .agg(countDistinct(col("canon_url")).cast("bigint").as("n_canon"))
      val inlinks = hostLinkEdges(s, d)
        .withColumn("dst_dom",
          regexp_extract(col("dst_host"), "([^.]+\\.[^.]+)$", 1))
        .filter(col("src_host") =!= col("dst_dom"))
        .groupBy(col("dst_dom").as("domain"))
        .agg(sum(col("n_links")).cast("bigint").as("in_links"),
          countDistinct(col("src_host")).cast("bigint").as("in_hosts"))
      val delays = robotsDelays(robots, "graftbot")
      val report = gate.join(canon, Seq("domain"), "left")
        .join(inlinks, Seq("domain"), "left")
        .join(broadcast(delays), Seq("domain"), "left")
        .select(col("domain"), col("n_urls"), col("n_allowed"),
          coalesce(col("n_canon"), lit(0L)).as("n_canon"),
          (col("n_allowed") - coalesce(col("n_canon"), lit(0L))).as("dup_saved"),
          coalesce(col("in_links"), lit(0L)).as("in_links"),
          coalesce(col("in_hosts"), lit(0L)).as("in_hosts"),
          coalesce(col("crawl_delay"), lit(0L)).as("crawl_delay"),
          // politeness-bound drain time: fetching the canonical set one
          // request per delay period — what the scheduler actually plans
          (coalesce(col("n_canon"), lit(0L)) *
            coalesce(col("crawl_delay"), lit(0L))).as("drain_seconds"))
      // rank + report size off ONE global window over the |domains|-sized
      // report (a crossJoin'd count would duplicate the whole report
      // subtree — the robots RDD pass is not exchange-reusable)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("in_links"), col("domain"))
      val wAll = org.apache.spark.sql.expressions.Window
        .orderBy(desc("in_links"), col("domain"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      report
        .withColumn("n_dom", count(lit(1)).over(wAll))
        .withColumn("rnk", row_number().over(w))
        .withColumn("fetch_priority",
          when((col("rnk") - 1) * 3 < col("n_dom"), "high")
            .when((col("rnk") - 1) * 3 < col("n_dom") * 2, "mid")
            .otherwise("low"))
        .drop("rnk", "n_dom")
        .orderBy(col("domain"))
    }),

    // ---- robots.txt compliance gate over the synthesized frontier: a
    // REAL RFC 9309 engine (group parsing + selection, `*`/`$` pattern
    // matching, longest-match precedence with Allow winning ties) runs
    // per URL against per-domain robots bodies whose rules form three
    // specificity rungs — the oracle re-derives every verdict from the
    // closed-form decision (the 9-octet Allow carve-out outranking the
    // 6-octet Disallow outranking the 5-octet wildcard rule), so a
    // parsing, group-selection, wildcard, or precedence bug flips
    // counts. Frontier is the data side; robots broadcast. ----
    "crawl_robots_gate" -> ((s, d) => {
      val frontier = Tables.documents(s, d).select(frontierUrl.as("url"))
      val robots = robotsTable(s, (0 until 14).map { i =>
        Row(s"site${i % 7}${if (i < 7) ".com" else ".org"}",
          robotsTextFor(i.toLong))
      })
      robotsVerdicts(frontier, robots, "graftbot")
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(!col("allowed"), 1L).otherwise(0L)).as("n_denied"))
        .orderBy(col("domain"))
    }),

    // ---- HTTP REDIRECT resolution: real 3xx WARC records parsed for
    // status + Location ([[redirectRow]]), relative Locations resolved
    // against the record's own host, chains followed through an
    // iterative url-key equi-join (cap 5) with typed loop / dangling /
    // chain_cap degrades, and ok landings canonicalized for the frontier
    // ([[canonicalizedUrls]] — the consumer the duplicate-URL dedup
    // feeds). The oracle replays the entire walk in doc_id space
    // (url(id) is injective) including the visited-list loop rule and
    // the landing URL's param-sort/utm-drop canon. ----
    "crawl_redirects" -> ((s, d) => {
      val media = attachRedirectMedia(Tables.documents(s, d))
      resolveRedirects(redirectRecords(media)).orderBy(col("doc_id"))
    }),

    // ---- FRONTIER MERGE: the per-domain crawl-ops rollup the redirect
    // resolver exists to feed — how many fetches the frontier SAVES per
    // domain. Pages (200 records) and resolved redirects roll up by
    // domain; `redirect_dup_saved` = ok chains MINUS distinct canonical
    // landings (the fixture's c=2 and c=5 chains genuinely converge on
    // the same c=8 pages, so the dedup across discovery channels is
    // load-bearing, not zero by construction); dangling/loop/cap counts
    // are the frontier's hygiene columns. One decode pass feeds both
    // rollups (localCheckpoint — no exchange below the fork is reused);
    // everything after is |domains|-sized. The oracle reruns the SAME
    // walk replay `crawl_redirects` uses and re-derives every count. ----
    "pipe_frontier_merge" -> ((s, d) => {
      val media = attachRedirectMedia(Tables.documents(s, d))
      val recs = redirectRecords(media).localCheckpoint()
      val dom = (u: org.apache.spark.sql.Column) =>
        regexp_extract(u, "https://([^/]+)/", 1)
      val pages = recs.filter(col("status") === 200L)
        .groupBy(dom(col("url")).as("domain"))
        .agg(count(lit(1)).cast("bigint").as("n_pages"))
      val redir = resolveRedirects(recs)
        .groupBy(dom(col("final_url")).as("domain"))
        .agg(count(lit(1)).cast("bigint").as("n_redirects"),
          sum(when(col("outcome") === "ok", 1L).otherwise(0L))
            .cast("bigint").as("n_resolved_ok"),
          countDistinct(when(col("outcome") === "ok", col("final_canon")))
            .cast("bigint").as("n_distinct_landings"),
          sum(when(col("outcome") === "dangling", 1L).otherwise(0L))
            .cast("bigint").as("n_dangling"),
          sum(when(col("outcome") === "loop", 1L).otherwise(0L))
            .cast("bigint").as("n_loop"),
          sum(when(col("outcome") === "no_location", 1L).otherwise(0L))
            .cast("bigint").as("n_no_location"))
      pages.join(redir, Seq("domain"), "full_outer")
        .na.fill(0L, Seq("n_pages", "n_redirects", "n_resolved_ok",
          "n_distinct_landings", "n_dangling", "n_loop", "n_no_location"))
        .withColumn("redirect_dup_saved",
          (col("n_resolved_ok") - col("n_distinct_landings")).cast("bigint"))
        .orderBy(col("domain"))
    }),

    // ---- INCREMENTAL frontier walk — the daily-job form of
    // crawl_redirects, and the structural fix for its decode-bound
    // scale ladder: only the NEW ingest batch (doc_id % 10 = 0, the
    // dedup_incremental convention) decodes its WARC/HTTP bytes; the
    // archive side of the walk — the redirect EDGE table and the 200
    // landings every chain terminates against — reads the PERSISTED
    // parsed-record artifact ([[frontierRecordsTable]]), so per-run
    // cost scales with the batch plus maxHops url-key joins against
    // parsed keys, never a re-decode of the lake. Output = exactly the
    // full walk's rows for the batch's sources (CrawlSpec pins the
    // artifact-vs-live parity); the oracle replays the SAME doc_id-space
    // walk filtered to batch sources. ----
    "crawl_frontier_incr" -> ((s, d) => {
      val batch = redirectRecords(attachRedirectMedia(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0)))
      resolveRedirectsAgainst(batch, frontierRecordsTable(s, d))
        .orderBy(col("doc_id"))
    }),

    // ---- the STREAMING-MAINTAINED frontier hash-checked against the
    // from-scratch replay: [[FrontierServeFixture]] feeds the redirect
    // archive through the streaming frontier body in TWO batches (the
    // corpus slice, then the doc_id % 10 = 0 ingest slice), so chains
    // whose targets land in the LATER batch genuinely settle dangling
    // first and re-resolve when the target arrives (the retry queue's
    // whole point); the query reads the SERVE view — each source's
    // latest settled outcome from the persisted state tables — while
    // the oracle replays the ONE-SHOT walk over the full archive in
    // doc_id space. The serve view converging to the from-scratch walk
    // is the correctness contract of incremental frontier maintenance:
    // a retry bug, a replay double-count, or a stale-row leak in the
    // rank-1 view all flip rows. Scale: the state tables are
    // redirect-count-sized; the serve read is one walk-state-sized
    // rank-1 window, never an archive scan. ----
    "pipe_frontier_serve" -> ((s, d) => {
      val p = FrontierServeFixture.build(s, d)
      graft.streaming.StreamRunner
        .frontierSettled(s, FrontierServeFixture.wh, p)
        .select(col("doc_id"), col("status").cast("bigint").as("status"),
          col("n_hops").cast("bigint").as("n_hops"), col("outcome"),
          col("final_url"), col("final_canon"))
        .orderBy(col("doc_id"))
    }),

    // ---- the COMPACTED serve view: the streaming frontier's per-batch
    // `ingest_batch` fragments rewritten as ONE versioned generation
    // ([[graft.streaming.StreamRunner.compactFrontier]] — the
    // txt_bm25_compacted discipline applied to walk state) and the
    // rank-1 window served from the pinned snapshot. The oracle is the
    // SAME from-scratch walk replay as pipe_frontier_serve — compacted
    // == live == from-scratch is the layout-only-rewrite proof. ----
    "pipe_frontier_compacted" -> ((s, d) => {
      val p = FrontierServeFixture.compact(s, d)
      graft.streaming.StreamRunner
        .frontierSettledCompacted(s, FrontierServeFixture.wh, p)
        .select(col("doc_id"), col("status").cast("bigint").as("status"),
          col("n_hops").cast("bigint").as("n_hops"), col("outcome"),
          col("final_url"), col("final_canon"))
        .orderBy(col("doc_id"))
    }),

    // ---- the HYBRID serve view: snapshot + live tail over the settled
    // lake. The fixture folds AND fully vacuums records+settled BETWEEN
    // its two ingest batches, so batch 1's retry walk had to read its
    // danglings' raw records from the `_records_serve` snapshot and the
    // rank-1 serve window spans the pinned generation plus the live
    // batch-1 partition. The oracle is the SAME from-scratch walk replay
    // as pipe_frontier_serve — convergence through the fold+vacuum
    // boundary is the bounded-frontier contract. ----
    "pipe_frontier_hybrid" -> ((s, d) => {
      val p = FrontierHybridFixture.build(s, d)
      graft.streaming.StreamRunner
        .frontierSettled(s, FrontierHybridFixture.wh, p)
        .select(col("doc_id"), col("status").cast("bigint").as("status"),
          col("n_hops").cast("bigint").as("n_hops"), col("outcome"),
          col("final_url"), col("final_canon"))
        .orderBy(col("doc_id"))
    }),

    // ---- RETRY AGING: the three-batch fixture under retryMaxAge = 1,
    // so a dangling source whose blocking record lands within one batch
    // of its last state change re-resolves, while one whose record
    // lands later — or never — settles the typed `aged_out` (the
    // crawler's give-up rule, distinguishable from "still dangling" in
    // the serve view). The oracle replays the per-batch state machine
    // (dangle → retry-within-window → resolve/age-out) as a recursive
    // simulation over doc_id classes, so a retry-window off-by-one, a
    // missing aged_out emission, or an aged source that wrongly keeps
    // retrying all flip rows. ----
    "pipe_frontier_aged" -> ((s, d) => {
      val p = FrontierAgedFixture.build(s, d)
      graft.streaming.StreamRunner
        .frontierSettled(s, FrontierAgedFixture.wh, p)
        .select(col("doc_id"), col("status").cast("bigint").as("status"),
          col("n_hops").cast("bigint").as("n_hops"), col("outcome"),
          col("final_url"), col("final_canon"))
        .orderBy(col("doc_id"))
    }),

    // ---- the FETCH QUEUE: what the crawler actually requests next —
    // the serve view's ok landings, canonical-deduplicated (n_sources
    // counts converging chains), gated by a REAL robots.txt engine run
    // (site1 carries a Disallow with two longest-match Allow carve-outs
    // keyed on the canon query's a= value; site2 has NO robots row —
    // RFC 9309's unavailable-is-allowed rule), then rank-capped per
    // domain (8 fetches per politeness window). Robots and the rank
    // window are |landings|-sized; the oracle re-derives all three
    // gates in closed form from the walk replay. ----
    "pipe_frontier_gated" -> ((s, d) => {
      val p = FrontierServeFixture.build(s, d)
      val landings = graft.streaming.StreamRunner
        .frontierSettled(s, FrontierServeFixture.wh, p)
        .filter(col("outcome") === "ok")
        .groupBy(col("final_canon").as("url"))
        .agg(count(lit(1)).cast("bigint").as("n_sources"))
      val robots = robotsTable(s, Seq(Row("site1.com",
        "User-agent: graftbot\nDisallow: /d/\nAllow: /d/*?a=1\n" +
          "Allow: /d/*?a=3\n\nUser-agent: otherbot\nDisallow: /\n\n" +
          "User-agent: *\nDisallow: /\n")))
      val verdicts = robotsVerdicts(landings.select(col("url")), robots,
        "graftbot")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("domain"), col("allowed"))
        .orderBy(col("canon_url"))
      verdicts.withColumnRenamed("url", "canon_url")
        .join(landings.withColumnRenamed("url", "canon_url"),
          Seq("canon_url"))
        .withColumn("fetch_rank",
          when(col("allowed"),
            row_number().over(w).cast("bigint")))
        .select(col("domain"), col("canon_url"), col("n_sources"),
          col("allowed"), col("fetch_rank"),
          when(col("allowed"), col("fetch_rank") <= 8)
            .otherwise(lit(false)).as("fetched"))
        .orderBy(col("domain"), col("canon_url"))
    }),

    // ---- charset-aware extraction over a MIXED-charset crawl slice:
    // each doc's page is encoded in its class's declared charset
    // (UTF-8 / ISO-8859-1 / windows-1252 / windows-1251 / an unknown
    // label) and the chain must parse the Content-Type's charset=
    // parameter, STRICT-transcode the legacy bytes, and extract — or
    // degrade typed (`charset-unknown`). The oracle predicts the
    // extracted text and its md5 from `documents` plus the class
    // markers alone: a decoder that misreads windows-1251 bytes as
    // UTF-8 (what the pre-round-11 chain did) produces mojibake and
    // cannot hash right. Scale: one narrow pass, bytes decoded where
    // they are read, only (id, md5, count) rows continue. ----
    "crawl_charset_extract" -> ((s, d) => {
      val media = attachCharsetMedia(Tables.documents(s, d))
      Rows.mapPartitions(
          media.select(col("doc_id"), col("charset"), col("payload")),
          charsetStatSchema)(_.map { r =>
          val id = r.getLong(0)
          val label = r.getString(1)
          WarcCodec.decode(r.getAs[Array[Byte]](2)) match {
            case Left(_) => Row(id, label, "warc-corrupt", null, null)
            case Right(rec) => responseContent(rec) match {
              case Left(_) => Row(id, label, "http-corrupt", null, null)
              case Right((ct, payload)) => decodeBody(ct, payload) match {
                case Left(reason) => Row(id, label, reason, null, null)
                case Right(html) =>
                  val st = graft.plans.HtmlTextImpl.extract(html)
                  val md = java.security.MessageDigest.getInstance("MD5")
                  Row(id, label, "warc",
                    md.digest(st.text.getBytes("UTF-8"))
                      .map("%02x".format(_)).mkString,
                    st.text.length.toLong)
              }
            }
          }
        }).cache().orderBy(col("doc_id"))
    }),

    // ---- the crawl-ingestion CAPSTONE over a realistic `.warc.gz`
    // shape (request + response records, each its own gzip member):
    // gunzip → WARC header/body parse → response filter → HTML
    // visible-text extraction, all REAL parsers fused in one narrow
    // pass. The oracle predicts the final extraction output and the
    // response body length from the generator — it never sees a single
    // archive byte — so a bug in ANY of the three codec layers breaks
    // the hash. ----
    "pipe_crawl_e2e" -> ((s, d) => {
      val media = attachWarcGzMedia(Tables.documents(s, d))
      crawlExtract(media).cache().orderBy(col("doc_id"))
    }),

    // ---- the FILE-based crawl capstone: the write→read symmetry proof
    // of the whole crawl layer. A realistic on-disk `.warc.gz` shard set
    // (request + response records, each its own gzip member) is written
    // by the DISTRIBUTED GzipShardWriter (executor-side streaming
    // encode), read back through the STREAMING `warcgz` V2 source (one
    // member live per task at a time), WARC-parsed per member, and
    // reassembled into per-doc accounting — producing byte-identical
    // output to the in-row pipe_crawl_e2e, checked by the SAME oracle,
    // which predicts everything from (doc_id, text) having seen neither
    // an archive byte nor a shard file. ----
    "pipe_crawl_files_e2e" -> ((s, d) => {
      val dir = WarcShardFixture.dir(s, d)
      warcRecordStats(s.read.format("warcgz").load(dir))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_records"),
          sum(col("is_response")).cast("bigint").as("n_responses"),
          max(col("target_uri")).as("target_uri"),
          max(col("content_length")).as("content_length"),
          max(col("extracted_md5")).as("extracted_md5"),
          max(col("n_extracted_chars")).as("n_extracted_chars"),
          max(col("n_links")).as("n_links"))
        .select(col("doc_id"), lit("warc").as("format"), col("n_records"),
          col("n_responses"), col("target_uri"), col("content_length"),
          col("extracted_md5"), col("n_extracted_chars"), col("n_links"))
        .orderBy(col("doc_id"))
    }))

  /** The redirect WALK replay in doc_id space (class arithmetic → the
    * recursive visited-list walk with the 5-hop cap → `allrows(src,
    * status, n_hops, outcome, fin)`; /gone/ landings encode as
    * `-src - 1000000`) — shared by the `crawl_redirects` row replay and
    * the `pipe_frontier_merge` per-domain rollup, so the two can never
    * disagree about a chain.
    */
  private val redirectWalkCte: String =
    """WITH RECURSIVE cls AS (
      |  SELECT doc_id, doc_id % 12 AS c,
      |    CASE WHEN doc_id % 12 IN (1, 2, 5, 7) THEN doc_id + 3
      |         WHEN doc_id % 12 = 3 THEN doc_id + 6
      |         WHEN doc_id % 12 = 9 THEN doc_id - 6 END AS tid,
      |    doc_id % 12 IN (1, 2, 3, 5, 6, 7, 9) AS is_redir,
      |    CASE WHEN doc_id % 12 = 2 THEN 302 ELSE 301 END AS status
      |  FROM documents
      |), walk AS (
      |  SELECT doc_id AS src, status, tid AS cur, 1 AS n_hops,
      |    [doc_id] AS visited, CAST(NULL AS VARCHAR) AS outcome,
      |    CAST(NULL AS BIGINT) AS fin
      |  FROM cls WHERE is_redir AND c <> 6
      |  UNION ALL
      |  SELECT w.src, w.status,
      |    CASE WHEN t.doc_id IS NULL OR NOT t.is_redir OR t.c = 6
      |           OR list_contains(w.visited, t.tid) OR t.tid = w.cur
      |           OR w.n_hops >= 5
      |         THEN w.cur ELSE t.tid END,
      |    CASE WHEN t.doc_id IS NOT NULL AND t.is_redir AND t.c <> 6
      |           AND NOT list_contains(w.visited, t.tid) AND t.tid <> w.cur
      |           AND w.n_hops < 5
      |         THEN w.n_hops + 1
      |         WHEN t.doc_id IS NOT NULL AND t.is_redir AND t.c = 6
      |           AND w.n_hops < 5
      |         THEN w.n_hops + 1 ELSE w.n_hops END,
      |    list_append(w.visited, w.cur),
      |    -- settle precedence mirrors the engine's o2 exactly: chain
      |    -- ends (t missing / 200) / loop / cap, and only THEN the
      |    -- advance-into-/gone/ shortcut (the engine advances and
      |    -- settles 'end'->dangling one round later with the same
      |    -- n_hops+1; at the cap the engine's chain_cap wins first)
      |    CASE WHEN t.doc_id IS NULL THEN 'dangling'
      |         WHEN NOT t.is_redir THEN 'ok'
      |         WHEN list_contains(w.visited, t.tid) OR t.tid = w.cur THEN 'loop'
      |         WHEN w.n_hops >= 5 THEN 'chain_cap'
      |         WHEN t.c = 6 THEN 'dangling' END,
      |    CASE WHEN t.doc_id IS NULL OR NOT t.is_redir THEN w.cur
      |         WHEN list_contains(w.visited, t.tid) OR t.tid = w.cur THEN w.cur
      |         WHEN w.n_hops >= 5 THEN w.cur
      |         WHEN t.c = 6 THEN -w.cur - 1000000 END
      |  FROM walk w LEFT JOIN cls t ON w.cur = t.doc_id
      |  WHERE w.outcome IS NULL
      |), settled AS (
      |  SELECT src, status, n_hops, outcome, fin FROM walk
      |  WHERE outcome IS NOT NULL
      |), gone6 AS (
      |  SELECT doc_id AS src, status, 1 AS n_hops, 'dangling' AS outcome,
      |    -doc_id - 1000000 AS fin
      |  FROM cls WHERE c = 6
      |), allrows AS (
      |  SELECT * FROM settled UNION ALL SELECT * FROM gone6
      |)
      |""".stripMargin

  /** The settled-rows projection shared by the full and incremental
    * redirect oracles (final_url / final_canon reconstruction from the
    * `fin` encoding) — ONE definition so a fixture URL/canon change can
    * never desynchronize the two. `where` restricts to the batch's
    * sources for the incremental form.
    */
  private def redirectWalkSelect(where: String): String =
    s"""SELECT src AS doc_id, CAST(status AS BIGINT) AS status,
       |  CAST(n_hops AS BIGINT) AS n_hops, outcome,
       |  CASE WHEN fin < -999999
       |    THEN 'https://site' || ((-fin - 1000000) % 3) || '.com/gone/' || (-fin - 1000000)
       |    ELSE 'https://site' || (fin % 3) || '.com/d/' || fin
       |      || CASE WHEN fin % 2 = 0 THEN '?b=' || (fin % 9) || '&a=' || (fin % 5) || '&utm_src=x' ELSE '' END
       |  END AS final_url,
       |  CASE WHEN outcome = 'ok'
       |    THEN 'https://site' || (fin % 3) || '.com/d/' || fin
       |      || CASE WHEN fin % 2 = 0 THEN '?a=' || (fin % 5) || '&b=' || (fin % 9) ELSE '' END
       |  END AS final_canon
       |FROM allrows ${where}ORDER BY doc_id""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    // predicts the per-shard accounting from the assignment formula; the
    // Spark side can only reach it by the V2 source decoding the archives
    "crawl_source_scan" ->
      """SELECT CAST(doc_id % 8 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
        |  min('doc-' || doc_id) AS first_name
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,
    "crawl_gzip_members" ->
      """SELECT doc_id, 'gzip' AS format,
        |  CAST(octet_length(CAST(text AS BLOB)) % 2 + 1 AS BIGINT) AS n_members,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_raw_bytes,
        |  md5(text) AS content_md5,
        |  'doc-' || doc_id || '-0' AS name_first
        |FROM documents ORDER BY doc_id""".stripMargin,
    // predicts the parsed-and-rolled-up metadata from `documents`; the
    // Spark side can only reach it by inflating the members and parsing
    // the JSON lines
    "crawl_jsonl_gz" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // re-derives host/path/query with independent string ops (the Spark
    // side uses the built-in parse_url), then the same domain rollup
    "crawl_url_stats" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'site' || (doc_id % 7) ||
        |      CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END AS domain,
        |    CAST(doc_id % 4 + 1 AS BIGINT) AS path_depth,
        |    CAST(CASE WHEN n_chars % 2 = 0 THEN 2 ELSE 0 END AS BIGINT) AS n_params
        |  FROM documents
        |)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(sum(path_depth) AS BIGINT) AS total_depth,
        |  CAST(max(path_depth) AS BIGINT) AS max_depth,
        |  CAST(sum(n_params) AS BIGINT) AS total_params
        |FROM u GROUP BY domain ORDER BY domain""".stripMargin,
    // re-derives every robots verdict from the closed-form longest-match
    // decision: the depth-3 Allow (9 octets) outranks the depth-2
    // Disallow (6), which outranks the wildcard-query Disallow (5);
    // no match => allowed. The Spark side can only reach these by
    // parsing the robots bodies and running the RFC 9309 matcher.
    "crawl_robots_gate" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'site' || (doc_id % 7) ||
        |      CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END AS domain,
        |    (doc_id % 7) + CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 7 END AS dom_idx,
        |    doc_id % 4 + 1 AS depth,
        |    n_chars % 2 = 0 AS has_q
        |  FROM documents
        |), v AS (
        |  SELECT domain,
        |    CASE WHEN depth >= 3 AND dom_idx % 3 = 0 THEN true
        |         WHEN dom_idx % 2 = 0 AND depth >= 2 THEN false
        |         WHEN dom_idx % 5 = 0 AND has_q THEN false
        |         ELSE true END AS allowed
        |  FROM u
        |)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
        |  CAST(sum(CASE WHEN NOT allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_denied
        |FROM v GROUP BY domain ORDER BY domain""".stripMargin,
    // replays the redirect walk in doc_id space: class arithmetic for
    // status/target, a recursive CTE carrying the visited list for loop
    // detection, the 5-hop cap, and the landing url's canon construction
    // (params sorted, utm dropped) — the Spark side reaches the same
    // rows only by parsing real WARC/HTTP bytes and joining url strings
    "crawl_redirects" -> (redirectWalkCte + redirectWalkSelect("")),
    // the SAME walk replay restricted to the ingest batch's sources —
    // the incremental engine path (batch decoded live, archive edges
    // from the persisted artifact) must land on identical rows
    "crawl_frontier_incr" ->
      (redirectWalkCte + redirectWalkSelect("WHERE src % 10 = 0 ")),
    // the streaming-maintained serve view must CONVERGE to the
    // from-scratch walk — the oracle is the full replay, identical to
    // crawl_redirects' (deliberately: that equality IS the contract)
    "pipe_frontier_serve" -> (redirectWalkCte + redirectWalkSelect("")),
    // the compacted snapshot serves the SAME rows — layout-only rewrite
    // proven by reusing pipe_frontier_serve's oracle verbatim
    "pipe_frontier_compacted" -> (redirectWalkCte + redirectWalkSelect("")),
    // the hybrid serve (mid-stream fold + full vacuum, batch 1 retried
    // against the records snapshot) must STILL converge to the same
    // from-scratch walk — the oracle is reused verbatim
    "pipe_frontier_hybrid" -> (redirectWalkCte + redirectWalkSelect("")),
    // replays the retry/aging state machine per source in closed form:
    // each chain (≤ 2 nodes in this fixture) blocks on its nodes'
    // ARRIVAL batches (b: doc_id%10 → 0/1/2); a dangling retries while
    // its last state change is ≤ 1 batch old, re-resolving on progress
    // (which restarts the window) and settling aged_out the batch the
    // window lapses — exactly the engine's delta-published verdicts
    "pipe_frontier_aged" ->
      """WITH RECURSIVE params AS (
        |  SELECT max(doc_id) AS maxid FROM documents
        |), cls AS (
        |  SELECT doc_id, doc_id % 12 AS c,
        |    CASE WHEN doc_id % 12 IN (1, 2, 5, 7) THEN doc_id + 3
        |         WHEN doc_id % 12 = 3 THEN doc_id + 6
        |         WHEN doc_id % 12 = 9 THEN doc_id - 6 END AS n1,
        |    CASE WHEN doc_id % 12 = 2 THEN doc_id + 6 END AS n2,
        |    CASE WHEN doc_id % 12 = 2 THEN 302 ELSE 301 END AS status,
        |    CASE WHEN doc_id % 10 = 0 THEN 2 WHEN doc_id % 10 = 5 THEN 1
        |         ELSE 0 END AS b
        |  FROM documents
        |  WHERE doc_id % 12 IN (1, 2, 3, 5, 6, 7, 9)
        |), src AS (
        |  -- arrival batch of each chain node; 99 = never (past corpus
        |  -- or the /gone/ target no record serves)
        |  SELECT doc_id, c, status, b, n1, n2,
        |    CASE WHEN c = 6 OR n1 > maxid THEN 99
        |         WHEN n1 % 10 = 0 THEN 2 WHEN n1 % 10 = 5 THEN 1
        |         ELSE 0 END AS a1,
        |    CASE WHEN n2 IS NULL THEN NULL
        |         WHEN n2 > maxid THEN 99
        |         WHEN n2 % 10 = 0 THEN 2 WHEN n2 % 10 = 5 THEN 1
        |         ELSE 0 END AS a2
        |  FROM cls, params
        |), sim AS (
        |  -- st: 0 = dangling at n1 (1 hop), 1 = dangling at n2 (2 hops,
        |  -- the c=2 chain), 2 = terminal walk outcome (ok/loop),
        |  -- 3 = aged_out; l = last state-change batch; pos = dangling
        |  -- position frozen into an aged_out row
        |  SELECT doc_id, b AS t,
        |    CASE WHEN b >= a1 AND (a2 IS NULL OR b >= a2) THEN 2
        |         WHEN b >= a1 THEN 1 ELSE 0 END AS st,
        |    CAST(b AS INTEGER) AS l,
        |    CASE WHEN b >= a1 THEN 1 ELSE 0 END AS pos
        |  FROM src
        |  UNION ALL
        |  SELECT m.doc_id, m.t + 1,
        |    CASE WHEN m.st >= 2 THEN m.st
        |         WHEN m.t + 1 - m.l > 1 THEN 3
        |         WHEN m.t + 1 >= s.a1 AND (s.a2 IS NULL OR m.t + 1 >= s.a2)
        |           THEN 2
        |         WHEN m.t + 1 >= s.a1 THEN 1 ELSE 0 END,
        |    CASE WHEN m.st >= 2 THEN m.l
        |         WHEN m.t + 1 - m.l > 1 THEN m.t + 1
        |         WHEN (CASE WHEN m.t + 1 >= s.a1
        |                 AND (s.a2 IS NULL OR m.t + 1 >= s.a2) THEN 2
        |                 WHEN m.t + 1 >= s.a1 THEN 1 ELSE 0 END) <> m.st
        |           THEN m.t + 1 ELSE m.l END,
        |    CASE WHEN m.st >= 2 OR m.t + 1 - m.l > 1 THEN m.pos
        |         WHEN m.t + 1 >= s.a1 THEN 1 ELSE 0 END
        |  FROM sim m JOIN src s ON m.doc_id = s.doc_id
        |  WHERE m.t < 2
        |), fin AS (
        |  SELECT m.doc_id, s.status, s.c, m.st, m.pos,
        |    -- node the final row points at: the terminal landing for
        |    -- st = 2 (n2 for the 2-hop c=2 chain, n1 otherwise), else
        |    -- the frozen dangling position
        |    CASE WHEN m.st = 2 THEN
        |           (CASE WHEN s.c = 2 THEN s.n2 ELSE s.n1 END)
        |         WHEN m.pos = 1 THEN s.n2 ELSE s.n1 END AS node
        |  FROM sim m JOIN src s ON m.doc_id = s.doc_id
        |  WHERE m.t = 2
        |)
        |SELECT doc_id, CAST(status AS BIGINT) AS status,
        |  CAST(CASE WHEN st = 2 AND c = 2 THEN 2
        |            WHEN st = 2 THEN 1
        |            WHEN pos = 1 THEN 2 ELSE 1 END AS BIGINT) AS n_hops,
        |  CASE WHEN st = 2 AND c IN (3, 9) THEN 'loop'
        |       WHEN st = 2 THEN 'ok'
        |       WHEN st = 3 THEN 'aged_out'
        |       ELSE 'dangling' END AS outcome,
        |  CASE WHEN c = 6
        |    THEN 'https://site' || (doc_id % 3) || '.com/gone/' || doc_id
        |    ELSE 'https://site' || (node % 3) || '.com/d/' || node
        |      || CASE WHEN node % 2 = 0
        |           THEN '?b=' || (node % 9) || '&a=' || (node % 5)
        |             || '&utm_src=x'
        |           ELSE '' END
        |  END AS final_url,
        |  CASE WHEN st = 2 AND c NOT IN (3, 9)
        |    THEN 'https://site' || (node % 3) || '.com/d/' || node
        |      || CASE WHEN node % 2 = 0
        |           THEN '?a=' || (node % 5) || '&b=' || (node % 9)
        |           ELSE '' END
        |  END AS final_canon
        |FROM fin ORDER BY doc_id""".stripMargin,
    // re-derives the fetch queue's three gates in closed form: ok
    // landings from the walk replay (canonical-deduplicated — n_sources
    // counts converging chains), the robots verdict from the planted
    // rule arithmetic (site1: Allow carve-outs win longest-match iff
    // a = fin%5 ∈ {1,3}; site2: no robots row → allowed), and the
    // per-domain rank cap
    "pipe_frontier_gated" -> (redirectWalkCte +
      """, okc AS (
        |  SELECT fin, 'site' || (fin % 3) || '.com' AS domain,
        |    'https://site' || (fin % 3) || '.com/d/' || fin
        |      || CASE WHEN fin % 2 = 0
        |           THEN '?a=' || (fin % 5) || '&b=' || (fin % 9)
        |           ELSE '' END AS canon_url,
        |    count(*) AS n_sources
        |  FROM allrows WHERE outcome = 'ok' GROUP BY fin
        |), verd AS (
        |  SELECT domain, canon_url, n_sources,
        |    CASE WHEN fin % 3 = 1 THEN fin % 5 IN (1, 3)
        |         ELSE true END AS allowed
        |  FROM okc
        |), ranked AS (
        |  SELECT domain, canon_url, CAST(n_sources AS BIGINT) AS n_sources,
        |    allowed,
        |    CASE WHEN allowed THEN CAST(row_number() OVER (
        |      PARTITION BY domain, allowed ORDER BY canon_url) AS BIGINT)
        |    END AS fetch_rank
        |  FROM verd
        |)
        |SELECT domain, canon_url, n_sources, allowed, fetch_rank,
        |  CASE WHEN allowed THEN fetch_rank <= 8 ELSE false END AS fetched
        |FROM ranked ORDER BY domain, canon_url""".stripMargin),
    // the SAME walk replay rolled up per domain (src % 3 — every planted
    // hop is same-host, including the /gone/ and past-corpus targets);
    // landings dedup on fin, pages counted from the non-redirect classes
    "pipe_frontier_merge" -> (redirectWalkCte +
      """, pg AS (
        |  SELECT 'site' || (doc_id % 3) || '.com' AS domain,
        |    count(*) AS n_pages
        |  FROM cls WHERE NOT is_redir GROUP BY 1
        |), rd AS (
        |  SELECT 'site' || (src % 3) || '.com' AS domain,
        |    count(*) AS n_redirects,
        |    sum(CASE WHEN outcome = 'ok' THEN 1 ELSE 0 END) AS n_resolved_ok,
        |    count(DISTINCT CASE WHEN outcome = 'ok' THEN fin END)
        |      AS n_distinct_landings,
        |    sum(CASE WHEN outcome = 'dangling' THEN 1 ELSE 0 END) AS n_dangling,
        |    sum(CASE WHEN outcome = 'loop' THEN 1 ELSE 0 END) AS n_loop,
        |    sum(CASE WHEN outcome = 'no_location' THEN 1 ELSE 0 END)
        |      AS n_no_location
        |  FROM allrows GROUP BY 1
        |)
        |SELECT coalesce(pg.domain, rd.domain) AS domain,
        |  CAST(coalesce(n_pages, 0) AS BIGINT) AS n_pages,
        |  CAST(coalesce(n_redirects, 0) AS BIGINT) AS n_redirects,
        |  CAST(coalesce(n_resolved_ok, 0) AS BIGINT) AS n_resolved_ok,
        |  CAST(coalesce(n_distinct_landings, 0) AS BIGINT) AS n_distinct_landings,
        |  CAST(coalesce(n_dangling, 0) AS BIGINT) AS n_dangling,
        |  CAST(coalesce(n_loop, 0) AS BIGINT) AS n_loop,
        |  CAST(coalesce(n_no_location, 0) AS BIGINT) AS n_no_location,
        |  CAST(coalesce(n_resolved_ok, 0) - coalesce(n_distinct_landings, 0)
        |    AS BIGINT) AS redirect_dup_saved
        |FROM pg FULL OUTER JOIN rd ON pg.domain = rd.domain
        |ORDER BY domain""".stripMargin),
    // predicts the transcoded extraction from `documents` + the class
    // markers; only a real charset= parse + strict legacy-byte decode on
    // the Spark side reproduces these hashes
    "crawl_charset_extract" ->
      """WITH cls AS (
        |  SELECT doc_id, text, doc_id % 5 AS k,
        |    CASE doc_id % 5
        |      WHEN 0 THEN 'utf-8' WHEN 1 THEN 'ISO-8859-1'
        |      WHEN 2 THEN 'windows-1252' WHEN 3 THEN 'windows-1251'
        |      ELSE 'x-graft-unknown' END AS charset,
        |    CASE doc_id % 5
        |      WHEN 0 THEN 'déjà ✓' WHEN 1 THEN 'café ±'
        |      WHEN 2 THEN '€uro œuvre' WHEN 3 THEN 'привет мир'
        |      ELSE '' END AS marker
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, charset, k,
        |    trim(regexp_replace(text || ' ' || marker, '\s+', ' ', 'g')) AS xt
        |  FROM cls
        |)
        |SELECT doc_id, charset,
        |  CASE WHEN k = 4 THEN 'charset-unknown' ELSE 'warc' END AS format,
        |  CASE WHEN k = 4 THEN NULL ELSE md5(xt) END AS extracted_md5,
        |  CASE WHEN k = 4 THEN NULL
        |       ELSE CAST(length(xt) AS BIGINT) END AS n_extracted_chars
        |FROM t ORDER BY doc_id""".stripMargin,
    // replays BOTH the messy url and its canonical form from doc_id
    // arithmetic; the Spark side can only reach the canon by actually
    // parsing and normalizing the raw string
    "crawl_url_canon" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END
        |      || '://'
        |      || CASE WHEN doc_id % 2 = 0 THEN 'WWW.Site' ELSE 'www.site' END
        |      || CAST(doc_id % 7 AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0 THEN '.COM' ELSE '.org' END
        |      || CASE WHEN doc_id % 3 = 0 THEN
        |           CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END
        |         ELSE '' END
        |      || '/p/' || CAST(doc_id % 20 AS VARCHAR)
        |      || CASE doc_id % 4 WHEN 0 THEN '?b=2&a=1&utm_source=x'
        |           WHEN 1 THEN '?a=1&b=2' WHEN 2 THEN '?a=1' ELSE '' END
        |      || CASE WHEN doc_id % 5 = 0
        |           THEN '#s' || CAST(doc_id % 9 AS VARCHAR) ELSE '' END
        |      AS url,
        |    'http' || CASE WHEN doc_id % 2 = 0 THEN '' ELSE 's' END
        |      || '://www.site' || CAST(doc_id % 7 AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END
        |      || '/p/' || CAST(doc_id % 20 AS VARCHAR)
        |      || CASE WHEN doc_id % 4 <= 1 THEN '?a=1&b=2'
        |           WHEN doc_id % 4 = 2 THEN '?a=1' ELSE '' END AS canon_url
        |  FROM documents
        |)
        |SELECT doc_id, url, canon_url,
        |  CAST(count(*) OVER (PARTITION BY canon_url) AS BIGINT) AS n_dups,
        |  doc_id = min(doc_id) OVER (PARTITION BY canon_url) AS is_canonical
        |FROM u ORDER BY doc_id""".stripMargin,
    // replays the planted outlinks as (src, dst, canonical-url, mult)
    // rows from doc_id arithmetic — never parsing HTML: the decoy
    // anchors (script string, comment, no-href, fragment) contribute
    // NOTHING here, so an extractor that picks any of them up inflates
    // n_links; url_check pins the exact canonical strings (entity
    // decode, relative resolution, case/port/utm normalization)
    "crawl_link_graph" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'site' || CAST(doc_id % 7 AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END AS src
        |  FROM documents
        |), e AS (
        |  SELECT doc_id, src, src AS dst,
        |    'https://' || src || '/local/' || CAST(doc_id % 5 AS VARCHAR)
        |      || '?a=1&b=2' AS u, 2 AS m
        |  FROM d
        |  UNION ALL
        |  SELECT doc_id, src,
        |    'site' || CAST((doc_id * 3) % 7 AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END,
        |    'https://site' || CAST((doc_id * 3) % 7 AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END
        |      || '/p/' || CAST(doc_id % 11 AS VARCHAR)
        |      || '?ref=' || CAST(doc_id % 3 AS VARCHAR), 1
        |  FROM d
        |  UNION ALL
        |  SELECT doc_id, src,
        |    'www.site' || CAST((doc_id + 1) % 7 AS VARCHAR) || '.com',
        |    'https://www.site' || CAST((doc_id + 1) % 7 AS VARCHAR)
        |      || '.com/q/' || CAST(doc_id % 13 AS VARCHAR), 1
        |  FROM d WHERE doc_id % 3 = 0
        |)
        |SELECT src AS src_host, dst AS dst_host,
        |  CAST(sum(m) AS BIGINT) AS n_links,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages,
        |  CAST(sum(m * (try_cast('0x' || substr(md5(u), 1, 15) AS BIGINT)
        |    % 1000000007)) AS BIGINT) AS url_check
        |FROM e GROUP BY src, dst
        |ORDER BY src_host, dst_host""".stripMargin,
    // closed-form replay of all three budget inputs: the robots verdict
    // arithmetic (the crawl_robots_gate decision table), the CANONICAL
    // url string constructed directly (params sorted: page before q),
    // and the planted link arithmetic (the crawl_link_graph e CTE) —
    // assembled into the same per-domain report + in-link rank buckets
    "pipe_crawl_budget" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'site' || (doc_id % 7) ||
        |      CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END AS domain,
        |    (doc_id % 7) + CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 7 END AS dom_idx,
        |    doc_id % 4 + 1 AS depth,
        |    n_chars % 2 = 0 AS has_q,
        |    'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
        |      || 'site' || (doc_id % 7)
        |      || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END
        |      || '/' || CASE doc_id % 4 + 1 WHEN 1 THEN 'p1' WHEN 2 THEN 'p1/p2'
        |                 WHEN 3 THEN 'p1/p2/p3' ELSE 'p1/p2/p3/p4' END
        |      || CASE WHEN n_chars % 2 = 0
        |           THEN '?page=' || (doc_id % 5) || '&q=' || (n_chars % 100)
        |           ELSE '' END AS canon
        |  FROM documents
        |), v AS (
        |  SELECT domain, dom_idx, canon,
        |    CASE WHEN depth >= 3 AND dom_idx % 3 = 0 THEN true
        |         WHEN dom_idx % 2 = 0 AND depth >= 2 THEN false
        |         WHEN dom_idx % 5 = 0 AND has_q THEN false
        |         ELSE true END AS allowed
        |  FROM u
        |), gate AS (
        |  SELECT domain, max(dom_idx) AS dom_idx,
        |    CAST(count(*) AS BIGINT) AS n_urls,
        |    CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
        |    CAST(count(DISTINCT CASE WHEN allowed THEN canon END) AS BIGINT) AS n_canon
        |  FROM v GROUP BY domain
        |), ed AS (
        |  SELECT doc_id,
        |    'site' || CAST(doc_id % 7 AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END AS src
        |  FROM documents
        |), e AS (
        |  SELECT src, src AS dst, 2 AS m FROM ed
        |  UNION ALL
        |  SELECT src,
        |    'site' || CAST((doc_id * 3) % 7 AS VARCHAR)
        |      || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END, 1
        |  FROM ed
        |  UNION ALL
        |  SELECT src, 'www.site' || CAST((doc_id + 1) % 7 AS VARCHAR) || '.com', 1
        |  FROM ed WHERE doc_id % 3 = 0
        |), il AS (
        |  SELECT CASE WHEN dst LIKE 'www.%' THEN substr(dst, 5) ELSE dst END AS domain,
        |    CAST(sum(m) AS BIGINT) AS in_links,
        |    CAST(count(DISTINCT src) AS BIGINT) AS in_hosts
        |  FROM e
        |  WHERE src <> CASE WHEN dst LIKE 'www.%' THEN substr(dst, 5) ELSE dst END
        |  GROUP BY 1
        |), rep AS (
        |  SELECT g.domain, g.n_urls, g.n_allowed, g.n_canon,
        |    g.n_allowed - g.n_canon AS dup_saved,
        |    coalesce(il.in_links, 0) AS in_links,
        |    coalesce(il.in_hosts, 0) AS in_hosts,
        |    CAST(CASE WHEN g.dom_idx % 3 = 0 THEN g.dom_idx % 4 + 1
        |         ELSE 0 END AS BIGINT) AS crawl_delay,
        |    CAST(g.n_canon * (CASE WHEN g.dom_idx % 3 = 0
        |         THEN g.dom_idx % 4 + 1 ELSE 0 END) AS BIGINT) AS drain_seconds
        |  FROM gate g LEFT JOIN il ON il.domain = g.domain
        |), ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY in_links DESC, domain) AS rnk,
        |    count(*) OVER () AS n_dom
        |  FROM rep
        |)
        |SELECT domain, n_urls, n_allowed, n_canon, dup_saved,
        |  CAST(in_links AS BIGINT) AS in_links,
        |  CAST(in_hosts AS BIGINT) AS in_hosts,
        |  crawl_delay, drain_seconds,
        |  CASE WHEN (rnk - 1) * 3 < n_dom THEN 'high'
        |       WHEN (rnk - 1) * 3 < n_dom * 2 THEN 'mid'
        |       ELSE 'low' END AS fetch_priority
        |FROM ranked ORDER BY domain""".stripMargin,
    "pipe_crawl_e2e" -> crawlE2eOracle,
    // the FILE-based capstone reassembles to the SAME per-doc accounting:
    // one oracle text checks both the in-row and the written-shard paths
    "pipe_crawl_files_e2e" -> crawlE2eOracle)

  // predicts the END of the FOUR-codec chain (gzip → WARC → HTTP →
  // HTML): content_length is the HTTP BODY length (= the generated
  // page's bytes — the status line, headers, and chunk framing must be
  // stripped exactly to land on it) and the extraction output is the
  // same generator replay txt_html_extract pins — while the Spark side
  // must inflate, slice, dechunk, and parse to reach either
  private val crawlE2eOracle: String =
      """WITH page AS (
        |  SELECT doc_id,
        |    '<!DOCTYPE html>' || chr(10) ||
        |    '<html><head><title>Doc ' || doc_id || '</title><style>body { color: #fff; }</style></head>' || chr(10) ||
        |    '<body><!-- generated fixture -->' || chr(10) ||
        |    '<h1>Doc ' || doc_id || ' &amp; friends &#65;</h1>' || chr(10) ||
        |    '<p class="body" data-x="a>b">' || text || '</p>' || chr(10) ||
        |    '<script type="text/javascript">if (1 < 2) { console.log("<p>"); }</script>' || chr(10) ||
        |    '<a href="https://example.com/' || doc_id || '">link ' || doc_id || '</a>' ||
        |    repeat(chr(10) || '<a href="#">x</a>', CAST(doc_id % 3 AS INT)) ||
        |    chr(10) || '</body></html>' AS html,
        |    trim(regexp_replace(
        |      'Doc ' || doc_id || ' Doc ' || doc_id || ' & friends A ' ||
        |        text || ' link ' || doc_id || repeat(' x', CAST(doc_id % 3 AS INT)),
        |      '\s+', ' ', 'g')) AS t
        |  FROM documents
        |)
        |SELECT doc_id, 'warc' AS format,
        |  CAST(2 AS BIGINT) AS n_records, CAST(1 AS BIGINT) AS n_responses,
        |  'https://example.com/' || doc_id AS target_uri,
        |  CAST(octet_length(CAST(html AS BLOB)) AS BIGINT) AS content_length,
        |  md5(t) AS extracted_md5,
        |  CAST(length(t) AS BIGINT) AS n_extracted_chars,
        |  CAST(1 + doc_id % 3 AS BIGINT) AS n_links
        |FROM page ORDER BY doc_id""".stripMargin
}
