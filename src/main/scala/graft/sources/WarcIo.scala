package graft.sources

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** WARC (Web ARChive, ISO 28500 / WARC 1.1) reader + writer, from
  * scratch on the JDK — the ingestion container for web-crawl training
  * corpora (Common Crawl ships `.warc.gz` / WET this way).
  *
  * Format essentials implemented here:
  *   - a record = `WARC/1.0` version line, CRLF-terminated named header
  *     fields (with RFC-822-style continuation folding), a blank line,
  *     exactly `Content-Length` payload octets, then a CRLF CRLF trailer;
  *   - a `.warc.gz` file = concatenated gzip MEMBERS, one record per
  *     member, so readers can stream records without decompressing the
  *     whole file (`GZIPInputStream` consumes concatenated members
  *     natively);
  *   - `response` records carry a full HTTP/1.1 message as payload;
  *     WET "conversion" records carry extracted plain text.
  *
  * Scale shape: crawl archives are many moderate files (Common Crawl:
  * ~70k files x ~1 GiB per crawl), so parallelism is FILE-granular —
  * `readWarc` maps one Spark task per archive via
  * `sparkContext.binaryFiles` and streams records off the open
  * `PortableDataStream` with bounded memory (payloads are
  * size-guarded, one record materialized at a time; neither the
  * archive bytes nor a record collection is ever resident).
  * Gzip members are not block-splittable; that is the format's own
  * contract, and at 100 TB the file count (not intra-file splits)
  * supplies the parallelism.
  *
  * All parsing fails loudly (malformed version line, missing
  * Content-Length, truncated payload, bad trailer) — a crawl pipeline
  * that silently drops records corrupts corpus statistics downstream.
  */
object WarcIo {

  /** One WARC record. `extra` holds any header fields beyond the named
    * ones, with their original names (matching is case-insensitive).
    */
  final case class WarcRecord(
      recordType: String,
      targetUri: String,
      date: String,
      recordId: String,
      contentType: String,
      extra: Map[String, String],
      payload: Array[Byte])

  /** Deterministic RFC-4122 name-based record id — executor-safe (no
    * randomness; retries of a task regenerate identical ids).
    */
  def recordIdFor(seed: String): String =
    "<urn:uuid:" + UUID.nameUUIDFromBytes(("graft-warc:" + seed).getBytes(UTF_8)) + ">"

  private val Crlf = "\r\n"

  // ---------------------------------------------------------------- write

  /** Serialize one record as an uncompressed WARC/1.0 record. */
  def writeRecord(r: WarcRecord): Array[Byte] = {
    require(r.recordType.nonEmpty, "WARC-Type is mandatory")
    require(r.recordId.nonEmpty, "WARC-Record-ID is mandatory")
    require(r.date.nonEmpty, "WARC-Date is mandatory")
    val sb = new StringBuilder
    sb.append("WARC/1.0").append(Crlf)
    sb.append("WARC-Type: ").append(r.recordType).append(Crlf)
    sb.append("WARC-Record-ID: ").append(r.recordId).append(Crlf)
    sb.append("WARC-Date: ").append(r.date).append(Crlf)
    if (r.targetUri.nonEmpty) sb.append("WARC-Target-URI: ").append(r.targetUri).append(Crlf)
    if (r.contentType.nonEmpty) sb.append("Content-Type: ").append(r.contentType).append(Crlf)
    r.extra.toSeq.sortBy(_._1).foreach { case (k, v) =>
      require(!k.equalsIgnoreCase("content-length"), "Content-Length is derived, not caller-set")
      sb.append(k).append(": ").append(v).append(Crlf)
    }
    sb.append("Content-Length: ").append(r.payload.length).append(Crlf)
    sb.append(Crlf)
    val head = sb.toString.getBytes(UTF_8)
    val out = new Array[Byte](head.length + r.payload.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(r.payload, 0, out, head.length, r.payload.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** One gzip member wrapping `raw` (the `.warc.gz` unit: member-per-record). */
  // one Deflater/CRC32 per writer thread, reset per member: a
  // GZIPOutputStream per record allocates (and JNI-initializes) a
  // fresh Deflater's native buffers for every record of an archive
  // write — pure per-record overhead on the crawl-commit hot path.
  // reset() restores the initial deflate state, so the deflate bytes
  // and CRC32+ISIZE trailer are byte-identical to the per-instance
  // form (same level, same single setInput + finish flush). The fixed
  // 10-byte header pins OS = 0 — NB the JDK itself writes OS = 255
  // since JDK 16 (JDK-8244706); pinning keeps archives byte-stable
  // across JDK upgrades, and the OS byte is ignored by every reader
  // (WarcIoSpec pins equality-modulo-OS-byte against the JDK). The
  // pooled Deflater's native zlib buffers live for the thread's
  // lifetime — bounded (one per pool thread), invisible to heap
  // accounting by design.
  private val gzDeflater = ThreadLocal.withInitial[java.util.zip.Deflater](() =>
    new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true))
  private val gzCrc = ThreadLocal.withInitial[java.util.zip.CRC32](() =>
    new java.util.zip.CRC32)

  def gzipMember(raw: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(raw.length / 2 + 64)
    bos.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0))
    val defl = gzDeflater.get()
    defl.reset()
    defl.setInput(raw)
    defl.finish()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) {
      val n = defl.deflate(buf)
      if (n > 0) bos.write(buf, 0, n)
    }
    val crc = gzCrc.get()
    crc.reset()
    crc.update(raw)
    def le32(v: Long): Unit = {
      bos.write((v & 0xff).toInt); bos.write(((v >> 8) & 0xff).toInt)
      bos.write(((v >> 16) & 0xff).toInt); bos.write(((v >> 24) & 0xff).toInt)
    }
    le32(crc.getValue)
    le32(raw.length.toLong)
    bos.toByteArray
  }

  /** Serialize records as a `.warc.gz` stream: concatenated gzip members,
    * one record per member — the layout crawl tooling expects.
    */
  def writeGz(records: Seq[WarcRecord]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    records.foreach(r => bos.write(gzipMember(writeRecord(r))))
    bos.toByteArray
  }

  /** Serialize records uncompressed, back to back. */
  def writePlain(records: Seq[WarcRecord]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    records.foreach(r => bos.write(writeRecord(r)))
    bos.toByteArray
  }

  // ----------------------------------------------------------------- read

  /** Parse a whole archive held in memory; sniffs gzip magic and handles
    * concatenated members. For file-sized inputs prefer `readStream`.
    */
  def readAll(bytes: Array[Byte], maxPayloadBytes: Int = 64 << 20): Vector[WarcRecord] = {
    val base = new ByteArrayInputStream(bytes)
    val in =
      if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b)
        new GZIPInputStream(base)
      else base
    readStream(in, maxPayloadBytes).toVector
  }

  /** Stream records off `in` (already decompressed if the source was
    * gzip). One record is materialized at a time; payloads above
    * `maxPayloadBytes` fail loudly instead of ballooning executor heap.
    */
  def readStream(in: InputStream, maxPayloadBytes: Int = 64 << 20): Iterator[WarcRecord] = {
    val buf = new BufferedInputStream(in, 64 << 10)
    new Iterator[WarcRecord] {
      private var nextRec: WarcRecord = _
      private var done = false
      private def advance(): Unit = if (nextRec == null && !done) {
        val first = firstNonEmptyLine(buf)
        first match {
          case None => done = true
          case Some(version) =>
            if (!(version == "WARC/1.0" || version == "WARC/1.1"))
              fail(s"expected WARC version line, got '${version.take(40)}'")
            nextRec = readOne(buf, maxPayloadBytes)
        }
      }
      override def hasNext: Boolean = { advance(); !done }
      override def next(): WarcRecord = {
        advance()
        if (done) throw new NoSuchElementException("past end of WARC stream")
        val r = nextRec; nextRec = null; r
      }
    }
  }

  /** Skip blank lines between records (tolerated), return the first
    * non-empty line or None at EOF.
    */
  private def firstNonEmptyLine(in: InputStream): Option[String] = {
    while (true) {
      readLineOpt(in) match {
        case None => return None
        case Some(l) if l.nonEmpty => return Some(l)
        case _ => () // inter-record padding
      }
    }
    None
  }

  private def readOne(in: InputStream, maxPayloadBytes: Int): WarcRecord = {
    // header fields with continuation folding
    val fields = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var line = readLineOpt(in).getOrElse(fail("EOF inside WARC header"))
    while (line.nonEmpty) {
      if (line.head == ' ' || line.head == '\t') {
        if (fields.isEmpty) fail("continuation line before any header field")
        val (k, v) = fields.last
        fields(fields.length - 1) = (k, v + " " + line.trim)
      } else {
        val i = line.indexOf(':')
        if (i <= 0) fail(s"malformed WARC header line '${line.take(60)}'")
        fields += ((line.substring(0, i).trim, line.substring(i + 1).trim))
      }
      line = readLineOpt(in).getOrElse(fail("EOF inside WARC header"))
    }
    def get(name: String): Option[String] =
      fields.find(_._1.equalsIgnoreCase(name)).map(_._2)
    val lenStr = get("Content-Length").getOrElse(fail("record without Content-Length"))
    val len =
      try lenStr.toLong
      catch { case _: NumberFormatException => fail(s"non-numeric Content-Length '${lenStr.take(40)}'") }
    if (len < 0) fail(s"negative Content-Length $len")
    if (len > maxPayloadBytes)
      fail(s"payload of $len bytes exceeds the $maxPayloadBytes-byte guard")
    val payload = new Array[Byte](len.toInt)
    var off = 0
    while (off < payload.length) {
      val n = in.read(payload, off, payload.length - off)
      if (n < 0) fail(s"truncated payload: got $off of $len bytes")
      off += n
    }
    // trailer: CRLF CRLF
    expectCrlf(in); expectCrlf(in)
    val named = Set("warc-type", "warc-record-id", "warc-date", "warc-target-uri",
      "content-type", "content-length")
    WarcRecord(
      recordType = get("WARC-Type").getOrElse(fail("record without WARC-Type")),
      targetUri = get("WARC-Target-URI").getOrElse(""),
      date = get("WARC-Date").getOrElse(fail("record without WARC-Date")),
      recordId = get("WARC-Record-ID").getOrElse(fail("record without WARC-Record-ID")),
      contentType = get("Content-Type").getOrElse(""),
      extra = fields.filterNot(f => named(f._1.toLowerCase)).toMap,
      payload = payload)
  }

  /** Read one CRLF-terminated line as UTF-8; None at clean EOF before any
    * byte. A bare LF is accepted (seen in hand-rolled archives), a CR not
    * followed by LF is an error.
    */
  private def readLineOpt(in: InputStream): Option[String] = {
    val bos = new ByteArrayOutputStream(80)
    var b = in.read()
    if (b < 0) return None
    while (b >= 0 && b != '\n') {
      if (b == '\r') {
        val nl = in.read()
        if (nl != '\n') fail("CR not followed by LF in WARC header")
        return Some(new String(bos.toByteArray, UTF_8))
      }
      bos.write(b)
      b = in.read()
    }
    Some(new String(bos.toByteArray, UTF_8))
  }

  private def expectCrlf(in: InputStream): Unit = {
    val a = in.read(); val b = in.read()
    if (a != '\r' || b != '\n')
      fail(s"missing CRLF record trailer (got bytes $a,$b)")
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException("WARC: " + msg)

  // ----------------------------------------------------------------- HTTP

  /** Parsed HTTP/1.1 response message (the payload of a WARC `response`
    * record). Header order preserved; lookup is case-insensitive.
    */
  final case class HttpResponse(status: Int, reason: String,
      headers: Seq[(String, String)], body: Array[Byte]) {
    def header(name: String): Option[String] =
      headers.find(_._1.equalsIgnoreCase(name)).map(_._2)
  }

  def buildHttpResponse(status: Int, reason: String,
      headers: Seq[(String, String)], body: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("HTTP/1.1 ").append(status).append(' ').append(reason).append(Crlf)
    headers.foreach { case (k, v) =>
      require(!k.equalsIgnoreCase("content-length"), "Content-Length is derived")
      sb.append(k).append(": ").append(v).append(Crlf)
    }
    sb.append("Content-Length: ").append(body.length).append(Crlf).append(Crlf)
    val head = sb.toString.getBytes(UTF_8)
    val out = new Array[Byte](head.length + body.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(body, 0, out, head.length, body.length)
    out
  }

  def parseHttpResponse(payload: Array[Byte]): HttpResponse = {
    // locate the CRLFCRLF head/body split without decoding the body
    var split = -1
    var i = 0
    while (split < 0 && i + 3 < payload.length) {
      if (payload(i) == '\r' && payload(i + 1) == '\n' &&
          payload(i + 2) == '\r' && payload(i + 3) == '\n') split = i
      i += 1
    }
    if (split < 0) fail("HTTP payload without header/body separator")
    val head = new String(payload, 0, split, UTF_8)
    val lines = head.split("\r\n", -1)
    val status = lines.head.split(" ", 3) match {
      case Array(proto, code, reason) if proto.startsWith("HTTP/") =>
        (code.toInt, reason)
      case Array(proto, code) if proto.startsWith("HTTP/") => (code.toInt, "")
      case _ => fail(s"malformed HTTP status line '${lines.head.take(60)}'")
    }
    val headers = lines.tail.toSeq.map { l =>
      val j = l.indexOf(':')
      if (j <= 0) fail(s"malformed HTTP header '${l.take(60)}'")
      (l.substring(0, j).trim, l.substring(j + 1).trim)
    }
    val body = java.util.Arrays.copyOfRange(payload, split + 4, payload.length)
    headers.find(_._1.equalsIgnoreCase("content-length")).map(_._2.toLong).foreach { n =>
      if (n != body.length) fail(s"HTTP Content-Length $n but body has ${body.length} bytes")
    }
    HttpResponse(status._1, status._2, headers, body)
  }

  /** RFC 9112 §7.1 chunked transfer decoding — WARC response records
    * store the HTTP message AS CAPTURED, chunked framing included, so
    * a crawl pipeline that skips dechunking feeds hex size lines and
    * CRLFs into its HTML parser. Chunk extensions (`;ext=v`) are
    * ignored per spec; trailers after the 0-chunk are ignored; all
    * malformed framing fails loudly (WARC: prefix).
    */
  def dechunk(body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(body.length)
    var i = 0
    def line(): String = {
      val start = i
      while (i + 1 < body.length && !(body(i) == '\r' && body(i + 1) == '\n')) i += 1
      if (i + 1 >= body.length) fail("chunked body: missing CRLF after size line")
      val s = new String(body, start, i - start, UTF_8)
      i += 2
      s
    }
    while (true) {
      val sizeStr = line().takeWhile(_ != ';').trim
      val size =
        try Integer.parseInt(sizeStr, 16)
        catch { case _: NumberFormatException =>
          fail(s"chunked body: bad chunk size '${sizeStr.take(20)}'") }
      if (size < 0) fail(s"chunked body: negative chunk size $size")
      if (size == 0) return out.toByteArray // trailers (if any) ignored
      if (i + size > body.length)
        fail(s"chunked body: truncated chunk (need $size bytes at $i of ${body.length})")
      out.write(body, i, size)
      i += size
      if (i + 1 >= body.length || body(i) != '\r' || body(i + 1) != '\n')
        fail("chunked body: missing CRLF after chunk data")
      i += 2
    }
    out.toByteArray // unreachable
  }

  /** Drain a decompressor with a hard output cap — compressed bodies
    * can balloon ~1000×, and a task must not inflate a zip bomb into
    * executor heap.
    */
  private def drain(in: InputStream, maxBytes: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(64 << 10)
    val buf = new Array[Byte](64 << 10)
    var n = in.read(buf)
    while (n >= 0) {
      if (out.size() + n > maxBytes)
        fail(s"decoded body exceeds the $maxBytes-byte guard")
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }

  /** Does `body` actually start with chunked framing — a hex size line
    * (optionally `;ext`) terminated by CRLF? Real-world WARC corpora
    * frequently KEEP the `Transfer-Encoding: chunked` header while
    * storing an already-dechunked body (capture proxies dechunk on the
    * wire), so the header alone must not trigger `dechunk`'s loud
    * failure on a perfectly good body.
    */
  def looksChunked(body: Array[Byte]): Boolean = {
    var i = 0
    // leading zeros are legal and unbounded (RFC 9112 permits them and
    // zero-padding servers exist) …
    while (i < body.length && body(i) == '0') i += 1
    val zeros = i
    // … then significant hex digits (at most 8 — a >4 GiB size is not
    // framing) …
    val sigStart = i
    while (i < body.length && i - sigStart < 8 &&
      Character.digit(body(i).toChar, 16) >= 0) i += 1
    if ((zeros == 0 && i == sigStart) || i >= body.length) return false
    // … then the ONLY valid continuations are CRLF or a `;extension`
    // running up to a CRLF. Neither scan is capped — a cap would turn
    // a long-but-valid size line (big CDN signature extensions, heavy
    // zero padding) into a silent raw passthrough of framed bytes,
    // and both scans are bounded by the first CRLF anyway.
    if (body(i) == '\r') return i + 1 < body.length && body(i + 1) == '\n'
    if (body(i) != ';') return false
    var j = i + 1
    while (j + 1 < body.length && !(body(j) == '\r' && body(j + 1) == '\n')) j += 1
    j + 1 < body.length && body(j) == '\r' && body(j + 1) == '\n'
  }

  /** The response's entity bytes exactly as the origin produced them:
    * `Transfer-Encoding: chunked` framing removed, then
    * `Content-Encoding` gzip/deflate decompressed (deflate tries zlib
    * first, then the raw stream some servers send). A chunked HEADER
    * over a body that carries no chunk framing (see [[looksChunked]])
    * passes the body through raw instead of failing — the common
    * already-dechunked-at-capture corpus shape. Malformed framing in a
    * body that IS framed, or a body inflating past `maxBytes`, still
    * fails loudly — per-record try/catch belongs to the caller, silent
    * truncation to nobody.
    */
  def bodyBytes(http: HttpResponse, maxBytes: Int = 64 << 20): Array[Byte] = {
    val dechunked =
      if (http.header("Transfer-Encoding").exists(_.toLowerCase.contains("chunked"))
        && looksChunked(http.body))
        dechunk(http.body)
      else http.body
    http.header("Content-Encoding").map(_.toLowerCase.trim) match {
      case Some(ce) if ce.contains("gzip") =>
        try drain(new GZIPInputStream(new ByteArrayInputStream(dechunked)), maxBytes)
        catch { case e: java.io.IOException => fail(s"gzip body: ${e.getMessage}") }
      case Some(ce) if ce.contains("deflate") =>
        try drain(new java.util.zip.InflaterInputStream(
          new ByteArrayInputStream(dechunked)), maxBytes)
        catch {
          case _: java.io.IOException => // raw deflate without zlib header
            try drain(new java.util.zip.InflaterInputStream(
              new ByteArrayInputStream(dechunked),
              new java.util.zip.Inflater(true)), maxBytes)
            catch { case e: java.io.IOException => fail(s"deflate body: ${e.getMessage}") }
        }
      case _ => dechunked
    }
  }

  /** Charset named by a Content-Type value ("text/html;
    * charset=ISO-8859-1"), if present and known to the JVM.
    */
  def charsetOf(contentType: String): Option[java.nio.charset.Charset] = {
    val lower = contentType.toLowerCase
    val at = lower.indexOf("charset=")
    if (at < 0) None
    else {
      var end = at + 8
      while (end < lower.length && lower.charAt(end) != ';' &&
        !Character.isWhitespace(lower.charAt(end))) end += 1
      val name = lower.substring(at + 8, end)
        .stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("'").stripSuffix("'") // charset='utf-8' appears in the wild
      try Some(java.nio.charset.Charset.forName(name))
      catch { case _: Exception => None }
    }
  }

  /** Find a `<meta charset=…>` / `<meta http-equiv … content="…;
    * charset=…">` declaration in the first `window` body bytes (the
    * WHATWG prescan, simplified): the bytes are read as ISO-8859-1 —
    * an ASCII superset, so the declaration's own characters are exact.
    * Only `charset=` occurrences INSIDE a `<meta …>` tag count — a
    * page whose early text or link hrefs merely mention `charset=`
    * must not select the decode charset.
    */
  def sniffMetaCharset(body: Array[Byte], window: Int = 1024): Option[java.nio.charset.Charset] = {
    val head = new String(body, 0, math.min(window, body.length),
      java.nio.charset.StandardCharsets.ISO_8859_1).toLowerCase
    var metaAt = head.indexOf("<meta")
    while (metaAt >= 0) {
      val tagEnd = head.indexOf('>', metaAt) match {
        case -1 => head.length
        case e => e
      }
      val at = head.indexOf("charset=", metaAt)
      if (at >= 0 && at < tagEnd) {
        var st = at + 8
        if (st < head.length && (head.charAt(st) == '"' || head.charAt(st) == '\'')) st += 1
        var end = st
        while (end < head.length && (head.charAt(end).isLetterOrDigit ||
          head.charAt(end) == '-' || head.charAt(end) == '_')) end += 1
        val name = head.substring(st, end)
        if (name.nonEmpty)
          try return Some(java.nio.charset.Charset.forName(name))
          catch { case _: Exception => () } // unknown name: keep scanning
      }
      metaAt = head.indexOf("<meta", metaAt + 5)
    }
    None
  }

  /** Decode an HTTP body to text the way a crawl pipeline must:
    * Content-Type header charset first, then — for (X)HTML/XML bodies
    * only — the in-document `<meta charset>` prescan, then UTF-8; with
    * unmappable/malformed bytes replaced by U+FFFD rather than thrown
    * (mojibake must be visible and bounded, never fatal: one bad page
    * cannot kill a 100 TB extract job, and silent misdecoding corrupts
    * training text).
    */
  def decodeBody(http: HttpResponse): String = {
    val ct = http.header("Content-Type")
    val markupBody = ct.forall { c =>
      val l = c.toLowerCase
      l.contains("html") || l.contains("xml")
    }
    val bytes = bodyBytes(http) // dechunk BEFORE any byte-level work
    val cs = ct.flatMap(charsetOf)
      .orElse(if (markupBody) sniffMetaCharset(bytes) else None)
      .getOrElse(java.nio.charset.StandardCharsets.UTF_8)
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
  }

  /** WET-style conversion record: extracted plain text standing in for
    * the crawl response it was derived from.
    */
  def toWet(source: WarcRecord, text: String): WarcRecord =
    WarcRecord(
      recordType = "conversion",
      targetUri = source.targetUri,
      date = source.date,
      recordId = recordIdFor("wet:" + source.recordId),
      contentType = "text/plain",
      extra = Map("WARC-Refers-To" -> source.recordId),
      payload = text.getBytes(UTF_8))

  /** RFC 8259 string quoting for the WAT envelope — delegates to the
    * shared escaper in [[JsonBinary]] so the two JSON writers in this
    * package cannot drift.
    */
  private def jsonStr(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    JsonBinary.appendJsonString(s, sb)
    sb.toString
  }

  /** Quote `s` straight into `sb` — the allocation-free form for the
    * per-record envelope hot path (no throwaway builder per string).
    */
  private def appendJson(sb: StringBuilder, s: String): Unit =
    JsonBinary.appendJsonString(s, sb.underlying)

  /** WAT-style metadata record: the third Common Crawl container
    * (WARC = raw captures, WET = extracted text, WAT = per-record JSON
    * metadata). The payload is a deterministic JSON envelope — fixed
    * key order, no whitespace, RFC 8259 escaping — carrying the source
    * record's header metadata, the HTTP response shape (status, header
    * list in capture order, entity length), and the HTML signals a
    * link-graph/indexing pipeline consumes (title, outlinks). Shaped
    * after Common Crawl's WAT envelope (Envelope → WARC-Header-Metadata
    * / Payload-Metadata → HTTP-Response-Metadata → HTML-Metadata), kept
    * to the fields this engine extracts.
    */
  def toWat(source: WarcRecord, http: HttpResponse, title: Option[String],
      links: Seq[String]): WarcRecord = {
    val sb = new StringBuilder(512)
    sb.append("{\"Envelope\":{\"WARC-Header-Metadata\":{")
    sb.append("\"WARC-Target-URI\":").append(jsonStr(source.targetUri))
    sb.append(",\"WARC-Type\":").append(jsonStr(source.recordType))
    sb.append("},\"Payload-Metadata\":{")
    sb.append("\"Actual-Content-Length\":").append(source.payload.length)
    sb.append(",\"HTTP-Response-Metadata\":{")
    sb.append("\"Entity-Length\":").append(http.body.length)
    sb.append(",\"Headers\":{")
    // JSON objects need UNIQUE keys (RFC 8259; duplicate names make
    // parsers keep an arbitrary one), but HTTP repeats field names —
    // so repeats of one field (names case-insensitive, keyed folded,
    // first-seen spelling kept) merge into one member. Most fields
    // comma-join (RFC 9110 §5.3 field-line combination); Set-Cookie is
    // the named exception there (its values contain commas — RFC 6265
    // forbids folding), so repeated Set-Cookie becomes a JSON ARRAY —
    // lossless, and unambiguous for cookie-analysis consumers.
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, (String, List[String])]
    http.headers.foreach { case (k, v) =>
      merged.updateWith(k.toLowerCase(java.util.Locale.ROOT)) {
        case Some((name, prev)) => Some((name, v :: prev))
        case None => Some((k, v :: Nil))
      }
    }
    var firstH = true
    merged.foreach { case (folded, (name, revVals)) =>
      if (!firstH) sb.append(','); firstH = false
      appendJson(sb, name); sb.append(':')
      val vals = revVals.reverse
      if (folded == "set-cookie" && vals.lengthCompare(1) > 0) {
        sb.append('[')
        vals.zipWithIndex.foreach { case (v, i) =>
          if (i > 0) sb.append(','); appendJson(sb, v)
        }
        sb.append(']')
      } else appendJson(sb, vals.mkString(","))
    }
    sb.append("},\"HTML-Metadata\":{\"Links\":[")
    links.zipWithIndex.foreach { case (u, i) =>
      if (i > 0) sb.append(',')
      sb.append("{\"url\":"); appendJson(sb, u); sb.append('}')
    }
    sb.append("]")
    title.foreach { t => sb.append(",\"Title\":"); appendJson(sb, t) }
    sb.append("},\"Response-Message\":{\"Status\":").append(http.status)
    sb.append("}}}}}")
    WarcRecord(
      recordType = "metadata",
      targetUri = source.targetUri,
      date = source.date,
      recordId = recordIdFor("wat:" + source.recordId),
      contentType = "application/json",
      extra = Map("WARC-Refers-To" -> source.recordId),
      payload = sb.toString.getBytes(UTF_8))
  }

  /** The WARC 1.0 revisit profile for payload-identical re-fetches. */
  val RevisitProfile = "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"

  /** WARC-Payload-Digest spelling: `sha1:` + unpadded RFC 4648 Base32
    * (what public crawl corpora carry). Columnar twin:
    * `graft_warc_digest` ([[graft.plans.WarcDigestUtil]]).
    */
  def payloadDigest(payload: Array[Byte]): String =
    graft.plans.WarcDigestUtil.digest(payload).toString

  /** Payload digest of an `application/http` record: per the WARC spec
    * the payload is the HTTP ENTITY BODY, so the digest covers only
    * the bytes after the header block — as stored, neither dechunked
    * nor content-decoded, which is exactly what wget/warcio emit and
    * Common Crawl archives carry. A record block with no header/body
    * separator digests whole (the consistent fallback for a mislabeled
    * payload). Columnar twin: `graft_warc_digest(payload, true)`.
    */
  def httpPayloadDigest(payload: Array[Byte]): String =
    graft.plans.WarcDigestUtil.httpPayloadDigest(payload).toString

  /** Payload-free `revisit` record replacing a response whose payload
    * digest matches a prior crawl's copy — the WARC convention that
    * keeps re-crawls from storing every unchanged page again. The
    * digest rides in WARC-Payload-Digest; WARC-Profile names the
    * identical-payload-digest semantics.
    */
  def toRevisit(source: WarcRecord, digest: String): WarcRecord =
    WarcRecord(
      recordType = "revisit",
      targetUri = source.targetUri,
      date = source.date,
      recordId = source.recordId,
      contentType = "application/http; msgtype=response",
      extra = source.extra ++ Map(
        "WARC-Payload-Digest" -> digest,
        "WARC-Profile" -> RevisitProfile),
      payload = Array.emptyByteArray)

  // ---------------------------------------------------------------- Spark

  /** Distributed `.warc.gz` writer: one archive file per partition,
    * gzip member per record (the layout crawl tooling expects —
    * readers stream members without decompressing whole files). The
    * inverse of [[readWarc]]; records are written as the partition
    * iterator serves them, so task residency is ONE record here too.
    *
    * `rows` must carry the record columns `(rec_type, target_uri,
    * warc_date, record_id, content_type, payload)` — the readWarc
    * layout minus file/rec_ix — in any order, plus optionally an
    * `extra` map column of additional WARC headers (the
    * [[markRevisits]] output shape: WARC-Payload-Digest,
    * WARC-Profile). `dir` is any Hadoop-`FileSystem` location —
    * HDFS, S3A, or a local path — resolved through the session's
    * Hadoop configuration on the driver and each executor, the same
    * way [[graft.operators.CrawlFrontier.compactIndex]] reaches its
    * index: a crawl sink that could only commit to the driver's local
    * disk would be undeployable on a real cluster.
    *
    * Attempt safety (the Hadoop output-committer discipline, scoped to
    * this sink): each task attempt writes to its OWN temp name
    * (`part-NNNNN-attemptK.tmp`) and renames into the final
    * `part-NNNNN.warc.gz` — so a speculative attempt or a zombie task
    * racing its retry can never interleave bytes into a live archive;
    * whichever attempt renames last leaves one complete file (on a
    * filesystem with atomic rename — HDFS, POSIX. S3A renames are
    * copy+delete, so there run without speculation or front a real
    * committer). Stale part files from a previous call with more
    * partitions are moved ASIDE (renamed `*.stale`) on the driver
    * before the job — this sink owns the `part-*.warc.gz` namespace
    * under `dir` — and deleted only AFTER the job commits, so a failed
    * job leaves the previous archive recoverable (strip the `.stale`
    * suffix) instead of destroyed, and `.stale` files never match a
    * `*.warc.gz` reader glob meanwhile. Returns the committed archive
    * paths, sorted — reported by the winning tasks themselves, never
    * reconstructed by listing the directory.
    */
  def writeWarc(rows: DataFrame, dir: String): Seq[String] =
    writeArchive(rows, dir, withCdx = false).filter(_.endsWith(".warc.gz"))

  /** [[writeWarc]] plus the CDX sidecar: each `part-N.warc.gz` commits
    * together with a `part-N.cdx.gz` of CDXJ lines
    * (`<surt-key> <ts14> {json}` — pywb's index interchange format)
    * carrying the byte `offset`/`length` of every record's gzip member,
    * so a reader can fetch ONE capture with a single ranged read +
    * gunzip instead of scanning the archive ([[readCdxj]] parses them
    * back; `CdxIndex.buildTable` turns them into the sorted,
    * range-pruned master index). Returns (warc paths, cdx paths).
    * Offsets are exact because the `.warc.gz` layout is one gzip
    * member per record — the member boundary IS the record boundary.
    *
    * `filenamePrefix` is prepended to the `filename` each CDX row
    * carries — the Common Crawl convention of a COLLECTION-RELATIVE
    * path (`crawl-2026-01/epoch-3/`). A master index over many archive
    * dirs (per-epoch, per-crawl) needs it: every dir names its parts
    * `part-NNNNN.warc.gz`, so bare basenames collide across dirs and
    * [[fetchByCdx]] could not resolve rows from a merged index. Pass
    * the dir's path relative to the fetch root; "" keeps plain
    * basenames for single-dir archives.
    */
  def writeWarcWithCdx(rows: DataFrame, dir: String,
      filenamePrefix: String = ""): (Seq[String], Seq[String]) = {
    val all = writeArchive(rows, dir, withCdx = true, filenamePrefix)
    (all.filter(_.endsWith(".warc.gz")), all.filter(_.endsWith(".cdx.gz")))
  }

  private def writeArchive(rows: DataFrame, dir: String, withCdx: Boolean,
      filenamePrefix: String = ""): Seq[String] = {
    val spark = rows.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = warcFs(dirPath, hconf)
    try {
    fs.mkdirs(dirPath)
    // the manifest gates COMMITTED readers ([[readWarcCommitted]] /
    // [[readCdxjCommitted]] / manifest-aware [[fetchByCdx]]): it is
    // deleted FIRST and re-written LAST, so on a filesystem whose
    // rename is not atomic (S3A copy+delete) a crashed or in-flight
    // job leaves a dir with parts but NO manifest — gated readers
    // fail loudly instead of consuming a half-committed directory
    fs.delete(new org.apache.hadoop.fs.Path(dirPath, ManifestName), false)
    val parked = { // park stale parts; drop only orphaned temps
      val aside = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
      fs.listStatus(dirPath).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("part-")) {
          if (n.endsWith(".tmp")) { fs.delete(st.getPath, false); () }
          else if (n.endsWith(".warc.gz") || n.endsWith(".cdx.gz")) {
            val s = new org.apache.hadoop.fs.Path(dirPath, n + ".stale")
            fs.delete(s, false)
            require(fs.rename(st.getPath, s),
              s"writeWarc: could not park stale part ${st.getPath}")
            aside += s
          }
        }
      }
      aside.toSeq
    }
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, typedLit}
    val withExtra =
      if (rows.columns.contains("extra")) rows
      else rows.withColumn("extra", typedLit(Map.empty[String, String]))
    val cols = withExtra.select(col("rec_type"), col("target_uri"), col("warc_date"),
      col("record_id"), col("content_type"), col("payload"), col("extra"))
      .as[(String, String, String, String, String, Array[Byte], Map[String, String])]
    // executors resolve the SAME filesystem from the session's Hadoop
    // conf (kerberos, s3a credentials, …) — broadcast once, not per
    // row; Configuration itself is a Writable, not Serializable, so it
    // rides the public SerializableWritable wrapper
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.SerializableWritable(hconf))
    val committed = cols.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val tc = org.apache.spark.TaskContext.get()
        val pid = tc.partitionId()
        val recs = it.map { case (t, uri, date, rid, ct, payload, extra) =>
          WarcRecord(t, uri, date, rid, ct, extra, payload)
        }
        commitPartitionFiles(dir, pid, tc.taskAttemptId(), recs,
          bcConf.value.value, withCdx, filenamePrefix).iterator
      }
    }.collect().toSeq.distinct.sorted
    // every part committed → publish the manifest, THEN drop the
    // parked previous archive (a crash between the two leaves a
    // valid manifest plus recoverable .stale files, never less)
    writeManifest(fs, dirPath, committed)
    parked.foreach(f => fs.delete(f, false))
    committed
    } finally fs.close() // private instance (see warcFs) — release it
  }

  /** The archive dir's commit marker. A `_`-prefixed name: Spark's
    * file listings skip it and no `part-*` reader glob matches it.
    */
  private[graft] val ManifestName = "_manifest"

  /** Publish the commit manifest: one `name\tsize` line per committed
    * file, written to a temp and renamed into place. On S3A the
    * final object is one small PUT, so readers observe it atomically
    * even though the part renames above are copy+delete — this is the
    * marker that closes the non-atomic-rename window the part files
    * themselves cannot close.
    */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path, committed: Seq[String]): Unit = {
    val lines = committed.map { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      s"${path.getName}\t${fs.getFileStatus(path).getLen}"
    }
    val tmp = new org.apache.hadoop.fs.Path(dirPath, ManifestName + ".tmp")
    val fin = new org.apache.hadoop.fs.Path(dirPath, ManifestName)
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes(UTF_8))
    finally out.close()
    require(fs.rename(tmp, fin), s"writeWarc: could not publish manifest $fin")
  }

  /** The dir's committed (name → size) map, if a manifest is present.
    * None means the dir was written by a pre-manifest writer or an
    * external tool — readers that can proceed un-gated do; gated
    * readers fail loudly.
    */
  private[graft] def readManifestMap(spark: SparkSession,
      dir: String): Option[Map[String, Long]] = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    readManifestMapFs(dirPath.getFileSystem(spark.sessionState.newHadoopConf()), dirPath)
  }

  /** [[readManifestMap]] over an already-resolved FileSystem — the
    * task-side spelling ([[fetchByCdx]] resolves manifests per
    * subdirectory inside executors).
    */
  private def readManifestMapFs(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path): Option[Map[String, Long]] = {
    val m = new org.apache.hadoop.fs.Path(dirPath, ManifestName)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      val bytes =
        try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
      Some(new String(bytes, UTF_8).split("\n").filter(_.nonEmpty).map { line =>
        val cut = line.lastIndexOf('\t')
        require(cut > 0, s"writeWarc: malformed manifest line '$line' in $m")
        line.substring(0, cut) -> line.substring(cut + 1).toLong
      }.toMap)
    }
  }

  /** The manifest-resolved committed files of `dir` with the given
    * suffix, each verified present at its recorded size (a size skew
    * means a foreign attempt's file or post-commit tampering — loud).
    * LOUD when no manifest exists: a gated reader must never consume
    * a half-committed directory; read pre-manifest/external dirs with
    * the glob-based [[readWarc]]/[[readCdxj]] instead.
    */
  def committedFiles(spark: SparkSession, dir: String, suffix: String): Seq[String] = {
    val entries = readManifestMap(spark, dir).getOrElse(throw new IllegalStateException(
      s"WarcIo: $dir has no $ManifestName — the archive job did not complete its " +
        "commit (or predates manifests); refusing the gated read. Use the " +
        "glob-based readers to consume un-gated."))
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    entries.toSeq.filter(_._1.endsWith(suffix)).sortBy(_._1).map { case (name, size) =>
      val p = new org.apache.hadoop.fs.Path(dirPath, name)
      val st = fs.getFileStatus(p) // throws FileNotFound loudly — correct
      require(st.getLen == size,
        s"WarcIo: committed file $p is ${st.getLen} bytes, manifest says $size — " +
          "the directory was modified after commit")
      fs.makeQualified(p).toString
    }
  }

  /** [[readWarc]] gated on the commit manifest: reads EXACTLY the
    * files the completed job published, failing loudly on a dir whose
    * job never finished (no manifest) or whose files drifted from
    * their recorded sizes. This is the reader for object-store
    * deployments where rename-based part commits are not atomic.
    */
  def readWarcCommitted(spark: SparkSession, dir: String,
      maxPayloadBytes: Int = 64 << 20): DataFrame = {
    val files = committedFiles(spark, dir, ".warc.gz")
    // a crawl whose every partition was empty publishes a valid empty
    // manifest — that reads as ZERO records, not as an empty-path crash
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        readWarc(spark, dir + "/*.warc.gz", maxPayloadBytes).schema)
    else readWarc(spark, files.mkString(","), maxPayloadBytes)
  }

  /** [[readCdxj]] gated on the commit manifest — see [[readWarcCommitted]]. */
  def readCdxjCommitted(spark: SparkSession, dir: String): DataFrame =
    readCdxj(spark, committedFiles(spark, dir, ".cdx.gz"))

  /** ONE-CALL archival epoch sink for `writeStream.foreachBatch`: each
    * micro-batch's records commit as this epoch's WARC+CDXJ collection
    * SUBDIRECTORY (`<collectionRoot>/epoch-N/`, collection-relative
    * filenames so one master index — and [[fetchByCdx]] from the
    * collection root — spans every epoch), then the COMMITTED sidecar
    * rows append to the primary (and optionally the digest-reverse)
    * LSM master exactly-once via [[CdxIndex.appendEpoch]]'s
    * manifest-tag ledger. Crash-replay safety is end to end: the epoch
    * dir rewrites byte-identically (deterministic micro-batch, the
    * foreachBatch contract), the sidecar rows re-read from the fresh
    * commit, and an append the crashed run already published no-ops on
    * its tag — the masters hold each capture exactly once.
    * `records` must carry the [[writeWarc]] schema (rec_type,
    * target_uri, warc_date, record_id, content_type, payload
    * [, extra]). The first epoch CREATES the masters.
    *
    * `maxGens` makes the sink SELF-MAINTAINING: after each epoch's
    * appends, the size-tiered [[CdxIndex.compact]] folds the smallest
    * generations whenever the count exceeds the bound (a free no-op
    * otherwise — most epochs), and [[CdxIndex.vacuum]] (keep = 2, so
    * manifest-pinned readers survive) reclaims unreferenced ones —
    * generation count, lookup fan-out AND disk stay bounded over an
    * unbounded stream with no out-of-band maintenance job. Replays
    * stay safe: folded epoch tags ride the compaction, so the
    * exactly-once ledger survives the folds.
    *
    * `tagHorizon` bounds the ONE remaining per-epoch linear term, the
    * manifest's tag ledger itself ([[CdxIndex.pruneEpochTags]] — every
    * manifest rewrite and hasEpoch scan otherwise grows O(total
    * epochs)). foreachBatch replays only the most recent uncommitted
    * epoch, so any horizon ≥ 2 is generous; None (the default) keeps
    * the full ledger for delivery mechanisms with deeper replays.
    *
    * Each APPLIED epoch also appends one bounded METRICS row under
    * `<masterDir>/_metrics` ([[CdxIndex.epochMetrics]]): epoch tag,
    * rows appended, generation counts before/after maintenance, the
    * epoch dir's archive bytes, and wall time — the archival loop's
    * lag/health surface (the A3-lag analog). Replays that no-op on the
    * tag ledger add no row (never a duplicate); a crash in the window
    * between the master append and the metrics write loses that one
    * epoch's row on replay — metrics are telemetry, the manifest tags
    * remain the ledger of record.
    */
  def archiveEpochSink(collectionRoot: String, masterDir: String, nShards: Int,
      digestDir: Option[String] = None,
      maxGens: Option[Int] = None,
      tagHorizon: Option[Int] = None): (DataFrame, Long) => Unit =
    (records: DataFrame, epochId: Long) => graft.operators.Partitioning.pinned { pins =>
      val t0 = System.nanoTime()
      val sub = s"epoch-$epochId"
      val spark = records.sparkSession
      // replay guard: once the PRIMARY master records this epoch's tag,
      // the epoch dir is treated as IMMUTABLE — a re-write could land
      // the replayed records in different part files (partitioning is
      // not part of the foreachBatch replay contract) and strand the
      // already-published pointers at deleted names/shifted offsets.
      // The committed sidecars re-read as-is and the appends below
      // complete whatever a crash left undone (e.g. the digest append).
      if (!CdxIndex.hasEpoch(spark, masterDir, sub))
        writeWarcWithCdx(records, s"$collectionRoot/$sub", s"$sub/")
      // materialized once: the same parsed rows feed both masters (the
      // lookupBatch discipline — re-parsing the gzip/JSON sidecars per
      // append would double the hot path's ingest work); released with
      // the epoch, not left to a JVM GC
      val cdx = pins.checkpoint(readCdxjCommitted(spark, s"$collectionRoot/$sub"))
      val appended = CdxIndex.appendEpoch(cdx, masterDir, nShards, sub)
      digestDir.foreach(d =>
        CdxIndex.appendEpoch(cdx, d, nShards, sub, CdxIndex.DigestKey))
      val gensBefore = CdxIndex.liveGenerations(spark, masterDir).size
      maxGens.foreach { m =>
        (Seq(masterDir) ++ digestDir).foreach { d =>
          CdxIndex.compact(spark, d, nShards, m)
          CdxIndex.vacuum(spark, d)
        }
      }
      tagHorizon.foreach { h =>
        (Seq(masterDir) ++ digestDir).foreach(CdxIndex.pruneEpochTags(spark, _, h))
      }
      if (appended) {
        // one bounded row per applied epoch; a replay that no-op'd on
        // the ledger records nothing (the epoch's row already exists)
        val gensAfter = CdxIndex.liveGenerations(spark, masterDir).size
        val epochPath = new org.apache.hadoop.fs.Path(s"$collectionRoot/$sub")
        val bytes = epochPath.getFileSystem(spark.sessionState.newHadoopConf())
          .getContentSummary(epochPath).getLength
        val foldedGens = if (gensAfter < gensBefore) gensBefore - gensAfter + 1 else 0
        import spark.implicits._
        Seq((sub, cdx.count(), gensBefore, gensAfter, foldedGens, bytes,
            (System.nanoTime() - t0) / 1000000L))
          .toDF("epoch", "rows", "gens_before", "gens_after", "gens_folded",
            "archive_bytes", "wall_ms")
          .coalesce(1)
          .write.mode("append").parquet(s"$masterDir/_metrics")
        // each append lands one tiny part file; fold them periodically
        // so the metrics table's FILE COUNT stays bounded over an
        // unbounded stream (a free no-op below the threshold)
        CdxIndex.compactEpochMetrics(spark, masterDir)
      }
      ()
    }

  /** Consolidate an archive dir's small parts into ~`targetBytes`
    * parts — the small-file maintenance pass a streaming crawl needs
    * (each epoch commits a part per partition; a year of micro-batches
    * is millions of tiny files whose per-file open/list overhead
    * eventually dominates every scan).
    *
    * Scale design — BYTE concatenation, not re-encoding: the
    * `.warc.gz` layout is one INDEPENDENT gzip member per record, so
    * concatenating whole part files yields a valid archive with every
    * record's bytes unchanged, and each record's new offset is its old
    * offset plus the byte length of the parts copied before its part.
    * Compaction is therefore pure sequential IO (one read + one write
    * of the archive bytes, distributed one task per output part) with
    * ZERO gzip work, and the sidecars are rewritten arithmetically —
    * each CDXJ line's `offset` field is shifted by its part's base —
    * never re-derived from payloads. Groups are planned driver-side by
    * first-fit over the part sizes (bounded: one (name, size) pair per
    * part).
    *
    * Commit discipline mirrors [[writeWarc]]: sources are parked
    * (`.stale`) under the job, outputs commit by rename into the fresh
    * `part-*` namespace, the manifest is deleted first and re-written
    * last (gated readers refuse the dir mid-compaction rather than mix
    * generations), and the parked sources are deleted only after the
    * manifest publishes. A crash leaves either the old manifest-less
    * dir recoverable from `.stale` files, never a mix.
    *
    * Offsets in OTHER indexes (a CdxIndex built from the old sidecars)
    * are invalidated by design — rebuild from the new sidecars
    * ([[graft.sources.CdxIndex.refreshFromArchive]] does it in the
    * same maintenance pass), the same contract every physical-layout
    * compactor has. Sidecar lines must carry the engine's
    * `"offset":"N"` spelling ([[cdxjLine]] or [[readCdxClassic]]-shaped
    * ingest both do); a line without it fails the job loudly rather
    * than committing a silently stale pointer. A collection-relative
    * filename prefix (`crawl1/part-N.warc.gz`, the merged-master
    * layout) is DERIVED per line from the existing filename field —
    * never caller-supplied, so compacting a prefixed collection cannot
    * silently strip the prefix and repoint a merged index at the wrong
    * directory.
    *
    * Destructive mutator discipline: the whole pass runs under the
    * same exclusive `_writer.lock` lease every other MAINTENANCE
    * mutator holds (CdxIndex.initMaster/appendCrawl/compact/vacuum,
    * the frontier) — two concurrent compactions fail loudly instead
    * of interleaving beyond the documented crash-recovery cases.
    * [[writeWarc]] itself stays lease-free by design (its commit
    * protocol is last-complete-attempt-wins with temp sweeping, which
    * a lock would break), so "no writeWarc during compaction" remains
    * a scheduling responsibility: gated readers DO refuse the
    * manifest-less window either job leaves, but interleaving the two
    * writers can lose parts — run compaction when the dir's crawl is
    * quiesced, like every physical-layout compactor.
    */
  def compactArchives(spark: SparkSession, dir: String,
      targetBytes: Long): (Seq[String], Seq[String]) = {
    require(targetBytes > 0, "targetBytes must be positive")
    graft.operators.CrawlFrontier.withWriterLock(spark, dir) {
    val hconf = spark.sessionState.newHadoopConf()
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = warcFs(dirPath, hconf)
    try {
      // a previous maintenance run that crashed mid-commit leaves
      // parked sources (.stale) and possibly no manifest — compacting
      // the partial output subset and publishing a FRESH manifest over
      // it would launder the half-committed state every gated reader
      // refuses into a "committed" dir missing the parked records.
      // Refuse loudly; recovery is explicit (strip .stale, or delete
      // the partial outputs and strip .stale).
      val listing = fs.listStatus(dirPath).map(st => st.getPath.getName -> st.getLen)
      require(!listing.exists(_._1.endsWith(".stale")),
        s"compactArchives: $dir holds parked .stale sources from an incomplete " +
          "maintenance run — recover them (strip the .stale suffix after removing " +
          "partial outputs) before compacting")
      // plan: committed (name, size) pairs — manifest names when
      // present, listing otherwise; sizes ALWAYS from the live files
      // (base offsets must match the bytes actually copied), verified
      // against the manifest's record like committedFiles does
      val onDisk = listing.toMap
      val parts = readManifestMap(spark, dir) match {
        case Some(m) => m.toSeq.map { case (name, recorded) =>
          val actual = onDisk.getOrElse(name, throw new IllegalStateException(
            s"compactArchives: committed file $name missing from $dir"))
          require(actual == recorded,
            s"compactArchives: $name is $actual bytes, manifest says $recorded — " +
              "the directory was modified after commit")
          name -> actual
        }
        case None => listing
          .filter(p => p._1.startsWith("part-") &&
            (p._1.endsWith(".warc.gz") || p._1.endsWith(".cdx.gz"))).toSeq
      }
      val warcs = parts.filter(_._1.endsWith(".warc.gz")).sortBy(_._1)
      val cdxNames = parts.collect { case (n, _) if n.endsWith(".cdx.gz") => n }.toSet
      require(warcs.forall(w => cdxNames.contains(w._1.stripSuffix(".warc.gz") + ".cdx.gz")),
        s"compactArchives: $dir has archive parts without sidecars — compact only " +
          "writeWarcWithCdx output (pointers must be rewritable)")
      // first-fit groups of whole parts; a part already ≥ target rides alone.
      // Each group = one output part: (sources in order, each with its base)
      val groups = scala.collection.mutable.ArrayBuffer.empty[Vector[(String, Long)]]
      var cur = Vector.empty[(String, Long)]
      var curBytes = 0L
      warcs.foreach { case (name, size) =>
        if (cur.nonEmpty && curBytes + size > targetBytes) {
          groups += cur; cur = Vector.empty; curBytes = 0L
        }
        cur :+= (name -> curBytes) // base offset of this source in the output
        curBytes += size
      }
      if (cur.nonEmpty) groups += cur
      if (warcs.isEmpty) (Seq.empty, Seq.empty)
      // already compact (every group is one source): a rewrite would
      // read+write the whole archive for zero consolidation — periodic
      // maintenance on a settled dir must be free
      else if (groups.forall(_.size == 1)) {
        val keepW = warcs.map(w =>
          fs.makeQualified(new org.apache.hadoop.fs.Path(dirPath, w._1)).toString)
        val keepC = warcs.map(w => fs.makeQualified(new org.apache.hadoop.fs.Path(
          dirPath, w._1.stripSuffix(".warc.gz") + ".cdx.gz")).toString)
        (keepW, keepC)
      } else {
      // gate readers for the rewrite window (the writeWarc discipline),
      // and sweep attempt-temp residue a crashed task may have left —
      // orphan multi-hundred-MB temps must not accumulate across
      // maintenance cycles
      fs.delete(new org.apache.hadoop.fs.Path(dirPath, ManifestName), false)
      listing.map(_._1).filter(n => n.startsWith("part-") && n.endsWith(".tmp"))
        .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(dirPath, n), false))
      // park every source pair; tasks read the parked names
      val parked = (warcs.map(_._1) ++ warcs.map(_._1.stripSuffix(".warc.gz") + ".cdx.gz"))
        .map { n =>
          val from = new org.apache.hadoop.fs.Path(dirPath, n)
          val to = new org.apache.hadoop.fs.Path(dirPath, n + ".stale")
          fs.delete(to, false)
          require(fs.rename(from, to), s"compactArchives: could not park $from")
          to
        }
      val bcConf = spark.sparkContext.broadcast(
        new org.apache.spark.SerializableWritable(hconf))
      val plan = groups.toSeq.zipWithIndex
      val committed = spark.sparkContext
        .parallelize(plan, plan.size)
        .map { case (sources, gix) =>
          val conf = bcConf.value.value
          val dp = new org.apache.hadoop.fs.Path(dir)
          val gfs = warcFs(dp, conf) // same private checksum-off handle as the writer
          try {
            val tc = org.apache.spark.TaskContext.get()
            val warcName = f"part-$gix%05d.warc.gz"
            val tag = if (tc == null) 0L else tc.taskAttemptId()
            val wtmp = new org.apache.hadoop.fs.Path(dp, f"part-$gix%05d-attempt$tag.tmp")
            val ctmp = new org.apache.hadoop.fs.Path(dp, f"part-$gix%05d-attempt$tag.cdx.tmp")
            val wout = new java.io.BufferedOutputStream(gfs.create(wtmp, true), 1 << 20)
            val cout = new GZIPOutputStream(
              new java.io.BufferedOutputStream(gfs.create(ctmp, true), 1 << 18))
            try {
              val buf = new Array[Byte](1 << 20)
              sources.foreach { case (srcName, base) =>
                // archive bytes: straight copy (members are independent)
                val in = gfs.open(new org.apache.hadoop.fs.Path(dp, srcName + ".stale"))
                try {
                  var n = in.read(buf)
                  while (n >= 0) { if (n > 0) wout.write(buf, 0, n); n = in.read(buf) }
                } finally in.close()
                // sidecar lines: shift each offset by this source's base
                val cin = new java.io.BufferedReader(new java.io.InputStreamReader(
                  new GZIPInputStream(gfs.open(new org.apache.hadoop.fs.Path(dp,
                    srcName.stripSuffix(".warc.gz") + ".cdx.gz.stale"))), UTF_8))
                try {
                  var line = cin.readLine()
                  while (line != null) {
                    if (line.nonEmpty)
                      cout.write((shiftCdxjLine(line, base, warcName) + "\n")
                        .getBytes(UTF_8))
                    line = cin.readLine()
                  }
                } finally cin.close()
              }
            } finally {
              try wout.close()
              finally cout.close()
            }
            val wfin = new org.apache.hadoop.fs.Path(dp, warcName)
            val cfin = new org.apache.hadoop.fs.Path(dp, f"part-$gix%05d.cdx.gz")
            commitOne(gfs, wtmp, wfin)
            commitOne(gfs, ctmp, cfin)
            Seq(gfs.makeQualified(wfin).toString, gfs.makeQualified(cfin).toString)
          } finally gfs.close()
        }
        .collect().toSeq.flatten.distinct.sorted
      writeManifest(fs, dirPath, committed)
      parked.foreach(fs.delete(_, false))
      (committed.filter(_.endsWith(".warc.gz")), committed.filter(_.endsWith(".cdx.gz")))
      }
    } finally fs.close()
    }
  }

  /** Rewrite one CDXJ line for a compaction move: `offset` shifts by
    * `base`, `filename` becomes the new part BASENAME under the
    * source's own collection-relative prefix — the prefix (everything
    * through the old value's last `/`, preserved in its original JSON
    * escaping) is derived from the line itself, never caller-supplied,
    * so a prefixed collection (`crawl1/part-N.warc.gz`) keeps resolving
    * against the right directory after compaction. Loud when the line
    * does not carry the engine's `"offset":"N"` / `"filename":"…"`
    * fields — committing a pointer we could not rewrite would serve
    * wrong bytes forever.
    */
  private[graft] def shiftCdxjLine(line: String, base: Long, newBasename: String): String = {
    // rewrite ONLY inside the JSON block: a SURT key can legally carry
    // double quotes (surtKey percent-encodes only control bytes), so a
    // crafted URL could place a fake "offset":"0" in the KEY — matching
    // the whole line would rewrite the key and leave the real pointer
    // stale. The block starts at the first '{' (keys cannot contain
    // '{' before the json: cdxjLine rejects non-single-token keys, and
    // a '{' in a key would still put the REAL fields later — matching
    // the LAST occurrence of each field keeps even that case honest).
    val blockAt = line.indexOf('{')
    require(blockAt >= 0,
      s"compactArchives: sidecar line carries no JSON block: ${line.take(120)}")
    val (head, block) = (line.substring(0, blockAt), line.substring(blockAt))
    val offRe = "\"offset\":\"(\\d+)\"".r
    val fileRe = "\"filename\":\"((?:[^\"\\\\]|\\\\.)*)\"".r
    val shifted = offRe.findAllMatchIn(block).toSeq.lastOption match {
      case Some(m) =>
        block.substring(0, m.start) + s""""offset":"${m.group(1).toLong + base}"""" +
          block.substring(m.end)
      case None => throw new IllegalArgumentException(
        s"compactArchives: sidecar line carries no rewritable offset: ${line.take(120)}")
    }
    val renamed = fileRe.findAllMatchIn(shifted).toSeq.lastOption match {
      case Some(m) =>
        // the old value's escaped text up to and including its last
        // '/' passes through VERBATIM (already-valid JSON escapes, and
        // an escaped "\/" still ends in '/'); the basename is the
        // engine's part-NNNNN spelling, escape-free by construction
        val oldEscaped = m.group(1)
        val prefix = oldEscaped.substring(0, oldEscaped.lastIndexOf('/') + 1)
        shifted.substring(0, m.start) + s""""filename":"$prefix$newBasename"""" +
          shifted.substring(m.end)
      case None => throw new IllegalArgumentException(
        s"compactArchives: sidecar line carries no rewritable filename: ${line.take(120)}")
    }
    head + renamed
  }

  /** A PRIVATE (non-cached) `FileSystem` handle for the archive sink,
    * with checksum-sidecar writing off: local-FS runs must not scatter
    * `.crc` files through a dir readers glob, and flipping the flag on
    * the JVM-wide CACHED instance would silently disable checksums for
    * every other Hadoop-FS user in the process — so the sink gets its
    * own instance (callers close it). HDFS/S3A ignore the flag (no
    * client sidecars).
    */
  private def warcFs(p: org.apache.hadoop.fs.Path,
      hconf: org.apache.hadoop.conf.Configuration): org.apache.hadoop.fs.FileSystem = {
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(p.toUri, hconf)
    fs.setWriteChecksum(false)
    fs
  }

  /** Re-crawl dedup on WARC-Payload-Digest: response rows whose digest
    * is in `priorDigests` (one `digest` column, the `sha1:BASE32`
    * spelling — typically [[payloadDigests]] over the previous
    * crawl's archives) become payload-free `revisit` rows; everything
    * else passes through. Every output row carries its digest in the
    * `extra` header map, so [[writeWarc]] emits WARC-Payload-Digest on
    * responses and revisits alike (revisits add WARC-Profile).
    *
    * Digest semantics (WARC spec): for `response` records the payload
    * is the HTTP ENTITY BODY, so the digest covers only the bytes
    * after the header block ([[httpPayloadDigest]]) — the spelling
    * real archives (Common Crawl, wget, warcio) carry, so marking
    * works against a prior crawl SOMEONE ELSE wrote, not just this
    * repo's own output. Non-HTTP record types digest their whole
    * block (documented fallback; they never convert anyway).
    *
    * Scale shape: the digest is the codegen'd `graft_warc_digest`
    * expression, and the membership check is ONE shuffle-hash left
    * join on the 37-char digest key — the prior-crawl set is
    * crawl-sized, so it must never broadcast or land on the driver.
    */
  def markRevisits(rows: DataFrame, priorDigests: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val prior = priorDigests.select(col("digest").as("__d")).distinct()
      .withColumn("__seen", lit(true))
    // caller-supplied extra headers MERGE with the digest headers (the
    // toRevisit convention) — clobbering them would silently strip
    // WARC-IP-Address-style metadata from the written archives; and
    // only RESPONSE records convert — warcinfo/metadata/conversion
    // rows with a coincidentally-matching payload must pass through
    val baseExtra = {
      val raw =
        if (rows.columns.contains("extra"))
          coalesce(col("extra"), map().cast("map<string,string>"))
        else map().cast("map<string,string>")
      // ours win: duplicate keys make map_concat throw under the
      // default dedup policy
      map_filter(raw, (k, _) =>
        k =!= "WARC-Payload-Digest" && k =!= "WARC-Profile")
    }
    rows.withColumn("__d",
      when(col("rec_type") === "response",
        call_function("graft_warc_digest", col("payload"), lit(true)))
        .otherwise(call_function("graft_warc_digest", col("payload"))))
      .join(prior.hint("shuffle_hash"), Seq("__d"), "left")
      .withColumn("__rev",
        coalesce(col("__seen"), lit(false)) && col("rec_type") === "response")
      .withColumn("extra",
        when(col("__rev"), map_concat(baseExtra, map(
          lit("WARC-Payload-Digest"), col("__d"),
          lit("WARC-Profile"), lit(RevisitProfile))))
          .otherwise(map_concat(baseExtra, map(lit("WARC-Payload-Digest"), col("__d")))))
      .withColumn("rec_type", when(col("__rev"), lit("revisit")).otherwise(col("rec_type")))
      .withColumn("payload",
        when(col("__rev"), lit(Array.emptyByteArray)).otherwise(col("payload")))
      .drop("__d", "__seen", "__rev")
  }

  /** The digest set of a crawl — feed yesterday's archives in, get the
    * `digest` column [[markRevisits]] consumes. Revisit records
    * contribute the digest they already carry (their payload is
    * empty); responses digest their HTTP entity body — the same
    * body-only spelling carried digests use in real corpora, so
    * carried and computed digests COMPARE like for like (a block
    * digest coalesced against body-only carried digests would match
    * nothing); other record types digest their whole block.
    */
  def payloadDigests(warcRows: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val carried =
      if (warcRows.columns.contains("payload_digest")) col("payload_digest")
      else lit(null).cast("string")
    warcRows.select(
      coalesce(carried,
        when(col("rec_type") === "response",
          call_function("graft_warc_digest", col("payload"), lit(true)))
          .otherwise(call_function("graft_warc_digest", col("payload")))).as("digest"))
      .distinct()
  }

  /** One task attempt's write+commit: stream `recs` into
    * `part-$pid-attempt$tag.tmp`, then rename over the final
    * `part-$pid.warc.gz` (last complete attempt wins). Runs entirely
    * through the Hadoop `FileSystem` API so the sink commits to
    * HDFS/S3A exactly like local disk. Hadoop's `rename` refuses an
    * existing destination on most filesystems, so the replace case
    * (only reachable when a racing attempt already committed this
    * partition — both attempts hold complete, equivalent files)
    * deletes-then-renames; the window between the two is the
    * documented non-atomicity of that rare race, not of the normal
    * commit. Returns the committed path. Factored out of [[writeWarc]]
    * so the two-attempts-one-partition race is testable without a
    * Spark speculation harness.
    */
  private[graft] def commitPartitionFile(dir: String, pid: Int, attemptTag: Long,
      recs: Iterator[WarcRecord],
      hconf: org.apache.hadoop.conf.Configuration): String =
    commitPartitionFiles(dir, pid, attemptTag, recs, hconf, withCdx = false).head

  /** One CDXJ index line for a record at (`offset`, `length`) of
    * `filename`: `<surt-key> <ts14> {json}` — the searchable-key /
    * timestamp / JSON-block layout pywb and OutbackCDX interchange.
    * JSON fields follow the CDX(J) convention: `url`, `mime` (HTTP
    * Content-Type media type for responses, record Content-Type
    * otherwise), `status` (responses only), `digest` (the same
    * body-only-for-HTTP spelling [[payloadDigests]] uses, so a CDX row
    * and a revisit check agree), and the ranged-read triple
    * `length`/`offset`/`filename` — numbers as JSON strings, the
    * CDXJ-on-the-wire convention. Records with no target URI
    * (warcinfo) or an unSURTable one yield None: CDX indexes captures,
    * not archive bookkeeping. A capture with a date that does not
    * yield a 14-digit timestamp fails the write loudly — silently
    * missing from the index means lost at re-processing time.
    */
  private[graft] def cdxjLine(r: WarcRecord, offset: Long, length: Long,
      filename: String): Option[String] = {
    if (r.targetUri.isEmpty) return None
    val surt =
      try graft.functions.UrlOps.surtKey(r.targetUri)
      catch { case _: IllegalArgumentException => return None }
    // surtKey percent-encodes ASCII whitespace/control bytes; anything
    // still space-like would silently corrupt the space-delimited line
    // at readCdxj's split — fail the WRITE instead
    require(!surt.exists(c => c <= ' ' || c == 0x7f),
      s"cdx: SURT key of ${r.targetUri.take(60)} is not a single token: '$surt'")
    val ts = r.date.filter(_.isDigit).take(14)
    // a capture silently missing from the index is a lost page at
    // re-processing time — a malformed date fails the WRITE, loudly
    require(ts.length == 14,
      s"cdx: WARC-Date '${r.date}' of ${r.recordId} does not yield a 14-digit timestamp")
    val (mime, status) =
      if (r.recordType == "response")
        httpStatusMime(r.payload).getOrElse(("unk", None))
      // `warc/revisit` is the CDX convention pywb and the Common Crawl
      // index use for revisit records — it is also what lets [[replay]]
      // (and any wayback implementation) route a capture through the
      // identical-payload-digest indirection without fetching it first
      else if (r.recordType == "revisit") ("warc/revisit", None)
      else (r.contentType.takeWhile(_ != ';').trim, None)
    val digest = carriedPayloadDigest(r).getOrElse {
      if (r.recordType == "response") httpPayloadDigest(r.payload)
      else payloadDigest(r.payload)
    }
    val sb = new StringBuilder(192)
    sb.append(surt).append(' ').append(ts).append(" {")
    sb.append("\"url\":").append(jsonStr(r.targetUri))
    if (mime.nonEmpty) sb.append(",\"mime\":").append(jsonStr(mime))
    status.foreach(s => sb.append(",\"status\":\"").append(s).append('"'))
    sb.append(",\"digest\":").append(jsonStr(digest))
    sb.append(",\"length\":\"").append(length).append('"')
    sb.append(",\"offset\":\"").append(offset).append('"')
    sb.append(",\"filename\":").append(jsonStr(filename))
    sb.append('}')
    Some(sb.toString)
  }

  /** Header-only scan of an HTTP response payload: (media type,
    * status) without copying the entity body — CDX generation reads
    * two header fields per record and must not duplicate a
    * possibly-64 MB payload per record on the archive write path
    * ([[parseHttpResponse]] copies the body). None when the block has
    * no CRLFCRLF separator or no parseable status line. Folded header
    * continuations are not chased: a folded Content-Type yields its
    * first-line prefix, which carries the media type.
    */
  private def httpStatusMime(payload: Array[Byte]): Option[(String, Option[Int])] = {
    var split = -1
    var i = 0
    while (split < 0 && i + 3 < payload.length) {
      if (payload(i) == '\r' && payload(i + 1) == '\n' &&
          payload(i + 2) == '\r' && payload(i + 3) == '\n') split = i
      i += 1
    }
    if (split < 0) return None
    val head = new String(payload, 0, split, java.nio.charset.StandardCharsets.ISO_8859_1)
    val lines = head.split("\r\n", -1)
    val status = {
      val p = lines.head.split(" ")
      if (p.length >= 2 && p(0).startsWith("HTTP/") &&
          p(1).nonEmpty && p(1).forall(_.isDigit) && p(1).length <= 3)
        Some(p(1).toInt)
      else None
    }
    if (status.isEmpty) return None
    val ct = lines.iterator.drop(1).collectFirst {
      case l if l.length > 13 && l.regionMatches(true, 0, "Content-Type:", 0, 13) =>
        l.substring(13).trim.takeWhile(_ != ';').trim
    }
    Some((ct.getOrElse(""), status))
  }

  /** The digest a record already carries (`WARC-Payload-Digest`,
    * case-insensitive) — ONE definition for the cdx row, [[readWarc]]
    * and [[fetchByCdx]] surfaces, so the three cannot drift.
    */
  private[graft] def carriedPayloadDigest(r: WarcRecord): Option[String] =
    r.extra.collectFirst {
      case (k, v) if k.equalsIgnoreCase("WARC-Payload-Digest") => v
    }

  /** Parse `.cdx(.gz)` CDXJ files back into rows — the inverse of the
    * sidecar [[writeWarcWithCdx]] emits, and the ingest point for CDX
    * files written by OTHER tools (pywb, cdxj-indexer). Fully columnar:
    * one text scan, `split(limit=3)` for the two space-delimited key
    * fields, `from_json` for the block — no JVM-object parse path.
    * Output: (surt, ts, url, mime, status, digest, length, offset,
    * filename) with the numeric fields cast.
    */
  def readCdxj(spark: SparkSession, glob: String): DataFrame =
    readCdxj(spark, Seq(glob))

  /** [[readCdxj]] over an explicit file list (the manifest-gated
    * reader's spelling — no glob re-listing between gate and read).
    */
  def readCdxj(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val blockSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "url STRING, mime STRING, status STRING, digest STRING, " +
        "length STRING, offset STRING, filename STRING")
    // external-file hygiene (this is also the ingest point for CDXJ
    // OTHER tools wrote): a present-but-non-numeric offset/length/
    // status fails LOUDLY per row — a silent null from the cast would
    // surface later as an opaque encoding failure (or a dropped
    // pointer) in fetchByCdx, the same fail-loud discipline
    // readCdxClassic and CdxIndex.changeStats apply. The ONE exception
    // is the literal '-': classic CDX tooling's null placeholder,
    // which some indexers carry into CDXJ (revisit rows especially) —
    // it nulls out like readCdxClassic's fields do, so external files
    // ingest instead of aborting the whole read.
    def num(c: org.apache.spark.sql.Column, t: String,
        what: String): org.apache.spark.sql.Column =
      when(c === "-", lit(null).cast(t))
        .when(c.isNotNull && c.cast(t).isNull,
          raise_error(concat(lit(s"readCdxj: non-numeric $what '"), c, lit("'")))
            .cast(t))
        .otherwise(c.cast(t))
    spark.read.textFile(paths: _*).toDF("line")
      .filter(length(trim(col("line"))) > 0)
      .select(split(col("line"), " ", 3).as("f"))
      .select(col("f").getItem(0).as("surt"), col("f").getItem(1).as("ts"),
        from_json(col("f").getItem(2), blockSchema).as("j"))
      .select(col("surt"), col("ts"),
        col("j.url").as("url"), col("j.mime").as("mime"),
        num(col("j.status"), "int", "status").as("status"),
        col("j.digest").as("digest"),
        num(col("j.length"), "long", "length").as("length"),
        num(col("j.offset"), "long", "offset").as("offset"),
        col("j.filename").as("filename"))
  }

  /** Parse CLASSIC space-delimited CDX files (the `CDX N b a m s k r M
    * S V g` 11-field layout wayback/OpenWayback tooling emits:
    * urlkey, timestamp, original url, mimetype, statuscode, digest,
    * redirect, metatags, compressed length, offset, filename) into
    * the SAME schema [[readCdxj]] produces, so legacy index files
    * feed `CdxIndex.buildTable`/`fetchByCdx` unchanged. `-` fields
    * null out; the classic bare-Base32 digest gains the `sha1:`
    * prefix this pipeline's digests carry (so revisit marking
    * compares like for like). Blanks drop; a ` CDX ...` header line
    * is VALIDATED against the supported layout (other layouts — the
    * 9-field or 15-field variants — reorder the ranged-read triple,
    * so accepting them would seek wrong byte ranges), and any data
    * line that is not exactly 11 fields fails loudly: a capture
    * silently missing or misparsed is a lost page at re-processing
    * time. Fully columnar — one split per line.
    */
  def readCdxClassic(spark: SparkSession, glob: String): DataFrame = {
    import org.apache.spark.sql.functions._
    def nn(c: org.apache.spark.sql.Column) = when(c === "-", lit(null)).otherwise(c)
    spark.read.textFile(glob).toDF("line")
      .filter(length(trim(col("line"))) > 0)
      .select(
        when(trim(col("line")).startsWith("CDX "),
          when(trim(col("line")) === "CDX N b a m s k r M S V g",
            lit(null).cast("string"))
            .otherwise(raise_error(concat(
              lit("readCdxClassic: unsupported CDX layout header '"),
              trim(col("line")), lit("' (supported: CDX N b a m s k r M S V g)")))))
          .otherwise(col("line")).as("line"))
      .filter(col("line").isNotNull)
      .select(split(col("line"), " ").as("f"), col("line"))
      .select(when(size(col("f")) === 11, col("f"))
        .otherwise(raise_error(concat(
          lit("readCdxClassic: expected 11 fields, got "),
          size(col("f")).cast("string"), lit(" in '"), col("line"), lit("'"))))
        .as("f"))
      .select(
        col("f").getItem(0).as("surt"), col("f").getItem(1).as("ts"),
        col("f").getItem(2).as("url"), nn(col("f").getItem(3)).as("mime"),
        nn(col("f").getItem(4)).cast("int").as("status"),
        when(col("f").getItem(5) === "-", lit(null))
          .when(col("f").getItem(5).contains(":"), col("f").getItem(5))
          .otherwise(concat(lit("sha1:"), col("f").getItem(5))).as("digest"),
        nn(col("f").getItem(8)).cast("long").as("length"),
        nn(col("f").getItem(9)).cast("long").as("offset"),
        nn(col("f").getItem(10)).as("filename"))
  }

  /** Rename `tmp` over `fin` (last complete attempt wins). Hadoop's
    * `rename` refuses an existing destination on most filesystems, so
    * the replace case (only reachable when a racing attempt already
    * committed this partition — both attempts hold complete, equivalent
    * files) deletes-then-renames; the window between the two is the
    * documented non-atomicity of that rare race, not of the normal
    * commit. A missing temp means this attempt was superseded (a newer
    * job swept part-*.tmp) — deleting the final file then would destroy
    * the NEW job's committed archive, so fail loudly without touching it.
    */
  private def commitOne(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, fin: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.rename(tmp, fin)) {
      require(fs.exists(tmp),
        s"writeWarc: attempt temp $tmp vanished (superseded by a newer job?) — " +
          s"refusing to touch $fin")
      fs.delete(fin, false)
      require(fs.rename(tmp, fin),
        s"writeWarc: could not commit $tmp over $fin")
    }
  }

  private[graft] def commitPartitionFiles(dir: String, pid: Int, attemptTag: Long,
      recs: Iterator[WarcRecord],
      hconf: org.apache.hadoop.conf.Configuration, withCdx: Boolean,
      filenamePrefix: String = ""): Seq[String] = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = warcFs(dirPath, hconf)
    try {
      fs.mkdirs(dirPath)
      val warcName = f"part-$pid%05d.warc.gz"
      val tmp = new org.apache.hadoop.fs.Path(dirPath, f"part-$pid%05d-attempt$attemptTag.tmp")
      val fin = new org.apache.hadoop.fs.Path(dirPath, warcName)
      // BOTH temps exist before EITHER commit: a newer job's sweep
      // (which deletes part-*.tmp before writing) therefore always
      // leaves this attempt with at least one missing temp, and
      // commitOne fails loudly on it — a superseded attempt can
      // never pair its stale .cdx.gz with the newer job's archive
      val ctmp = new org.apache.hadoop.fs.Path(dirPath,
        f"part-$pid%05d-attempt$attemptTag.cdx.tmp")
      val cfin = new org.apache.hadoop.fs.Path(dirPath, f"part-$pid%05d.cdx.gz")
      // the CDX sidecar streams ALONGSIDE the archive: each record's
      // index line (its `offset` is the byte position of the record's
      // OWN gzip member, known exactly at append time) is appended to
      // the sidecar temp as the member is written — task residency
      // stays ONE record; a ~1 GB part of small records must not hold
      // hundreds of MB of buffered index lines in heap
      var offset = 0L
      val out = new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 20)
      val cout =
        if (withCdx) new GZIPOutputStream(
          new java.io.BufferedOutputStream(fs.create(ctmp, true), 1 << 18))
        else null
      try recs.foreach { r =>
        val member = gzipMember(writeRecord(r))
        out.write(member)
        if (withCdx)
          cdxjLine(r, offset, member.length, filenamePrefix + warcName)
            .foreach(l => cout.write((l + "\n").getBytes(UTF_8)))
        offset += member.length
      } finally {
        // nested finally: an out.close() failure (ENOSPC at the final
        // flush) must not leak the sidecar stream's fd + Deflater
        try out.close()
        finally if (cout != null) cout.close()
      }
      if (!withCdx) {
        commitOne(fs, tmp, fin)
        Seq(fs.makeQualified(fin).toString)
      } else {
        // PAIR commit: a part's archive and sidecar must come from ONE
        // attempt — sidecar offsets from attempt A pointing into
        // attempt B's archive would break every ranged fetch for the
        // part. Two separate renames cannot be atomic together, so the
        // protocol narrows the exposure to byte-identical attempts:
        //   1. commit the warc;
        //   2. before committing the sidecar, re-stat the live warc —
        //      if its length is not THIS attempt's byte count, a
        //      racing attempt's archive went live after ours, so WE
        //      withdraw (drop our sidecar temp; the racing attempt,
        //      which observed its own length, commits the matching
        //      sidecar);
        //   3. after committing the sidecar, verify the live pair's
        //      lengths again and fail the TASK loudly on mismatch —
        //      the retry rewrites both files with no competitor left.
        // The residual undetectable case is two attempts whose outputs
        // differ at EQUAL byte length; partition content is
        // deterministic (same rows, same serialization), so racing
        // attempts produce byte-identical files and any length skew
        // means a real foreign interleave. Readers get one more gate:
        // the job manifest ([[writeManifest]]) records the winning
        // sizes, and manifest-resolved reads verify against them.
        val warcLen = offset
        val cdxLen = fs.getFileStatus(ctmp).getLen
        commitOne(fs, tmp, fin)
        val liveWarcLen = fs.getFileStatus(fin).getLen
        if (liveWarcLen != warcLen) {
          fs.delete(ctmp, false) // superseded: the newer attempt pairs itself
        } else {
          commitOne(fs, ctmp, cfin)
          val (w, c) = (fs.getFileStatus(fin).getLen, fs.getFileStatus(cfin).getLen)
          if (w == warcLen)
            // our warc is live: a foreign sidecar over it is a real
            // interleave — fail the TASK; the retry rewrites both
            // files with no competitor left
            require(c == cdxLen,
              s"writeWarc: archive/sidecar pair for $fin interleaved across attempts " +
                s"(cdx $c vs $cdxLen) — failing the task; retry rewrites the pair")
          else if (c == cdxLen)
            // a newer warc went live after our step-2 check and OUR
            // stale sidecar may sit over it: withdraw it. The newer
            // attempt either commits its own sidecar afterwards
            // (clean pair) or already did (its pair then misses the
            // sidecar — a LOUD FileNotFound at read, never silently
            // wrong offsets)
            fs.delete(cfin, false)
        }
        Seq(fs.makeQualified(fin).toString, fs.makeQualified(cfin).toString)
      }
    } finally fs.close()
  }

  /** Wrap a raw archive stream in its decompressor (gzip sniffed from
    * the magic bytes; plain passes through buffered). Closing the
    * returned stream closes `raw` and releases the gzip Inflater's
    * native memory.
    */
  def openArchiveStream(raw: InputStream): InputStream = {
    val buf = new BufferedInputStream(raw, 64 << 10)
    buf.mark(2)
    val b0 = buf.read(); val b1 = buf.read()
    buf.reset()
    if (b0 == 0x1f && b1 == 0x8b) new GZIPInputStream(buf) else buf
  }

  /** Open a raw archive stream (plain or gzip — sniffed from the magic
    * bytes) and stream its records one at a time: only the current
    * record's payload is ever resident, never the archive bytes or a
    * collection of records. This IS the distributed parse path —
    * `readWarc` calls it per file; `readAll` (whole-Vector) exists only
    * for small in-memory inputs like tests. The stream (and with it
    * the gzip Inflater) closes the moment the last record is served —
    * a task whose partition holds many archives must not hold every
    * file open until task end.
    */
  def recordsFromRaw(raw: InputStream, maxPayloadBytes: Int = 64 << 20): Iterator[WarcRecord] = {
    val in = openArchiveStream(raw)
    val it = readStream(in, maxPayloadBytes)
    new Iterator[WarcRecord] {
      override def hasNext: Boolean = {
        val h = it.hasNext
        if (!h) in.close() // idempotent; readStream caches exhaustion
        h
      }
      override def next(): WarcRecord = it.next()
    }
  }

  /** Read `.warc` / `.warc.gz` archives under `path` into a DataFrame —
    * one row per record. One task per archive file
    * (`sparkContext.binaryFiles` → `PortableDataStream`); see the class
    * doc for why file granularity is the right parallel grain. Records
    * stream off the open file handle one at a time (`recordsFromRaw`),
    * so executor residency is ONE record, not the archive — a ~1 GiB
    * `.warc.gz` (multi-GiB decoded) parses under a small task heap.
    */
  def readWarc(spark: SparkSession, path: String,
      maxPayloadBytes: Int = 64 << 20): DataFrame = {
    import spark.implicits._
    val rows = spark.sparkContext.binaryFiles(path)
      .flatMap { case (file, pds) =>
        // fd + Inflater hygiene at crawl scale (~70k archives/crawl):
        // recordsFromRaw closes the stream at exhaustion (covers the
        // many-archives-per-task case), and the task-completion
        // listener covers every other exit — early stop (limit),
        // parse exceptions, task kill — where GC-reaped descriptors
        // would otherwise exhaust the executor's fd table
        val in = openArchiveStream(pds.open())
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            try in.close() catch { case _: Exception => () }
          })
        val it = readStream(in, maxPayloadBytes)
        val closing = new Iterator[WarcRecord] {
          override def hasNext: Boolean = {
            val h = it.hasNext
            if (!h) in.close()
            h
          }
          override def next(): WarcRecord = it.next()
        }
        closing.zipWithIndex.map { case (r, ix) =>
          (file, ix, r.recordType, r.targetUri, r.date, r.recordId, r.contentType,
            r.payload.length.toLong, r.payload, carriedPayloadDigest(r).orNull)
        }
      }
    spark.createDataset(rows)
      .toDF("file", "rec_ix", "rec_type", "target_uri", "warc_date", "record_id",
        "content_type", "content_length", "payload", "payload_digest")
  }

  /** Distributed RANGED fetch — the consumer side of the CDX pointers:
    * given index rows carrying (`filename`, `offset`, `length`) (a
    * `CdxIndex.lookupPrefix` result or [[readCdxj]] output), read ONLY
    * those records from the archives under `dir`. Each row costs one
    * positioned read of `length` bytes plus one gzip-member decode;
    * rows are range-partitioned and sorted by (filename, offset) so a
    * task walks each file forward with one stream open at a time and
    * a hot file still splits across tasks. This is what the index is
    * FOR at archive scale: "re-process host X" touches exactly host
    * X's bytes, not the crawl. Output mirrors [[readWarc]] (filename +
    * offset in place of file + rec_ix).
    */
  /** Wayback replay, batch form — the consumer loop a web archive
    * actually runs: `resolved` CDX rows (typically a
    * `CdxIndex`/`AsOfJoin` resolution of (url, instant) requests) are
    * fetched by pointer, and any capture that turns out to be a
    * payload-free `revisit` record follows the
    * identical-payload-digest indirection back to the ORIGINAL
    * response's bytes: the original is the latest non-revisit capture
    * of the SAME surt with the SAME payload digest at or before the
    * revisit's timestamp, resolved against `index` (the master CDX
    * rows) with the engine's own as-of join and fetched with a second
    * ranged read. A revisit whose original cannot be found in `index`
    * fails LOUDLY — replaying an empty body as if it were the page is
    * the silent-corruption case.
    *
    * Output mirrors [[fetchByCdx]] plus a `replayed` flag; for revisit
    * rows `payload`/`content_length` carry the ORIGINAL's bytes (and
    * `filename`/`offset` the original's pointer) while
    * `rec_type`/`record_id`/`warc_date` keep the resolved capture's
    * identity (what was requested vs what bytes serve it).
    * `src_filename`/`src_offset` always carry the REQUESTED pointer —
    * the stable join-back identity for callers stitching replayed
    * bytes to their request rows ([[replayRedirects]] does).
    *
    * Scale shape: one ranged fetch for the request set, one as-of join
    * keyed on (surt, digest) against the index (revisit rows only —
    * typically the small minority), one ranged fetch of the DISTINCT
    * original pointers, one hash join to stitch payloads back. No
    * archive scan anywhere.
    */
  def replay(resolved: DataFrame, index: DataFrame, dir: String,
      maxPayloadBytes: Int = 64 << 20): DataFrame = {
    import org.apache.spark.sql.functions._
    val outCols = Seq("filename", "offset", "rec_type", "target_uri", "warc_date",
      "record_id", "content_type", "content_length", "payload", "payload_digest")
      .map(col) ++ Seq(col("replayed"), col("src_filename"), col("src_offset"))
    // `fetched` feeds BOTH output branches (direct + revisit) and
    // `located` below feeds both the original-pointer fetch and the
    // stitch join — Catalyst does not share duplicate subtrees, so
    // without materialization the request resolution upstream of
    // `resolved`, the index derivation AND the ranged fetch itself
    // re-execute once per consumer. Both tables are REQUEST-sized, so
    // an eager output localCheckpoint applies (truncated lineage is
    // acceptable for output-bound tables; the returned plan reads both,
    // so they stay outside a pin scope — Partitioning.pinned's release
    // rule): one job each, blocks reaped by the ContextCleaner when the
    // frames are collected.
    val fetched = fetchByCdx(resolved, dir, maxPayloadBytes)
      .withColumn("src_filename", col("filename"))
      .withColumn("src_offset", col("offset"))
      .localCheckpoint(true)
    val direct = fetched.filter(col("rec_type") =!= "revisit")
      .withColumn("replayed", lit(false))
    val revisits = fetched.filter(col("rec_type") === "revisit")
      .withColumn("__k", concat_ws("|",
        call_function("graft_surt", col("target_uri")), col("payload_digest")))
      .withColumn("__ts", substring(regexp_replace(col("warc_date"), "[^0-9]", ""), 1, 14))
    // originals only: the non-revisit captures with a digest to match
    val originals = index
      .filter((col("mime").isNull || col("mime") =!= "warc/revisit") &&
        col("digest").isNotNull)
      .select(concat_ws("|", col("surt"), col("digest")).as("__rk"),
        col("ts").as("__rts"), col("filename"), col("offset"), col("length"),
        // equal-(surt, digest, ts) duplicate originals (parallel
        // crawlers) serve identical bytes, but the OUTPUT pointer must
        // still pick deterministically — the resolveNearest tiebreak:
        // max (filename, numeric offset) — the true tuple order every
        // capture pick uses, as the sort-fast NUL-joined string
        CdxIndex.ptrTiebreak(col("filename"), col("offset")).as("__rtb"))
    // materialized: consumed by the distinct original-pointer fetch
    // AND the stitch join — recomputing it would run the (surt, digest)
    // as-of against the index twice (same rationale as `fetched`)
    val located = graft.operators.AsOfJoin.asOf(
        revisits.drop("filename", "offset"), originals,
        "__k", "__rk", "__ts", "__rts",
        payload = Seq("filename", "offset", "length"),
        rightTiebreak = Some("__rtb"))
      .withColumn("offset",
        when(col("offset").isNull, raise_error(concat(
          lit("replay: no original capture for revisit of "), col("target_uri"),
          lit(" digest "), coalesce(col("payload_digest"), lit("NULL")),
          lit(" at or before "), col("__ts"))).cast("long"))
          .otherwise(col("offset")))
      .localCheckpoint(true)
    val origPtrs = located.select(col("filename"), col("offset"), col("length")).distinct()
    // the resolved pointer must fetch a REAL original: against an index
    // whose revisit rows lack the `warc/revisit` mime (pre-r15 sidecars
    // record the record Content-Type; external CDX can carry null
    // mimes) the as-of match can land on another revisit — including
    // the requested capture ITSELF at equal (surt, digest, ts) — and
    // serving its empty payload as the page is the silent-corruption
    // case. Verify the fetched record type and fail LOUDLY instead.
    // the check rides the KEPT payload column (a checked-then-dropped
    // column would be pruned away unevaluated by the optimizer)
    val origBytes = fetchByCdx(origPtrs, dir, maxPayloadBytes)
      .select(col("filename"), col("offset"),
        when(col("rec_type") === "revisit", raise_error(concat(
          lit("replay: resolved 'original' "), col("filename"),
          lit(" @"), col("offset").cast("string"),
          lit(" is itself a revisit — the index does not distinguish revisit "),
          lit("captures (no warc/revisit mime); rebuild it from sidecars that do")))
          .cast("binary"))
          .otherwise(col("payload")).as("__orig_payload"),
        col("content_length").as("__orig_len"))
    val stitched = located
      .join(origBytes.hint("shuffle_hash"), Seq("filename", "offset"))
      .withColumn("payload", col("__orig_payload"))
      .withColumn("content_length", col("__orig_len"))
      .withColumn("replayed", lit(true))
    // deliberately LAZY: a consumer's re-execution (an orderBy's
    // range-sample pass) only re-runs the cheap stitch join over the
    // two checkpointed inputs — measured CHEAPER than eagerly
    // materializing every payload a second time here (4.4 s vs 3.8 s
    // on the pipeline_wayback arm)
    direct.select(outCols: _*).unionByName(stitched.select(outCols: _*))
  }

  /** Resolve an HTTP `Location` reference against the request URL —
    * RFC 3986 reference resolution (absolute refs pass through;
    * protocol-relative, path-absolute and relative refs resolve
    * against the base). None when the reference cannot be parsed — an
    * unparseable Location makes the capture TERMINAL in
    * [[replayRedirects]] (it serves its own bytes, exactly like a
    * Location-less 3xx: there is no target to follow), never a
    * whole-job crash on one bad capture. Callers needing to surface
    * unfollowed redirects filter the OUTPUT's 3xx statuses — a served
    * terminal that is itself a 3xx is by construction one of these.
    */
  private[graft] def resolveLocation(base: String, ref: String): Option[String] = {
    val r = ref.trim
    if (r.isEmpty) None
    else try {
      val refU = new java.net.URI(r)
      if (refU.isAbsolute) Some(refU.toString)
      else Some(new java.net.URI(base).resolve(refU).toString)
    } catch { case _: Exception => None }
  }

  /** [[replay]] OVER REDIRECTS — the full wayback consumer loop: a
    * captured 3xx must not dead-end at its own bytes; real replay
    * follows the Location header to the capture of the TARGET url at
    * the same instant, across chains, with a hop bound.
    *
    * Scale shape — the redirect graph is an INDEX asset, not a
    * per-request walk: every 3xx capture the index knows (status
    * 300–399; the small minority of an archive) is ranged-fetched ONCE
    * to extract its Location, each edge's destination resolves with
    * one as-of join (the capture of the target surt at or before the
    * SOURCE capture's own instant — the crawl's temporal coherence),
    * and the whole graph collapses to terminals by
    * [[graft.operators.CrawlFrontier.resolveRedirects]]'s pointer
    * doubling — ⌈log₂(maxHops+1)⌉ hash-join rounds bound `maxHops`-long
    * chains, never maxHops sequential joins. Requests then route
    * through the jump table with one hash join, terminals fetch via
    * [[replay]] (revisit indirection included). Nothing is collected;
    * nothing request-sized or index-sized lands on the driver.
    *
    * Contract: a requested chain reaching a target with NO capture at
    * or before the hop's instant fails LOUDLY (serving the 3xx page as
    * if it were the content is the silent-corruption case), and so
    * does a request/terminal pointer absent from `index` (the
    * stale-snapshot shape — rows silently dropping would lose
    * documents); a cycle (or a chain past `maxHops`) comes back
    * `resolved = false` with the last-reached redirect capture's
    * bytes, so the caller can surface it. A 3xx that carries no
    * (parseable) Location is TERMINAL — its own bytes serve. A REVISIT
    * of a 3xx follows its original's Location (the same
    * identical-payload-digest indirection [[replay]] uses), resolved
    * at the revisit's own instant — a redirect re-captured unchanged
    * must redirect, not dead-end. Output mirrors [[replay]] with
    * `src_filename`/`src_offset` = the REQUESTED pointer,
    * `filename`/`offset` = the pointer whose bytes serve, plus `hops`
    * and `resolved`.
    */
  def replayRedirects(requests: DataFrame, index: DataFrame, dir: String,
      maxHops: Int = 8, maxPayloadBytes: Int = 64 << 20): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = requests.sparkSession
    import spark.implicits._
    require(maxHops >= 1, "maxHops must be at least 1")
    def node(f: org.apache.spark.sql.Column, o: org.apache.spark.sql.Column) =
      concat(f, lit("|"), o.cast("string"))
    // the archive's redirect graph: every 3xx capture with a pointer.
    // Revisit rows are payload-free (no Location to read here), so
    // each revisit INHERITS its original's Location below — a 301
    // re-captured unchanged must still follow the redirect, never
    // dead-end serving the redirect body as if it were the page.
    val threes = index.filter(col("status").isNotNull &&
        col("status").between(300, 399) &&
        (col("mime").isNull || col("mime") =!= "warc/revisit") &&
        col("filename").isNotNull && col("offset").isNotNull && col("length").isNotNull)
      .select(col("filename"), col("offset"), col("length")).distinct()
    // eager-checkpointed: consumed by BOTH the direct edge list and the
    // revisit-inheritance as-of below — without it the 3xx ranged fetch
    // and Location parse run once per consumer (3xx captures are the
    // small minority of an archive, so this is bounded; same
    // request-sized-checkpoint rationale as [[replay]])
    val hops3 = fetchByCdx(threes, dir, maxPayloadBytes)
      .select(col("filename"), col("offset"), col("target_uri"),
        col("warc_date"), col("payload_digest"), col("payload"))
      .as[(String, Long, String, String, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (f, o, uri, date, dg, payload) =>
        // digest via the cdxjLine rule (carried header, else computed
        // over the HTTP entity) so it matches what the revisit rows'
        // index digests were derived from
        parseHttpResponse(payload).header("Location")
          .flatMap(l => resolveLocation(uri, l))
          .map(abs => (f, o, abs, date.filter(_.isDigit).take(14), uri,
            Option(dg).getOrElse(httpPayloadDigest(payload))))
      }).toDF("filename", "offset", "loc_url", "src_ts", "src_uri", "src_digest")
      .localCheckpoint(true)
    // revisit captures of a 3xx inherit the ORIGINAL's Location via the
    // same identical-payload-digest indirection replay() uses (latest
    // original of the same surt+digest at or before the revisit) — the
    // edge then resolves at the REVISIT's own instant. Revisits of
    // non-3xx (or Location-less) originals match nothing and stay
    // terminal, which replay() serves correctly.
    val revisit3xx = index.filter(col("mime") === "warc/revisit" &&
        col("digest").isNotNull &&
        col("filename").isNotNull && col("offset").isNotNull)
      .select(concat_ws("|", col("surt"), col("digest")).as("__rk"),
        col("ts").as("rev_ts"), col("filename").as("rf"), col("offset").as("ro"))
    val origEdges = hops3.select(
      concat_ws("|", call_function("graft_surt", col("src_uri")),
        col("src_digest")).as("__ok"),
      col("src_ts").as("__ots"), col("loc_url"),
      // duplicate equal-(surt, digest, ts) originals: identical payload
      // bytes imply an identical Location, but pick deterministically
      // anyway (the resolveNearest tiebreak axis)
      CdxIndex.ptrTiebreak(col("filename"), col("offset")).as("__otb"))
    val inherited = graft.operators.AsOfJoin.asOf(revisit3xx, origEdges,
      "__rk", "__ok", "rev_ts", "__ots", payload = Seq("loc_url"),
      rightTiebreak = Some("__otb"))
      .filter(col("loc_url").isNotNull)
      .select(col("rf").as("filename"), col("ro").as("offset"),
        col("loc_url"), col("rev_ts").as("src_ts"))
    val allEdges = hops3.select(col("filename"), col("offset"),
        col("loc_url"), col("src_ts"))
      .unionByName(inherited)
      .withColumn("loc_surt", call_function("graft_surt", col("loc_url")))
    // each edge's destination: the captured target as of the SOURCE
    // capture's own instant; a miss becomes a 'missing|<surt>' sentinel
    // node — terminal in the walk, loud only if a request reaches it
    val targets = index
      .filter(col("filename").isNotNull && col("offset").isNotNull)
      .select(col("surt").as("t_surt"), col("ts").as("t_ts"),
        col("filename").as("t_f"), col("offset").as("t_o"),
        // equal-(surt, ts) duplicate captures of the redirect TARGET:
        // resolve the edge deterministically (max (filename, numeric
        // offset) tuple wins — the same tiebreak every capture pick
        // here uses)
        CdxIndex.ptrTiebreak(col("filename"), col("offset")).as("__ttb"))
    val edges = graft.operators.AsOfJoin.asOf(allEdges, targets,
      "loc_surt", "t_surt", "src_ts", "t_ts", payload = Seq("t_f", "t_o"),
      rightTiebreak = Some("__ttb"))
      .select(node(col("filename"), col("offset")).as("url"),
        when(col("t_f").isNotNull, node(col("t_f"), col("t_o")))
          .otherwise(concat(lit("missing|"), col("loc_surt"))).as("location"))
    val jumps = graft.operators.CrawlFrontier
      .resolveRedirects(edges, "url", "location", maxHops)
      .select(col("url").as("__n"), col("final_url").as("__t"),
        col("hops"), col("resolved"))
    // route the request set: non-3xx entries are not in the jump table
    // and terminate at themselves (hops 0)
    val routed = requests.select(col("filename"), col("offset"))
      .withColumn("__n", node(col("filename"), col("offset")))
      .join(jumps.hint("shuffle_hash"), Seq("__n"), "left")
      .select(col("filename").as("src_filename"), col("offset").as("src_offset"),
        coalesce(col("__t"), col("__n")).as("__t"),
        coalesce(col("hops"), lit(0L)).as("hops"),
        coalesce(col("resolved"), lit(true)).as("resolved"))
      .withColumn("__t",
        when(col("__t").startsWith("missing|"),
          raise_error(concat(lit("replayRedirects: no capture of redirect target "),
            substring(col("__t"), 9, 1 << 20),
            lit(" at or before the redirecting capture's instant")))
            .cast("string"))
          .otherwise(col("__t")))
      // request-sized; consumed by the terminal-pointer distinct AND the
      // final stitch join — checkpoint or the jump-table walk (log2
      // maxHops join rounds) re-executes per consumer
      .localCheckpoint(true)
    // terminal pointers (offset = the node id's LAST |-segment, so a
    // '|' in a filename cannot misparse) recover their length from the
    // index and fetch through replay — revisit terminals follow the
    // digest indirection like any other replay
    val termPtrs = routed.select(col("__t")).distinct()
      .withColumn("offset", substring_index(col("__t"), "|", -1).cast("long"))
      .withColumn("filename", expr(
        "substring(__t, 1, length(__t) - length(substring_index(__t, '|', -1)) - 1)"))
      .join(index.select(col("filename"), col("offset"), col("length")).distinct(),
        Seq("filename", "offset"))
    val served = replay(termPtrs.select(col("filename"), col("offset"), col("length")),
      index, dir, maxPayloadBytes)
      .withColumn("__t", node(col("src_filename"), col("src_offset")))
      .drop("src_filename", "src_offset")
    // LEFT join + loud: a request (or terminal) pointer that is not in
    // the supplied index has no length to fetch with — dropping the
    // row would silently lose the document (the stale-snapshot shape:
    // pointers from a pre-refresh master against a compacted archive).
    // The check rides the KEPT payload column so the optimizer cannot
    // prune it away unevaluated.
    routed.join(served.hint("shuffle_hash"), Seq("__t"), "left")
      .withColumn("payload",
        when(col("rec_type").isNull, raise_error(concat(
          lit("replayRedirects: pointer "), col("__t"),
          lit(" is not in the supplied index — the request set and the index are "),
          lit("from different snapshots"))).cast("binary"))
          .otherwise(col("payload")))
      .drop("__t")
  }

  def fetchByCdx(cdx: DataFrame, dir: String,
      maxPayloadBytes: Int = 64 << 20): DataFrame = {
    import org.apache.spark.sql.functions.{col, floor, lit}
    val spark = cdx.sparkSession
    import spark.implicits._
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.SerializableWritable(spark.sessionState.newHadoopConf()))
    // accept both pointer spellings: the CDXJ schema (filename/offset/
    // length) and CdxIndex.toColumnar's public cc-index-table names
    // (warc_filename/warc_record_offset/warc_record_length)
    val ptr =
      if (cdx.columns.contains("warc_filename"))
        cdx.select(col("warc_filename").as("filename"),
          col("warc_record_offset").as("offset"),
          col("warc_record_length").as("length"))
      else cdx
    // hash-partition on (filename, 64 MB offset window), NOT
    // repartitionByRange: range partitioning SAMPLES its input — an
    // extra pass that re-executes the (often join-heavy) pointer
    // resolution upstream — while the hash key is computed in one pass
    // and is deterministic under task retry. Locality is preserved
    // where it matters: a task still owns whole 64 MB regions of a
    // file (sorted below, so it walks them forward with one open
    // stream), and a hot file still spreads across tasks by window.
    ptr.select(col("filename"), col("offset"), col("length"))
      .repartition(col("filename"), floor(col("offset") / lit(64L << 20)))
      .sortWithinPartitions(col("filename"), col("offset"))
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val conf = bcConf.value.value
          val dirPath = new org.apache.hadoop.fs.Path(dir)
          // cached read-side FileSystem (no flags mutated) — NOT closed
          val fs = dirPath.getFileSystem(conf)
          var openName: String = null
          var openIn: org.apache.hadoop.fs.FSDataInputStream = null
          def in(name: String): org.apache.hadoop.fs.FSDataInputStream = {
            if (name != openName) {
              if (openIn != null) openIn.close()
              openIn = fs.open(new org.apache.hadoop.fs.Path(dirPath, name))
              openName = name
            }
            openIn
          }
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit] { _ =>
              if (openIn != null) { try openIn.close() catch { case _: Exception => () } }
            })
          // manifest gate, resolved PER DIRECTORY: a pointer's filename
          // may carry a collection-relative prefix ('crawl1/part-N
          // .warc.gz' — the merged-master layout), and each archive dir
          // publishes its OWN manifest, so the gate resolves the
          // manifest of the pointer's directory (memoized per task —
          // rows are sorted by filename, so this is one FS stat per
          // directory per task). When a dir has a manifest, the file
          // must be committed and the (offset, length) window must lie
          // inside its committed size — a pointer into a half-committed
          // or foreign-attempt file fails LOUDLY before the read.
          // Manifest-less dirs (external archives, pre-manifest
          // writers) fetch un-gated as before.
          val manifests = scala.collection.mutable.HashMap
            .empty[String, Option[Map[String, Long]]]
          def gate(name: String, off: Long, len: Long): Unit = {
            val cut = name.lastIndexOf('/')
            val (sub, base) =
              if (cut < 0) ("", name) else (name.substring(0, cut), name.substring(cut + 1))
            manifests.getOrElseUpdate(sub, readManifestMapFs(fs,
              if (sub.isEmpty) dirPath else new org.apache.hadoop.fs.Path(dirPath, sub)))
              .foreach { m =>
                val size = m.getOrElse(base, throw new IllegalStateException(
                  s"fetchByCdx: $name is not in its directory's commit manifest — the " +
                    "pointer references an uncommitted or foreign file"))
                require(off >= 0 && off + len <= size,
                  s"fetchByCdx: pointer $name @$off+$len exceeds the committed " +
                    s"size $size — index and archive are from different commits")
              }
          }
          it.map { case (name, off, len) =>
            // a member holds one record + gzip framing; cap it by the
            // same payload bound the parser enforces (plus header
            // slack) AND the JVM array ceiling — a corrupt length must
            // fail HERE, not as a NegativeArraySizeException below
            require(len > 0 && len <= maxPayloadBytes.toLong + (1L << 16) &&
                len <= Int.MaxValue.toLong - 8,
              s"fetchByCdx: implausible member length $len for $name @$off")
            gate(name, off, len)
            val buf = new Array[Byte](len.toInt)
            in(name).readFully(off, buf, 0, buf.length)
            val recs = readAll(buf, maxPayloadBytes)
            require(recs.length == 1,
              s"fetchByCdx: pointer $name @$off+$len framed ${recs.length} records")
            val r = recs.head
            (name, off, r.recordType, r.targetUri, r.date, r.recordId,
              r.contentType, r.payload.length.toLong, r.payload,
              carriedPayloadDigest(r).orNull)
          }
        }
      }
      .toDF("filename", "offset", "rec_type", "target_uri", "warc_date", "record_id",
        "content_type", "content_length", "payload", "payload_digest")
  }
}
