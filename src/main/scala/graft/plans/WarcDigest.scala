package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** WARC payload digest: `sha1:` + RFC 4648 Base32 of the SHA-1 — the
  * exact spelling WARC-Payload-Digest headers carry in public crawl
  * corpora (160 bits → 32 Base32 characters, no padding). Used to key
  * `revisit` records: a response whose payload digest matches a prior
  * crawl's is stored as a payload-free revisit instead of a duplicate
  * copy of the bytes.
  *
  * For `application/http` records the WARC spec's "payload" is the
  * HTTP ENTITY BODY, not the whole record block — real corpora
  * (Common Crawl, wget, warcio) digest the bytes AFTER the HTTP
  * header block, as stored (chunked framing and content-encoding
  * intact). [[WarcDigestUtil.httpPayloadDigest]] implements that;
  * digesting the full block for an HTTP response would match nothing
  * another tool produced.
  */
object WarcDigestUtil {
  private val Alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"

  /** RFC 4648 Base32, unpadded. SHA-1's 160 bits divide 5 exactly, so
    * no padding case arises for the digest path.
    */
  def base32(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder((bytes.length * 8 + 4) / 5)
    var buf = 0L
    var nBits = 0
    var i = 0
    while (i < bytes.length) {
      buf = (buf << 8) | (bytes(i) & 0xffL)
      nBits += 8
      while (nBits >= 5) {
        nBits -= 5
        sb.append(Alphabet(((buf >> nBits) & 0x1f).toInt))
      }
      i += 1
    }
    if (nBits > 0) sb.append(Alphabet(((buf << (5 - nBits)) & 0x1f).toInt))
    sb.toString
  }

  def digest(payload: Array[Byte]): UTF8String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    UTF8String.fromString("sha1:" + base32(md.digest(payload)))
  }

  /** Digest of the HTTP entity body: everything after the first
    * CRLFCRLF (status line + headers end there), exactly as stored —
    * NOT dechunked or content-decoded, matching what wget/warcio emit
    * and Common Crawl archives carry. A block that carries no header/
    * body separator is digested whole (the only consistent fallback
    * for a malformed or non-HTTP payload a caller mislabeled).
    */
  def httpPayloadDigest(payload: Array[Byte]): UTF8String = {
    var split = -1
    var i = 0
    while (split < 0 && i + 3 < payload.length) {
      if (payload(i) == '\r' && payload(i + 1) == '\n' &&
          payload(i + 2) == '\r' && payload(i + 3) == '\n') split = i
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("SHA-1")
    if (split < 0) UTF8String.fromString("sha1:" + base32(md.digest(payload)))
    else {
      md.update(payload, split + 4, payload.length - split - 4)
      UTF8String.fromString("sha1:" + base32(md.digest()))
    }
  }

  /** `graft_warc_digest(payload[, httpBody])`: with `httpBody` (a
    * plan-time boolean literal) the digest covers only the HTTP entity
    * body — the spelling that matches digests carried by real crawl
    * archives for `application/http` response records.
    */
  def payloadDigest(payload: Array[Byte], httpBody: Boolean): UTF8String =
    if (httpBody) httpPayloadDigest(payload) else digest(payload)
}
