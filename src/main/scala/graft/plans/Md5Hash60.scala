package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** First 60 bits of md5(s) as a non-negative long — the fused form of
  * the portable-hash chain `conv(substring(md5(s), 1, 15), 16, 10)
  * :: long` that every cross-engine sketch here builds on (minhash
  * shingle hashes, simhash token hashes, the rolling fingerprint,
  * md5-bucket sampling). Bit-identical to the chain (the first 15 hex
  * characters ARE the top 60 bits of the digest, so the value is the
  * big-endian first 8 bytes shifted right 4) — DedupSpec pins the
  * equivalence property — but computed digest→arithmetic with no
  * 32-char hex string, no substring copy, and no base-16 parse per
  * element. That matters twice: in codegen'd projections it removes
  * three UTF8String allocations per shingle, and inside higher-order
  * lambdas (simhash's `transform`, the rolling hash's `aggregate` —
  * which evaluate INTERPRETED per element) it replaces a five-deep
  * interpreted expression walk with one static call.
  */
object Md5Util {
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  def top60(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    val v = ((digest(0) & 0xffL) << 56) | ((digest(1) & 0xffL) << 48) |
      ((digest(2) & 0xffL) << 40) | ((digest(3) & 0xffL) << 32) |
      ((digest(4) & 0xffL) << 24) | ((digest(5) & 0xffL) << 16) |
      ((digest(6) & 0xffL) << 8) | (digest(7) & 0xffL)
    v >>> 4
  }
}
