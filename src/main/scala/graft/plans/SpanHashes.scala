package graft.plans

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Positional n-gram hashes: element `i` is `xxhash64` (seed 42, Spark's
  * default — same contract as [[ShingleHashUtil]]) of the n-word window
  * starting at word `i` of the normalized text. Unlike
  * `graft_shingle_hashes` this keeps EVERY window in word order (no
  * distinct), because the consumer — duplicated-span detection — needs
  * the position to map a corpus-frequent window back to the character of
  * the document it sits in. Only full windows are emitted: a document
  * shorter than `n` words yields an empty array (it cannot contain an
  * n-word duplicated span; whole-document duplication is exact dedup's
  * job).
  *
  * Same scan-stage fusion rationale as the other native text
  * expressions: the explode that follows moves 8-byte longs, never the
  * window strings.
  */
object SpanHashUtil {
  def spanHashes(text: UTF8String, n: Int): ArrayData = {
    val words = ShingleUtil.normWords(text)
    val m = words.length
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= m - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(words(i + k))
        k += 1
      }
      val u = UTF8String.fromString(sb.toString)
      out(i) = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }
}
