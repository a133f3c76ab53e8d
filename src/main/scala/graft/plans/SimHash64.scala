package graft.plans

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData

/** One-pass 64-bit SimHash (Charikar) of a token array — bit b of the
  * fingerprint is the sign of Σ_tokens (±1 from bit b of the token's
  * xxhash64). Bit-identical to the composable HOF formulation
  * (`aggregate`/`zip_with` over a 64-wide vote array), which runs
  * interpreted and allocates two 64-element arrays per token; this is
  * a fused loop with full codegen. Token hash = Spark's `xxhash64`
  * (XXH64, seed 42) so fingerprints match what any SQL-side
  * `xxhash64(token)` computes.
  */
object SimHashUtil {
  def simhash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
      var b = 0
      while (b < 64) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }
}
