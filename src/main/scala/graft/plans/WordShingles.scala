package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass normalization + word-shingling helper shared by eval and
  * generated code. Kept as a standalone object so Janino can call it as
  * a static method from whole-stage codegen.
  */
object ShingleUtil {
  /** The one normalization every text-native expression shares — the
    * engine-parity contract with `Dedup.normText` and the DuckDB
    * oracles (`lower` + collapse whitespace + trim): the normalized
    * word array, leading-empty token already stripped. Lives in
    * exactly one place so shingle and paragraph blocking can never
    * drift apart.
    */
  def normWords(text: UTF8String): Array[String] = {
    // manual maximal-non-\s-run scan == lower(text).split("\\s+") with
    // the leading empty token stripped: Java-regex \s is the six ASCII
    // chars NormTextUtil.isWs tests, split never yields interior or
    // trailing empties, and the leading one only under leading
    // whitespace — the regex engine cost per document is what this
    // removes (same §1.2 rationale as graft_norm_text)
    val s = text.toLowerCase.toString
    val len = s.length
    val out = new java.util.ArrayList[String]()
    var i = 0
    while (i < len) {
      while (i < len && NormTextUtil.isWs(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !NormTextUtil.isWs(s.charAt(i))) i += 1
        out.add(s.substring(start, i))
      }
    }
    out.toArray(new Array[String](out.size))
  }

  /** Distinct space-joined word n-grams in first-occurrence order — THE
    * one shingle loop every shingle-derived expression builds on
    * ([[shingles]], [[ShingleMd5Util]], [[ShingleHashUtil]],
    * [[MinHashMd5Util]]): normalization and n-gram assembly live here
    * and only here, so the pinned bit-equivalences between the fused
    * forms can never drift apart.
    */
  def distinctShingles(text: UTF8String, n: Int): java.util.LinkedHashSet[String] = {
    val words = normWords(text)
    val m = words.length
    val seen = new java.util.LinkedHashSet[String](math.max(16, m * 2))
    if (m < n) return seen
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
      seen.add(sb.toString)
      i += 1
    }
    seen
  }

  /** Distinct space-joined n-grams of the lowercased, whitespace-
    * normalized words of `text` — the semantics of
    * `array_distinct(transform(sequence(...), concat_ws over
    * split(lower(trim(regexp_replace(text, "\s+", " "))), " ")))`, in
    * one linear pass instead of an interpreted lambda tree that
    * re-evaluates the split per element (quadratic at runtime, and
    * CollapseProject re-inlines the array into every consumer). The hot
    * inner loop of n-gram Jaccard and MinHash dedup (SURVEY.md §8).
    */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val seen = distinctShingles(text, n)
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }
}
