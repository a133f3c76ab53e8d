package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Shared eval/codegen helper (static-callable from Janino). */
object ParagraphUtil {
  /** Word windows of the lowercased, whitespace-normalized words of
    * `text`: width `n`, step `stride`, in one linear pass. `stride == n`
    * is disjoint paragraph blocking — the semantics of
    * `transform(sequence(0, ceil(size(words)/n)-1), i => concat_ws(" ",
    * slice(words, i*n+1, n)))` over `split(normText, " ")`. The HOF form
    * re-evaluates the split subtree per paragraph (interpreted lambdas),
    * making long documents quadratic; measured 33 s → 5 s at the 50×
    * ScaleProbe corpus when this expression replaced it. `stride < n`
    * yields overlapping context windows (the train-prep chunking that
    * keeps `n - stride` words of context across window boundaries).
    * Window count for `m > 0` words is `1 + ceil(max(0, m - n) /
    * stride)` — the last window may be short, and no window starts at
    * or past `m`.
    *
    * Whitespace-only/empty text yields one empty window — exactly what
    * `split('', ' ') = ['']` produces in the SQL formulation both
    * engines share.
    */
  def windows(text: UTF8String, n: Int, stride: Int): ArrayData = {
    val words = ShingleUtil.normWords(text) // shared parity contract
    val m = words.length
    if (m == 0) return new GenericArrayData(Array[Any](UTF8String.fromString("")))
    val nWin = 1 + (math.max(0, m - n) + stride - 1) / stride
    val out = new Array[Any](nWin)
    val sb = new java.lang.StringBuilder(64)
    var p = 0
    while (p < nWin) {
      sb.setLength(0)
      var k = p * stride
      val end = math.min(k + n, m)
      while (k < end) {
        if (k > p * stride) sb.append(' ')
        sb.append(words(k))
        k += 1
      }
      out(p) = UTF8String.fromString(sb.toString)
      p += 1
    }
    new GenericArrayData(out)
  }
}
