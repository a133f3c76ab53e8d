package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** The single source of truth for "Spark-exact normText semantics"
  * shared by the native text kernels ([[TextProfileUtil]],
  * [[GopherStatsUtil]]): `lower(trim(regexp_replace(text, "\s+", " ")))`
  * with Java-regex whitespace (NB: Java `\s` includes U+000B vertical
  * tab, RE2's does not — DuckDB oracles therefore collapse
  * `[\s\x0b]+`), space-only trim, ICU lowercase.
  */
private[plans] object NormText {

  def normalize(raw: String): String = {
    val collapsed = raw.replaceAll("\\s+", " ")
    var lo = 0
    var hi = collapsed.length
    while (lo < hi && collapsed.charAt(lo) == ' ') lo += 1
    while (hi > lo && collapsed.charAt(hi - 1) == ' ') hi -= 1
    UTF8String.fromString(collapsed.substring(lo, hi)).toLowerCase.toString
  }

  /** True when the raw text is empty after space-only trim — the case
    * `TextAnalysis.tokenCount` pins to 0 tokens.
    */
  def spaceTrimEmpty(raw: String): Boolean = {
    var lo = 0
    var hi = raw.length
    while (lo < hi && raw.charAt(lo) == ' ') lo += 1
    while (hi > lo && raw.charAt(hi - 1) == ' ') hi -= 1
    lo == hi
  }
}

/** One-pass engine twin of the SQL chain
  * `lower(trim(regexp_replace(text, "\s+", " ")))` — Java-regex
  * whitespace is the six ASCII chars [ \t\n\x0B\f\r], so the collapse
  * is a plain char scan; trim is space-only (Spark's `trim`); the
  * lowercase is the same UTF8String ICU path `lower()` runs. The
  * regex engine cost on the full document text is what this removes —
  * every exact-dedup surface normalizes every document through it.
  * DedupSpec pins bit-equivalence against the SQL chain.
  */
object NormTextUtil {
  /** Java-regex `\\s`: exactly the six ASCII whitespace chars — shared
    * with [[ShingleUtil.normWords]]'s manual tokenizer scan.
    */
  private[plans] def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def norm(t: UTF8String): UTF8String = {
    val s = t.toString
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var inRun = false
    while (i < n) {
      val c = s.charAt(i)
      if (isWs(c)) inRun = true
      else {
        // a run becomes ONE space, but not at the start (trim-left)
        if (inRun && sb.length > 0) sb.append(' ')
        inRun = false
        sb.append(c)
      }
      i += 1
    }
    // a trailing run appends nothing (trim-right)
    UTF8String.fromString(sb.toString).toLowerCase
  }
}

/** Thread-local (input, result) memo for pure one-pass text
  * expressions: plans expand a struct-returning expression into one
  * column per field and projection collapse may re-inline it once per
  * field — the memo keeps the cost at one pass per row regardless of
  * plan shape.
  */
private[plans] final class RowMemo(f: UTF8String => InternalRow) {
  private val memo = new ThreadLocal[(UTF8String, InternalRow)]

  def apply(text: UTF8String): InternalRow = {
    val last = memo.get()
    if (last != null && last._1.equals(text)) last._2
    else {
      val r = f(text)
      memo.set((text.clone(), r))
      r
    }
  }
}
