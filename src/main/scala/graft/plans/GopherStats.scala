package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass raw counts behind the Gopher rule gate (Rae et al. 2021,
  * "Scaling Language Models", appendix A1.1 quality heuristics) — the
  * document-level signals every rule thresholds on, as EXACT integers
  * so the gate itself is pure integer comparisons downstream (no
  * float, no rounding boundary an engine pair could disagree on):
  *
  *   n_words       whitespace tokens of the normalized text (0 when
  *                 space-trim-empty, like TextAnalysis.tokenCount)
  *   sum_word_len  Σ code-point length of those tokens
  *   n_sym         '#', '...' and '…' occurrences in the raw text
  *                 (non-overlapping left-to-right scan)
  *   n_lines       '\n'-split line count of the raw text
  *   n_bullet      lines whose first non-space char is -, * or •
  *   n_ellipsis    lines whose space-trimmed tail ends in ... or …
  *   n_alpha_words tokens containing at least one a-z letter
  *   n_req_stop    DISTINCT hits among the 8 Gopher required stopwords
  *                 (the, be, to, of, and, that, have, with)
  *
  * Fused for the same reason as [[TextProfileUtil]]: the composable Column
  * forms re-tokenize once per output column. Every count is
  * reproducible in ANSI SQL over list ops, so the DuckDB oracle covers
  * the whole gate.
  */
object GopherStatsUtil {

  private val symRe = Pattern.compile("#|\\.{3}|…")
  private val requiredStop: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  def compute(text: UTF8String): InternalRow = {
    val raw = text.toString
    val norm = NormText.normalize(raw)
    val words = norm.split(" ", -1)
    val nWords = if (NormText.spaceTrimEmpty(raw)) 0L else words.length.toLong

    var sumLen = 0L
    var nAlpha = 0L
    val reqHits = new Array[Boolean](requiredStop.length)
    if (nWords > 0) words.foreach { w =>
      sumLen += w.codePointCount(0, w.length)
      var hasAlpha = false
      var i = 0
      while (i < w.length && !hasAlpha) {
        val ch = w.charAt(i)
        if (ch >= 'a' && ch <= 'z') hasAlpha = true
        i += 1
      }
      if (hasAlpha) nAlpha += 1
      var j = 0
      while (j < requiredStop.length) {
        if (!reqHits(j) && w == requiredStop(j)) reqHits(j) = true
        j += 1
      }
    }
    val nReqStop = reqHits.count(identity).toLong

    var nSym = 0L
    val m = symRe.matcher(raw)
    while (m.find()) nSym += 1

    // '\n'-split like split(c, "\n") with limit -1: trailing empty kept
    val lines = raw.split("\n", -1)
    val nLines = lines.length.toLong
    var nBullet = 0L
    var nEllipsis = 0L
    lines.foreach { line =>
      var lo = 0
      while (lo < line.length && line.charAt(lo) == ' ') lo += 1
      if (lo < line.length) {
        val ch = line.charAt(lo)
        if (ch == '-' || ch == '*' || ch == '•') nBullet += 1
      }
      var hi = line.length
      while (hi > 0 && line.charAt(hi - 1) == ' ') hi -= 1
      val t = line.substring(0, hi)
      if (t.endsWith("...") || t.endsWith("…")) nEllipsis += 1
    }

    new GenericInternalRow(Array[Any](
      nWords, sumLen, nSym, nLines, nBullet, nEllipsis, nAlpha, nReqStop))
  }

  private val memo = new RowMemo(compute)

  def computeMemo(text: UTF8String): InternalRow = memo(text)

  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("sum_word_len", LongType, nullable = false),
    StructField("n_sym", LongType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("n_bullet", LongType, nullable = false),
    StructField("n_ellipsis", LongType, nullable = false),
    StructField("n_alpha_words", LongType, nullable = false),
    StructField("n_req_stop", LongType, nullable = false)
  ))
}
