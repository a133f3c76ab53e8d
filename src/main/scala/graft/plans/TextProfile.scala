package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text profiling (SURVEY.md §8: language ID, quality score,
  * token counts, fingerprint) — the fused form of
  * [[graft.operators.text.TextAnalysis]]'s Column formulas, which
  * re-evaluate the tokenize subtree once per referencing output column
  * (projection collapse re-inlines it, and HOF lambdas run
  * interpreted). Semantics are bit-identical to the composable forms —
  * the DuckDB oracle for `text_profile` covers both.
  */
object TextProfileUtil {

  private val punctSet = ".,;:!?'\"()[]{}-".toSet
  private val md5Local = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  private val profiles: Array[(String, Set[String])] = Array(
    "en" -> Set("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Set("le", "la", "les", "et", "est", "un", "une", "que"),
    "es" -> Set("el", "la", "los", "y", "es", "un", "una", "que"),
    "zh" -> Set("的", "是", "了", "在", "我", "有", "和", "不")
  )

  // floor(x*1e6 + 0.5)/1e6, NOT BigDecimal HALF_UP: engines disagree
  // on ties because they round different representations (BigDecimal
  // sees the double's exact decimal expansion; DuckDB's round works on
  // the scaled product). The explicit floor formula is the same two
  // IEEE ops everywhere, so a quality score landing exactly on a
  // half-micro boundary (seed-99 fuzz: 0.7388125) quantizes
  // identically. Inputs here are non-negative, where floor(x+0.5) IS
  // half-up.
  private def round6(x: Double): Double =
    math.floor(x * 1e6 + 0.5) / 1e6

  def compute(text: UTF8String): InternalRow = {
    val raw = text.toString
    val norm = NormText.normalize(raw)
    val words = norm.split(" ", -1) // split("") == [""], like Spark's split

    // n_tokens: 0 for space-trim-empty raw text (TextAnalysis.tokenCount)
    val nTokens = if (NormText.spaceTrimEmpty(raw)) 0 else words.length

    // manual code-point scan == subwordRe ("[a-z]+|[0-9]+|[^a-z0-9\s]")
    // over the lowercased text: alternation order means a letter run
    // counts once, a digit run counts once, and any OTHER non-\s CODE
    // POINT counts once (Java regex character classes match code
    // points — an astral emoji is ONE subword, so the scan advances by
    // Character.charCount). The regex engine per document is what this
    // removes; the pinned composable subwordCount keeps the regex form.
    val lowerRaw = text.toLowerCase.toString
    var nSubwords = 0
    locally {
      val len = lowerRaw.length
      var i = 0
      while (i < len) {
        val cp = lowerRaw.codePointAt(i)
        if (cp >= 'a' && cp <= 'z') {
          nSubwords += 1
          while (i < len && { val c = lowerRaw.charAt(i); c >= 'a' && c <= 'z' }) i += 1
        } else if (cp >= '0' && cp <= '9') {
          nSubwords += 1
          while (i < len && { val c = lowerRaw.charAt(i); c >= '0' && c <= '9' }) i += 1
        } else {
          // \s in the negated class is Java-regex whitespace: the six
          // ASCII chars (NormTextUtil.isWs)
          if (!(cp < 128 && NormTextUtil.isWs(cp.toChar))) nSubwords += 1
          i += Character.charCount(cp)
        }
      }
    }

    val nChars = text.numChars()
    var punct = 0
    raw.foreach(ch => if (punctSet.contains(ch)) punct += 1)
    val punctRatio = if (nChars == 0) 0.0 else punct.toDouble / nChars.toDouble

    var sumLen = 0L
    words.foreach(w => sumLen += w.codePointCount(0, w.length))
    val meanWordLen = if (words.length == 0) 0.0 else sumLen.toDouble / words.length

    val lenScore = math.min(nChars.toDouble / 500.0, 1.0)
    val mwlScore = if (meanWordLen >= 3 && meanWordLen <= 10) 1.0 else 0.5
    val quality = round6(
      lenScore * 0.4 + (1.0 - math.min(punctRatio * 5.0, 1.0)) * 0.3 + mwlScore * 0.3)

    var best = 0
    var lang = "und"
    profiles.foreach { case (l, set) =>
      var score = 0
      words.foreach(w => if (set.contains(w)) score += 1)
      if (score > best) { best = score; lang = l } // first profile wins ties
    }

    // thread-local digest (the Md5Util pattern): getInstance("MD5")
    // allocated a provider lookup + digest object per ROW
    val md = md5Local.get()
    md.reset()
    val digest = md.digest(norm.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = new StringBuilder(32)
    digest.foreach(b => hex.append(f"${b & 0xff}%02x"))

    new GenericInternalRow(Array[Any](
      nTokens, nSubwords, nChars,
      round6(punctRatio), round6(meanWordLen), quality,
      UTF8String.fromString(lang), UTF8String.fromString(hex.toString)))
  }

  private val memo = new RowMemo(compute)

  def computeMemo(text: UTF8String): InternalRow = memo(text)

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_subwords", IntegerType, nullable = false),
    StructField("n_chars_m", IntegerType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("quality", DoubleType, nullable = false),
    StructField("lang_pred", StringType, nullable = false),
    StructField("fingerprint", StringType, nullable = false)
  ))
}
