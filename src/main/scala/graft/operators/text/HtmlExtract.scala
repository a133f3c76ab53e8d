package graft.operators.text

import scala.collection.mutable.{ArrayBuffer, StringBuilder => MutSB}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** HTML main-content extraction for crawl→training-data pipelines: a
  * from-scratch single-pass tokenizer, block segmentation, and
  * link-density boilerplate classification (the jusText/trafilatura
  * family of heuristics, re-expressed deterministically).
  *
  * Pipeline position: WARC `response` records (WarcIo) → this → language
  * ID / quality gates (TextAnalysis) → dedup. The whole path is per-row
  * executor work — no shuffle is introduced here; at 100 TB the operator
  * scales linearly with input partitions.
  *
  * Tokenizer facts it gets right (each one is a real-corpus failure mode
  * when skipped): comments (`<!-- -->`), doctype/processing
  * instructions, raw-text elements (`script`/`style` content emits NO
  * text), case-insensitive tag names, both attribute quote styles plus
  * bare values, void/self-closing elements, named + decimal + hex
  * character references incl. supplementary code points, and stray `<`
  * recovered as text.
  *
  * Block model: text accumulates into the nearest enclosing BLOCK-level
  * element; any block-level open or close flushes. Whitespace inside a
  * block is normalized with the HTML space set (space, tab, LF, FF, CR —
  * deliberately NOT U+000B, which is an ordinary character to HTML).
  * Each block carries its code-point length, the code points contributed
  * under an `<a>` ancestor (→ link density), and whether it sits inside
  * boilerplate containers (`nav`/`header`/`footer`/`aside`/`title`).
  * `content()` keeps blocks that are non-boilerplate, long enough, and
  * link-sparse — the classification jusText calls "good".
  */
object HtmlExtract extends Serializable {

  /** One segmented text block. `nChars`/`linkChars` count Unicode code
    * points of the normalized text (UTF-16-unit counts would misgrade
    * emoji-heavy crawl text).
    */
  final case class Block(blockIx: Int, tag: String, text: String,
      nChars: Int, linkChars: Int, boiler: Boolean) {
    def linkDensity: Double = if (nChars == 0) 0.0 else linkChars.toDouble / nChars
  }

  private val blockTags = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "dl",
    "dt", "dd", "table", "thead", "tbody", "tr", "td", "th", "blockquote",
    "pre", "article", "section", "header", "footer", "nav", "aside", "main",
    "figure", "figcaption", "title", "form", "hr", "body", "html", "head")

  private val boilerTags = Set("nav", "header", "footer", "aside", "title")

  private val rawTextTags = Set("script", "style")

  private val voidTags = Set("area", "base", "br", "col", "embed", "hr",
    "img", "input", "link", "meta", "param", "source", "track", "wbr")

  /** HTML4 Latin-1 entity names in code-point order 160 (nbsp) … 255
    * (yuml) — real crawl text is dense in `&eacute;`-class references,
    * which must become text, not survive verbatim into training data.
    */
  private val latin1Names = Vector(
    "nbsp", "iexcl", "cent", "pound", "curren", "yen", "brvbar", "sect",
    "uml", "copy", "ordf", "laquo", "not", "shy", "reg", "macr",
    "deg", "plusmn", "sup2", "sup3", "acute", "micro", "para", "middot",
    "cedil", "sup1", "ordm", "raquo", "frac14", "frac12", "frac34", "iquest",
    "Agrave", "Aacute", "Acirc", "Atilde", "Auml", "Aring", "AElig", "Ccedil",
    "Egrave", "Eacute", "Ecirc", "Euml", "Igrave", "Iacute", "Icirc", "Iuml",
    "ETH", "Ntilde", "Ograve", "Oacute", "Ocirc", "Otilde", "Ouml", "times",
    "Oslash", "Ugrave", "Uacute", "Ucirc", "Uuml", "Yacute", "THORN", "szlig",
    "agrave", "aacute", "acirc", "atilde", "auml", "aring", "aelig", "ccedil",
    "egrave", "eacute", "ecirc", "euml", "igrave", "iacute", "icirc", "iuml",
    "eth", "ntilde", "ograve", "oacute", "ocirc", "otilde", "ouml", "divide",
    "oslash", "ugrave", "uacute", "ucirc", "uuml", "yacute", "thorn", "yuml")

  /** Greek letters + common symbol/punctuation entities (HTML4 set). */
  private val symbolEntities: Map[String, Int] = Map(
    "OElig" -> 338, "oelig" -> 339, "Scaron" -> 352, "scaron" -> 353,
    "Yuml" -> 376, "fnof" -> 402, "circ" -> 710, "tilde" -> 732,
    "Alpha" -> 913, "Beta" -> 914, "Gamma" -> 915, "Delta" -> 916,
    "Epsilon" -> 917, "Zeta" -> 918, "Eta" -> 919, "Theta" -> 920,
    "Iota" -> 921, "Kappa" -> 922, "Lambda" -> 923, "Mu" -> 924,
    "Nu" -> 925, "Xi" -> 926, "Omicron" -> 927, "Pi" -> 928,
    "Rho" -> 929, "Sigma" -> 931, "Tau" -> 932, "Upsilon" -> 933,
    "Phi" -> 934, "Chi" -> 935, "Psi" -> 936, "Omega" -> 937,
    "alpha" -> 945, "beta" -> 946, "gamma" -> 947, "delta" -> 948,
    "epsilon" -> 949, "zeta" -> 950, "eta" -> 951, "theta" -> 952,
    "iota" -> 953, "kappa" -> 954, "lambda" -> 955, "mu" -> 956,
    "nu" -> 957, "xi" -> 958, "omicron" -> 959, "pi" -> 960,
    "rho" -> 961, "sigmaf" -> 962, "sigma" -> 963, "tau" -> 964,
    "upsilon" -> 965, "phi" -> 966, "chi" -> 967, "psi" -> 968,
    "omega" -> 969,
    "ensp" -> 8194, "emsp" -> 8195, "thinsp" -> 8201, "zwnj" -> 8204,
    "zwj" -> 8205, "lrm" -> 8206, "rlm" -> 8207, "ndash" -> 8211,
    "mdash" -> 8212, "lsquo" -> 8216, "rsquo" -> 8217, "sbquo" -> 8218,
    "ldquo" -> 8220, "rdquo" -> 8221, "bdquo" -> 8222, "dagger" -> 8224,
    "Dagger" -> 8225, "bull" -> 8226, "hellip" -> 8230, "permil" -> 8240,
    "prime" -> 8242, "Prime" -> 8243, "lsaquo" -> 8249, "rsaquo" -> 8250,
    "oline" -> 8254, "frasl" -> 8260, "euro" -> 8364, "trade" -> 8482,
    "larr" -> 8592, "uarr" -> 8593, "rarr" -> 8594, "darr" -> 8595,
    "harr" -> 8596, "minus" -> 8722, "lowast" -> 8727, "radic" -> 8730,
    "infin" -> 8734, "cap" -> 8745, "cup" -> 8746, "ne" -> 8800,
    "equiv" -> 8801, "le" -> 8804, "ge" -> 8805)

  private val namedEntities: Map[String, String] =
    Map("amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'") ++
      latin1Names.zipWithIndex.map { case (n, i) => n -> (160 + i).toChar.toString } ++
      symbolEntities.map { case (n, cp) => n -> cp.toChar.toString }

  /** Decode character references: named (core + Latin-1 + HTML4
    * symbol/Greek sets), `&#NNN;`, `&#xHH;`. Unknown or malformed
    * references pass through verbatim (browser behavior; crawl text is
    * full of bare ampersands). Numeric references in the surrogate
    * block decode to U+FFFD — a lone surrogate is ill-formed UTF-16
    * that would corrupt downstream UTF-8 encoding (WET payloads), and
    * U+FFFD is what browsers substitute.
    */
  def decodeEntities(s: String): String =
    graft.functions.CharRefs.decode(s, namedEntities)

  // ------------------------------------------------------------ tokenizer

  private sealed trait Tok
  private final case class StartTag(name: String, attrs: List[(String, String)],
      selfClosing: Boolean) extends Tok
  private final case class EndTag(name: String) extends Tok
  private final case class TextTok(raw: String) extends Tok

  private def isHtmlSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  private def tokenize(html: String): Vector[Tok] = {
    val toks = Vector.newBuilder[Tok]
    val n = html.length
    var i = 0
    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) { toks += TextTok(html.substring(i)); i = n }
      else {
        if (lt > i) toks += TextTok(html.substring(i, lt))
        if (html.startsWith("<!--", lt)) {
          val end = html.indexOf("-->", lt + 4)
          i = if (end < 0) n else end + 3
        } else if (lt + 1 < n && (html.charAt(lt + 1) == '!' || html.charAt(lt + 1) == '?')) {
          val end = html.indexOf('>', lt + 1)
          i = if (end < 0) n else end + 1
        } else if (lt + 1 < n && html.charAt(lt + 1) == '/') {
          var j = lt + 2
          while (j < n && html.charAt(j) != '>') j += 1
          val name = html.substring(lt + 2, math.min(j, n)).trim.toLowerCase
          if (name.nonEmpty) toks += EndTag(name)
          i = if (j < n) j + 1 else n
        } else if (lt + 1 < n && Character.isLetter(html.charAt(lt + 1))) {
          val (tok, after) = parseStartTag(html, lt)
          toks += tok
          i = after
          if (rawTextTags(tok.name) && !tok.selfClosing) {
            // raw-text: consume to the matching close tag, emit no text
            val close = indexOfIgnoreCase(html, "</" + tok.name, i)
            if (close < 0) i = n
            else {
              val gt = html.indexOf('>', close)
              toks += EndTag(tok.name)
              i = if (gt < 0) n else gt + 1
            }
          }
        } else { // stray '<'
          toks += TextTok("<")
          i = lt + 1
        }
      }
    }
    toks.result()
  }

  private def indexOfIgnoreCase(hay: String, needle: String, from: Int): Int = {
    var i = math.max(0, from)
    val limit = hay.length - needle.length
    while (i <= limit) {
      if (hay.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  private def parseStartTag(html: String, lt: Int): (StartTag, Int) = {
    val n = html.length
    var i = lt + 1
    val nameStart = i
    while (i < n && (Character.isLetterOrDigit(html.charAt(i)) || html.charAt(i) == '-')) i += 1
    val name = html.substring(nameStart, i).toLowerCase
    val attrs = List.newBuilder[(String, String)]
    var selfClosing = false
    var done = false
    while (!done && i < n) {
      while (i < n && isHtmlSpace(html.charAt(i))) i += 1
      if (i >= n) done = true
      else html.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          if (i + 1 < n && html.charAt(i + 1) == '>') { selfClosing = true; i += 2; done = true }
          else i += 1
        case _ =>
          val as = i
          while (i < n && !isHtmlSpace(html.charAt(i)) &&
            html.charAt(i) != '=' && html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
          val aname = html.substring(as, i).toLowerCase
          while (i < n && isHtmlSpace(html.charAt(i))) i += 1
          var avalue = ""
          if (i < n && html.charAt(i) == '=') {
            i += 1
            while (i < n && isHtmlSpace(html.charAt(i))) i += 1
            if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
              val q = html.charAt(i); i += 1
              val vs = i
              while (i < n && html.charAt(i) != q) i += 1
              avalue = html.substring(vs, math.min(i, n))
              if (i < n) i += 1
            } else {
              val vs = i
              while (i < n && !isHtmlSpace(html.charAt(i)) && html.charAt(i) != '>') i += 1
              avalue = html.substring(vs, i)
            }
          }
          if (aname.nonEmpty) attrs += ((aname, decodeEntities(avalue)))
      }
    }
    (StartTag(name, attrs.result(), selfClosing || voidTags(name)), i)
  }

  // --------------------------------------------------------------- blocks

  /** Collapse HTML whitespace runs to single spaces and trim. */
  def normalizeSpace(s: String): String = {
    val out = new MutSB(s.length)
    var pendingSpace = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isHtmlSpace(c)) pendingSpace = out.nonEmpty
      else {
        if (pendingSpace) { out.append(' '); pendingSpace = false }
        out.append(c)
      }
      i += 1
    }
    out.toString
  }

  /** Segment `html` into normalized text blocks (see class doc). */
  def blocks(html: String): Vector[Block] = {
    val out = ArrayBuffer.empty[Block]
    val text = new MutSB
    val linkText = new MutSB
    var blockTag = "body"
    var firstTextBoiler = false
    var sawText = false
    // Anchor state is a boolean, not a depth: a new <a> implicitly
    // closes the previous one, and ANY block-level open/close closes an
    // open anchor. Crawl HTML is full of never-closed <a> tags; without
    // the implicit close, one of them marks every later block as pure
    // link text and content() silently drops the whole rest of the
    // document. (Deliberate divergence from the browser's formatting-
    // element reconstruction, which would carry the anchor across
    // blocks — for link-density grading a bounded blast radius wins.)
    var inAnchor = false
    var boilerDepth = 0
    val tagStack = ArrayBuffer.empty[String]

    def flush(): Unit = {
      val t = normalizeSpace(text.toString)
      if (t.nonEmpty) {
        val lk = normalizeSpace(linkText.toString)
        out += Block(out.length, blockTag, t,
          t.codePointCount(0, t.length), lk.codePointCount(0, lk.length), firstTextBoiler)
      }
      text.clear(); linkText.clear(); sawText = false; firstTextBoiler = false
    }

    tokenize(html).foreach {
      case TextTok(raw) =>
        val dec = decodeEntities(raw)
        if (dec.exists(c => !isHtmlSpace(c)) && !sawText) {
          sawText = true; firstTextBoiler = boilerDepth > 0
        }
        text.append(dec)
        if (inAnchor) linkText.append(dec)
      case StartTag(name, _, selfClosing) =>
        if (name == "br") { text.append('\n'); if (inAnchor) linkText.append('\n') }
        else if (blockTags(name)) {
          flush()
          inAnchor = false
          if (!selfClosing) {
            tagStack += name
            blockTag = name
            if (boilerTags(name)) boilerDepth += 1
          }
        } else if (name == "a") inAnchor = !selfClosing
      case EndTag(name) =>
        if (blockTags(name)) {
          flush()
          inAnchor = false
          val ix = tagStack.lastIndexOf(name)
          if (ix >= 0) {
            // close this element and anything left open inside it
            var j = tagStack.length - 1
            while (j >= ix) {
              if (boilerTags(tagStack(j))) boilerDepth -= 1
              tagStack.remove(j); j -= 1
            }
          }
          blockTag = if (tagStack.nonEmpty) tagStack.last else "body"
        } else if (name == "a") inAnchor = false
    }
    flush()
    out.toVector
  }

  /** All visible text (boilerplate included), blocks joined by `\n`. */
  def extractText(html: String): String = blocks(html).map(_.text).mkString("\n")

  /** Main-content blocks: non-boilerplate, at least `minChars` code
    * points, link density at most `maxLinkDensity`.
    */
  def content(html: String, minChars: Int = 25, maxLinkDensity: Double = 0.33): Vector[Block] =
    blocks(html).filter(b => !b.boiler && b.nChars >= minChars && b.linkDensity <= maxLinkDensity)

  /** `(href, normalized anchor text)` for every `<a href=…>` in document
    * order. Nested block tags inside the anchor do not end it; a new
    * `<a>` implicitly closes the previous one (browser behavior).
    */
  def links(html: String): Vector[(String, String)] = {
    val out = ArrayBuffer.empty[(String, String)]
    var href: Option[String] = None
    val anchor = new MutSB
    def close(): Unit = {
      href.foreach(h => out += ((h, normalizeSpace(anchor.toString))))
      href = None; anchor.clear()
    }
    tokenize(html).foreach {
      case StartTag("a", attrs, selfClosing) =>
        close()
        if (!selfClosing) href = attrs.find(_._1 == "href").map(_._2)
      case EndTag("a") => close()
      case TextTok(raw) if href.isDefined => anchor.append(decodeEntities(raw))
      case _ => ()
    }
    close()
    out.toVector
  }

  /** First `<title>` text, if any. */
  def title(html: String): Option[String] =
    blocks(html).find(_.tag == "title").map(_.text)

  /** Every head-section signal a crawl pipeline reads, in one place:
    * the root `lang` claim, the `<title>` text, `(name-or-property,
    * content)` meta pairs (description/robots/OpenGraph), and the
    * `rel=canonical` href — the site-published dedup key.
    */
  final case class HeadSignals(lang: String, title: String,
      meta: Vector[(String, String)], canonical: String)

  /** All head signals in ONE tokenizer pass over the head slice
    * (everything before `</head>`, or the whole document when the tag
    * is missing) — per-row crawl metadata must not cost four
    * full-document parses. Keys lowercased; attribute values arrive
    * entity-decoded from the tokenizer.
    */
  def headSignals(html: String): HeadSignals = {
    val cut = indexOfIgnoreCase(html, "</head", 0)
    val head = if (cut >= 0) html.substring(0, cut) else html
    var lang = ""
    var canonical = ""
    val meta = Vector.newBuilder[(String, String)]
    val titleSb = new MutSB
    var inTitle = false
    var titleDone = false
    tokenize(head).foreach {
      case StartTag("html", attrs, _) =>
        if (lang.isEmpty)
          attrs.collectFirst { case ("lang", v) => v }.foreach(lang = _)
      case StartTag("meta", attrs, _) =>
        val k = attrs.collectFirst { case (n, v) if n == "name" || n == "property" => v }
        val c = attrs.collectFirst { case ("content", v) => v }
        (k, c) match {
          case (Some(kk), Some(cc)) => meta += ((kk.toLowerCase, cc))
          case _ => ()
        }
      case StartTag("link", attrs, _)
          if canonical.isEmpty &&
            attrs.exists(a => a._1 == "rel" && a._2.equalsIgnoreCase("canonical")) =>
        attrs.collectFirst { case ("href", v) => v }.foreach(canonical = _)
      case StartTag("title", _, selfClosing) =>
        if (!titleDone && !selfClosing) inTitle = true
      case EndTag("title") =>
        if (inTitle) { inTitle = false; titleDone = true }
      case TextTok(raw) if inTitle => titleSb.append(decodeEntities(raw))
      case _ => ()
    }
    HeadSignals(lang, normalizeSpace(titleSb.toString), meta.result(), canonical)
  }

  /** Meta `(name-or-property, content)` pairs; see [[headSignals]]. */
  def metaTags(html: String): Vector[(String, String)] = headSignals(html).meta

  /** `<link rel=canonical href=…>`; see [[headSignals]]. */
  def canonicalUrl(html: String): Option[String] = {
    val c = headSignals(html).canonical
    if (c.isEmpty) None else Some(c)
  }

  /** The root `<html lang=…>` attribute; see [[headSignals]]. */
  def htmlLang(html: String): Option[String] = {
    val l = headSignals(html).lang
    if (l.isEmpty) None else Some(l)
  }

  // ---------------------------------------------------------------- Spark

  /** Explode each document's HTML into its kept content blocks:
    * `(id, block_ix, tag, text, n_chars, link_chars)`. Pure per-row
    * work over the input's partitions, no shuffle added.
    */
  def contentBlocksDf(df: DataFrame, idCol: String, htmlCol: String,
      minChars: Int = 25, maxLinkDensity: Double = 0.33): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val src: Dataset[(Long, String)] =
      df.select(col(idCol).cast("long"), col(htmlCol)).as[(Long, String)]
    src.flatMap { case (id, html) =>
      if (html == null) Iterator.empty
      else content(html, minChars, maxLinkDensity).iterator
        .map(b => (id, b.blockIx, b.tag, b.text, b.nChars, b.linkChars))
    }.toDF(idCol, "block_ix", "tag", "text", "n_chars", "link_chars")
  }

  /** Explode `(id, href, anchor)` link tuples per document. */
  def linksDf(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val src = df.select(col(idCol).cast("long"), col(htmlCol)).as[(Long, String)]
    src.flatMap { case (id, html) =>
      if (html == null) Iterator.empty
      else links(html).iterator.zipWithIndex.map { case ((h, a), ix) => (id, ix, h, a) }
    }.toDF(idCol, "link_ix", "href", "anchor")
  }
}
