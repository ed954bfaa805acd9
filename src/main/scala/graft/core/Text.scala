package graft.core

import scala.collection.mutable.ArrayBuffer

/** Deterministic text kernel: tokenizer, token-replacement rules, and the
  * frozen HTML→text extractor. The byte-identical contract (BASELINE.json
  * input_hint) lives here — every function is a hand-rolled scanner with no
  * locale or regex-engine dependence.
  *
  * Reference semantics: upstream carmen `lib/util/token.js` (replacement
  * rules) and `lib/util/termops.js` `tokenize` [U]; extraction spec frozen in
  * FIXTURES.md §1 (reference tree empty at survey time, SURVEY.md §0).
  */
object Text {

  // ------------------------------------------------------------------
  // B2: tokenize — lowercase, strip punctuation, collapse ws, split
  // ------------------------------------------------------------------

  /** ASCII-deterministic normalization: letters/digits kept (ASCII letters
    * lowercased by +32; non-ASCII letters/digits kept via Character calls,
    * stable on a fixed JVM), everything else is a separator. */
  def tokenize(s: String): Array[String] = {
    if (s == null) return Array.empty
    val out = new ArrayBuffer[String](8)
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val keep: Char =
        if (c >= 'a' && c <= 'z') c
        else if (c >= 'A' && c <= 'Z') (c + 32).toChar
        else if (c >= '0' && c <= '9') c
        else if (c > 127 && Character.isLetterOrDigit(c)) Character.toLowerCase(c)
        else 0
      if (keep != 0) sb.append(keep)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    out.toArray
  }

  def normalize(s: String): String = tokenize(s).mkString(" ")

  // ------------------------------------------------------------------
  // B1: token replacement rules (abbreviation folding)
  // ------------------------------------------------------------------

  /** Global token replacements applied to both index text and query text
    * (upstream `lib/util/token.js` ships a large table; we freeze a
    * representative deterministic subset — per-index custom tables can be
    * layered by callers). Applied token-wise after [[tokenize]]. */
  val TokenRules: Map[String, String] = Map(
    "street" -> "st", "avenue" -> "ave", "boulevard" -> "blvd",
    "drive" -> "dr", "lane" -> "ln", "road" -> "rd", "court" -> "ct",
    "place" -> "pl", "square" -> "sq", "highway" -> "hwy",
    "north" -> "n", "south" -> "s", "east" -> "e", "west" -> "w",
    "northeast" -> "ne", "northwest" -> "nw",
    "southeast" -> "se", "southwest" -> "sw",
    "saint" -> "st", "fort" -> "ft", "mount" -> "mt", "mountain" -> "mtn",
  )

  def applyTokenRules(tokens: Array[String]): Array[String] =
    tokens.map(t => TokenRules.getOrElse(t, t))

  /** tokenize + replace + rejoin: the canonical phrase form used for both
    * index phrases and query subqueries. */
  def phraseForm(s: String): String = applyTokenRules(tokenize(s)).mkString(" ")

  // ------------------------------------------------------------------
  // B7: HTML -> text extraction (frozen spec, FIXTURES.md §1)
  // ------------------------------------------------------------------

  private val BlockTags = Set(
    "p", "div", "br", "li", "h1", "h2", "h3", "h4", "h5", "h6", "tr", "title")

  /** Frozen extractor:
    *  - drop <script>/<style> subtrees entirely
    *  - block tags -> "\n", all other tags -> ""
    *  - decode &amp; &lt; &gt; &quot; and numeric &#NN; / &#xNN;
    *  - collapse runs of spaces/tabs to one space
    *  - collapse >=2 newlines to one
    *  - trim; UTF-8 in/out
    * Hand-rolled single-pass scanner; no regex.
    */
  def extractText(html: Array[Byte]): String = {
    val s = new String(html, java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    var skipUntil: String = null // closing tag name we're skipping to
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        // find tag end
        var j = i + 1
        while (j < n && s.charAt(j) != '>') j += 1
        val inner = s.substring(i + 1, math.min(j, n))
        val isClose = inner.startsWith("/")
        val rawName = (if (isClose) inner.substring(1) else inner)
        var k = 0
        while (k < rawName.length && isNameChar(rawName.charAt(k))) k += 1
        val name = rawName.substring(0, k).toLowerCase(java.util.Locale.ROOT)
        if (skipUntil != null) {
          if (isClose && name == skipUntil) skipUntil = null
        } else if (!isClose && (name == "script" || name == "style") &&
                   !inner.endsWith("/")) {
          skipUntil = name
        } else if (BlockTags.contains(name)) {
          sb.append('\n')
        } // inline tags: append nothing
        i = j + 1
      } else if (skipUntil != null) {
        i += 1
      } else if (c == '&') {
        val (decoded, next) = decodeEntity(s, i)
        sb.append(decoded)
        i = next
      } else {
        sb.append(c)
        i += 1
      }
    }
    collapse(sb.toString)
  }

  @inline private def isNameChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** Decode one entity starting at s(i)=='&'. Returns (text, nextIndex).
    * Unknown entities pass through literally. */
  private def decodeEntity(s: String, i: Int): (String, Int) = {
    val n = s.length
    var j = i + 1
    val max = math.min(n, i + 10)
    while (j < max && s.charAt(j) != ';') j += 1
    if (j >= max || s.charAt(j) != ';') return ("&", i + 1)
    val body = s.substring(i + 1, j)
    val out = body match {
      case "amp" => "&"
      case "lt" => "<"
      case "gt" => ">"
      case "quot" => "\""
      case _ if body.startsWith("#x") || body.startsWith("#X") =>
        try String.valueOf(Character.toChars(Integer.parseInt(body.substring(2), 16)))
        catch { case _: Exception => null }
      case _ if body.startsWith("#") =>
        try String.valueOf(Character.toChars(Integer.parseInt(body.substring(1))))
        catch { case _: Exception => null }
      case _ => null
    }
    if (out == null) ("&", i + 1) else (out, j + 1)
  }

  /** Whitespace collapse per the frozen spec. */
  private def collapse(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    var pendingNl = false
    var pendingSp = false
    var emitted = false
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\n' || c == '\r') pendingNl = true
      else if (c == ' ' || c == '\t') pendingSp = true
      else {
        if (emitted) {
          if (pendingNl) sb.append('\n')
          else if (pendingSp) sb.append(' ')
        }
        pendingNl = false; pendingSp = false
        sb.append(c)
        emitted = true
      }
      i += 1
    }
    sb.toString
  }

  // ------------------------------------------------------------------
  // B3/B4: phrase generation & subquery windows
  // ------------------------------------------------------------------

  /** Feature text "Name One, Synonym" -> canonical phrase forms. */
  def indexablePhrases(text: String): Array[String] = {
    if (text == null) return Array.empty
    text.split(',').iterator.map(phraseForm).filter(_.nonEmpty).distinct.toArray
  }

  /** All proper prefixes of a phrase's token sequence (autocomplete degens),
    * including the full phrase. "foo bar baz" -> ["foo","foo bar","foo bar baz"]. */
  def prefixPhrases(phrase: String): Array[String] = {
    val toks = phrase.split(' ')
    (1 to toks.length).map(k => toks.take(k).mkString(" ")).toArray
  }
}
