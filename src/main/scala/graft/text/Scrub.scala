package graft.text

import java.util.regex.{Matcher, Pattern}

/** Sub-language scrubbing + PII/toxicity scrubbing.
  *
  * Semantics re-expressed from the reference's scrubbers (behavior, not
  * code): `/root/reference/data/the_stack/create_stack_snippets.py:16-117`.
  * Output must be byte-exact vs the reference (north rule), so every scanner
  * here mirrors the reference's observable behavior including its error
  * cases. PII scrub (G5) is graft-specific: precompiled regexes, applied in
  * a fixed documented order so results are deterministic.
  */
object Scrub {

  final class MalformedInputException(msg: String) extends RuntimeException(msg)

  /** Quote-aware scan for the '>' ending a tag that opens at `start`
    * (index just past "<tagname"). Returns -1 if the tag never closes.
    * Ref behavior: `create_stack_snippets.py:16-30`.
    */
  private def findTagEnd(text: String, start: Int): Int = {
    var quote: Char = 0
    var i = start
    val n = text.length
    while (i < n) {
      val ch = text.charAt(i)
      if (quote != 0) {
        if (ch == quote) quote = 0
      } else {
        if (ch == '"' || ch == '\'') quote = ch
        else if (ch == '>') return i
      }
      i += 1
    }
    -1
  }

  /** Remove the *contents* of `<tagName ...>...</tagName>` blocks, keeping
    * both tags. Case-insensitive tag match; an open token immediately
    * followed by an alphanumeric (e.g. `<scripted`) is not a match.
    * Throws MalformedInputException on an unclosed open tag or a missing
    * close tag — same contract as the reference
    * (`create_stack_snippets.py:58-65`).
    * Returns (scrubbedText, removedAny).
    */
  def stripRawTextTag(text: String, tagName: String, fileId: String = "unknown"): (String, Boolean) = {
    // per-char lowercase: guaranteed 1:1 with `text` (String.toLowerCase can
    // change length, e.g. U+0130, desyncing indices) and locale-free (the
    // Turkish-I problem would silently skip <SCRIPT> tags on executors with
    // a tr default locale)
    val lower = {
      val arr = new Array[Char](text.length)
      var i = 0
      while (i < text.length) { arr(i) = Character.toLowerCase(text.charAt(i)); i += 1 }
      new String(arr)
    }
    val openToken = "<" + tagName
    val closeToken = "</" + tagName + ">"
    val out = new java.lang.StringBuilder(text.length)
    var i = 0
    var removedAny = false
    var done = false
    while (!done) {
      val idx = lower.indexOf(openToken, i)
      if (idx == -1) {
        out.append(text, i, text.length)
        done = true
      } else {
        val after = idx + openToken.length
        // Python: lower[after].isalnum() — Unicode alnum on the lowercased text
        if (after < lower.length && PyText.isAlnum(lower.codePointAt(after))) {
          i = after
        } else {
          out.append(text, i, idx)
          val tagEnd = findTagEnd(text, after)
          if (tagEnd == -1)
            throw new MalformedInputException(s"Unclosed <$tagName> tag in file $fileId")
          out.append(text, idx, tagEnd + 1)
          val closeIdx = lower.indexOf(closeToken, tagEnd + 1)
          if (closeIdx == -1)
            throw new MalformedInputException(s"Missing </$tagName> tag in file $fileId")
          out.append(text, closeIdx, closeIdx + closeToken.length)
          i = closeIdx + closeToken.length
          removedAny = true
        }
      }
    }
    (out.toString, removedAny)
  }

  private val fencePattern = Pattern.compile("(?s)```.*?```")

  /** Count of occurrences of "```" (non-overlapping), Python `str.count`. */
  def fenceCount(s: String): Int = {
    var c = 0; var i = s.indexOf("```")
    while (i >= 0) { c += 1; i = s.indexOf("```", i + 3) }
    c
  }

  /** Remove the interior of ``` fences (keep the fences). Throws on an odd
    * fence count. Ref behavior: `create_stack_snippets.py:82-99`.
    */
  def stripMarkdownFences(text: String, fileId: String = "unknown"): String = {
    if (fenceCount(text) % 2 != 0)
      throw new MalformedInputException(s"Uneven code fences in file $fileId")
    val m: Matcher = fencePattern.matcher(text)
    val sb = new java.lang.StringBuilder(text.length)
    while (m.find()) {
      val g = m.group(0)
      val open = g.indexOf("```")
      val close = g.lastIndexOf("```")
      val repl =
        if (open == -1 || close == -1 || close == open) g
        else g.substring(0, open + 3) + g.substring(close)
      m.appendReplacement(sb, Matcher.quoteReplacement(repl))
    }
    m.appendTail(sb)
    sb.toString
  }

  private val htmlBlockPattern = Pattern.compile("(?is)<html\\b.*?>.*?</html>")

  /** Delete whole `<html ...> ... </html>` blocks (SQL files).
    * Ref behavior: `create_stack_snippets.py:101-104`.
    */
  def stripHtmlBlocks(text: String): String =
    htmlBlockPattern.matcher(text).replaceAll("")

  /** Full sub-language scrub dispatch, per source language.
    * Ref behavior: `create_stack_snippets.py:74-117`.
    */
  def removeSubLanguage(text: String, language: String, fileId: String = "unknown"): String = {
    if (text == null) return null
    var s = text
    language match {
      case "Markdown" => s = stripMarkdownFences(s, fileId)
      case "SQL"      => s = stripHtmlBlocks(s)
      case "PHP" | "HTML" =>
        s = stripRawTextTag(s, "script", fileId)._1
        s = stripRawTextTag(s, "style", fileId)._1
      case _ => ()
    }
    s
  }

  // --------------------------------------------------------------------
  // G5: PII / toxicity scrub (graft-specific; BASELINE.json north_rule).
  // Precompiled patterns; applied in declaration order. Each match is
  // replaced by a fixed-token mask so output is deterministic and
  // idempotent (masks contain no characters the patterns can re-match).
  // --------------------------------------------------------------------

  /** gate: cheap precondition — the rule can only match if it holds
    * (1 = needs '@', 2 = needs a digit). Skips the regex machinery for the
    * (common) rows without PII-shaped characters. */
  final case class PiiRule(name: String, pattern: Pattern, mask: String, gate: Int)

  val piiRules: Seq[PiiRule] = Seq(
    PiiRule("email",
      Pattern.compile("""[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""),
      "<EMAIL>", gate = 1),
    PiiRule("ssn",
      Pattern.compile("""\b\d{3}-\d{2}-\d{4}\b"""),
      "<SSN>", gate = 2),
    // credit_card must precede phone: a 16-digit grouped number would
    // otherwise partially match the looser phone pattern first.
    PiiRule("credit_card",
      Pattern.compile("""\b(?:\d[ -]?){13,16}\d\b"""),
      "<CC>", gate = 2),
    PiiRule("phone",
      Pattern.compile("""(?<![\w.-])(?:\+\d{1,3}[ .-])?(?:\(\d{2,4}\)[ .-]?)?\d{3,4}(?:[ .-]\d{3,4}){1,2}(?![\w.-])"""),
      "<PHONE>", gate = 2),
    PiiRule("ipv4",
      Pattern.compile("""\b(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b"""),
      "<IP>", gate = 2),
    PiiRule("long_digits",
      Pattern.compile("""\b\d{9,}\b"""),
      "<NUM>", gate = 2),
  )


  @inline private def gateHolds(gate: Int, hasAt: Boolean, hasDigit: Boolean): Boolean =
    (gate == 1 && hasAt) || (gate == 2 && hasDigit) || gate == 0

  @inline private def scanGates(s: String): (Boolean, Boolean) = {
    var hasAt = false; var hasDigit = false
    var i = 0
    while (i < s.length && !(hasAt && hasDigit)) {
      val c = s.charAt(i)
      if (c == '@') hasAt = true
      else if (c >= '0' && c <= '9') hasDigit = true
      i += 1
    }
    (hasAt, hasDigit)
  }

  /** Apply all PII rules in order. Deterministic, idempotent. */
  def scrubPii(text: String): String = {
    if (text == null) return null
    var s = text
    val (hasAt, hasDigit) = scanGates(s)
    var i = 0
    while (i < piiRules.length) {
      val r = piiRules(i)
      if (gateHolds(r.gate, hasAt, hasDigit)) {
        val m = r.pattern.matcher(s)
        if (m.find()) {
          val sb = new java.lang.StringBuilder(s.length)
          do m.appendReplacement(sb, Matcher.quoteReplacement(r.mask)) while (m.find())
          m.appendTail(sb)
          s = sb.toString
        }
      }
      i += 1
    }
    s
  }

  /** Fused scrub + count: one matcher pass per rule (hot path — avoids the
    * separate count-then-replace double scan). Returns (scrubbed, hits). */
  def scrubPiiCounting(text: String): (String, Int) = {
    if (text == null) return (null, 0)
    var s = text
    var hits = 0
    val (hasAt, hasDigit) = scanGates(s)
    var i = 0
    while (i < piiRules.length) {
      val r = piiRules(i)
      val m = if (gateHolds(r.gate, hasAt, hasDigit)) r.pattern.matcher(s) else null
      if (m != null && m.find()) {
        val sb = new java.lang.StringBuilder(s.length)
        do { hits += 1; m.appendReplacement(sb, Matcher.quoteReplacement(r.mask)) } while (m.find())
        m.appendTail(sb)
        s = sb.toString
      }
      i += 1
    }
    (s, hits)
  }

  // --------------------------------------------------------------------
  // Toxicity deny-list scrub (north rule: "PII/toxicity scrub").
  // A deny list compiles once into a single alternation with word
  // boundaries (one regex pass regardless of list size); the compiled
  // matcher is driver-built and broadcast. The default list is a
  // placeholder — real deployments supply their own terms.
  // --------------------------------------------------------------------

  final val ToxMask = "<TOX>"

  /** Compile a deny list into a single case-insensitive word-boundary
    * pattern. Call once on the driver; the Pattern is Serializable-free
    * but cheap to rebuild per executor via broadcastable DenyList. */
  def compileDenyList(words: Seq[String]): Pattern = {
    require(words.nonEmpty, "empty deny list")
    val alternation = words.map(Pattern.quote).mkString("|")
    Pattern.compile(s"(?i)\\b(?:$alternation)\\b")
  }

  /** Broadcastable deny list; the compiled pattern is rebuilt lazily per
    * JVM (Pattern itself is not serializable-stable across versions).
    *
    * [[mayMatch]] is a cheap gate in front of the regex (most texts hit no
    * deny word). It is exact — it never skips a text the regex would
    * match — because `(?i)` without `UNICODE_CASE` folds ASCII letters
    * only: a regex match of word `w` at position `i` means every char of
    * the text there equals the char of `w` or is its other-case ASCII
    * letter. So the text char at `i` equals `w`'s first char up to ASCII
    * case (the first-char table), and `regionMatches(ignoreCase = true)`,
    * whose per-char Unicode folding is a superset of ASCII folding, holds
    * on the whole word. A text char at or above 128 can only start a word
    * whose first char is that same char, which is compared exactly. */
  final class DenyList(val words: Seq[String]) extends Serializable {
    @transient lazy val pattern: Pattern = compileDenyList(words)

    // words by ASCII-folded first char: 'F' and 'f' share one entry
    @transient private lazy val byAsciiFirst: Array[Array[String]] =
      Array.tabulate(128) { c =>
        words.filter(w => w.nonEmpty && w.charAt(0) < 128 &&
          Character.toLowerCase(w.charAt(0)) == Character.toLowerCase(c)).toArray
      }
    @transient private lazy val nonAsciiFirst: Array[String] =
      words.filter(w => w.nonEmpty && w.charAt(0) >= 128).toArray
    // an empty word matches at any word boundary: never gate
    @transient private lazy val hasEmpty: Boolean = words.exists(_.isEmpty)

    /** False only when no deny word can match anywhere in `text`. */
    private[text] def mayMatch(text: String): Boolean = {
      if (hasEmpty) return true
      val table = byAsciiFirst
      val other = nonAsciiFirst
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (c < 128) {
          val ws = table(c)
          var k = 0
          while (k < ws.length) {
            if (text.regionMatches(true, i, ws(k), 0, ws(k).length)) return true
            k += 1
          }
        } else {
          var k = 0
          while (k < other.length) {
            val w = other(k)
            if (w.charAt(0) == c && text.regionMatches(true, i, w, 0, w.length)) return true
            k += 1
          }
        }
        i += 1
      }
      false
    }
  }

  val defaultDenyList: DenyList = new DenyList(Seq(
    // deterministic placeholder terms (tests + synthetic corpus)
    "frakk", "smegh", "gorram", "felgercarb"))

  /** Mask every deny-list hit; returns (scrubbed, hits). */
  def scrubDenyList(text: String, deny: DenyList): (String, Int) = {
    if (text == null) return (null, 0)
    if (!deny.mayMatch(text)) return (text, 0)
    val m = deny.pattern.matcher(text)
    if (!m.find()) return (text, 0)
    var hits = 0
    val sb = new java.lang.StringBuilder(text.length)
    do { hits += 1; m.appendReplacement(sb, ToxMask) } while (m.find())
    m.appendTail(sb)
    (sb.toString, hits)
  }

}
