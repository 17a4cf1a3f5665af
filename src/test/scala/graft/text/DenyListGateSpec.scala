package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** `Scrub.scrubDenyList` skips its regex when `DenyList.mayMatch` says no
  * deny word can start in the text. The gate must never change the
  * result: text and hit count equal the regex-only scrub, kept here as
  * the oracle, on default and custom lists, including a word with a
  * non-ASCII first char, regex metacharacters, case variants, near word
  * boundaries and Unicode case folds that the ASCII-only `(?i)` regex does
  * not make. */
class DenyListGateSpec extends AnyFunSuite {

  private def regexOnly(text: String, deny: Scrub.DenyList): (String, Int) = {
    if (text == null) return (null, 0)
    val m = deny.pattern.matcher(text)
    if (!m.find()) return (text, 0)
    var hits = 0
    val sb = new java.lang.StringBuilder(text.length)
    do { hits += 1; m.appendReplacement(sb, Scrub.ToxMask) } while (m.find())
    m.appendTail(sb)
    (sb.toString, hits)
  }

  private val lists = Seq(
    Scrub.defaultDenyList,
    new Scrub.DenyList(Seq("über", "c++", "a.b", "frakk")),
    new Scrub.DenyList(Seq("Über", "ÜBERALL", "ſmegh", "İstanbul")),
    new Scrub.DenyList(Seq("x", "(y)", "\\E", "[z]", "a|b", "$1")),
    new Scrub.DenyList(Seq("Frakk", "GORRAM", "smEgh", "krakk")),
    new Scrub.DenyList(Seq("", "frakk")), // empty word: matches at boundaries
  )

  private val texts = Seq(
    null, "", " ", "frakk", "FRAKK", "fRaKk", "Frakk!", "frakk_", "xfrakk", "frakk1",
    "frakk!", "(frakk)", "a frakk b", "frakk frakk", "frak", "frakkk",
    "gorram it, felgercarb", "Smegh smegh SMEGH", "ſmegh", "ſMEGH", "smegh ſmegh",
    "über", "Über", "ÜBER", "über!", "xüber", "über_", "ÜBERALL", "überall", "üBERALL",
    "c++", "C++ code", "use c++.", "c+", "a.b", "A.B", "axb", "a.b.c", "a.bc",
    "İstanbul", "istanbul", "İSTANBUL", "i̇stanbul", "İ", "ı",
    "x", "X", "(y)", "(Y)", "\\E", "[z]", "[Z]", "a|b", "$1", "x$1",
    "K", "Krakk", // Kelvin sign folds to 'k' under Unicode case only
    "😀frakk😀", "frakk😀", "\ud83dfrakk",
  )

  test("gated scrub equals the regex-only scrub on every list and text") {
    for (deny <- lists; t <- texts) {
      assert(Scrub.scrubDenyList(t, deny) == regexOnly(t, deny),
        s"differs on '$t' with ${deny.words}")
    }
  }

  test("the gate lets through every text the regex matches") {
    for (deny <- lists; t <- texts if t != null && deny.pattern.matcher(t).find())
      assert(deny.mayMatch(t), s"gate skipped '$t' with ${deny.words}")
  }

  test("the gate skips texts with no deny word") {
    val deny = Scrub.defaultDenyList
    Seq("", "hello world", "ſmegh", "frak gorra", "über alles").foreach { t =>
      assert(!deny.mayMatch(t), s"'$t'")
    }
    assert(Scrub.scrubDenyList("ſmegh", deny) == ("ſmegh", 0))
  }

  test("gated scrub equals the regex-only scrub on random texts") {
    val rnd = new scala.util.Random(7)
    val pieces = Array("frakk", "FRAKK", "fRaKk", "über", "Über", "ÜBER", "c++", "a.b",
      "ſmegh", "smegh", "İstanbul", "gorram", "x", "(y)", "a|b", " ", " ", "_", "1", "!",
      "é", "ß", "😀", "ü", "K", "felgercarb", "frak", "kk")
    for (_ <- 0 until 3000) {
      val t = Seq.fill(rnd.nextInt(12))(pieces(rnd.nextInt(pieces.length))).mkString
      for (deny <- lists)
        assert(Scrub.scrubDenyList(t, deny) == regexOnly(t, deny), s"differs on '$t' with ${deny.words}")
    }
  }
}
