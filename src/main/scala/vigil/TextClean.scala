package vigil

import java.text.Normalizer
import java.util.regex.Pattern

/** Text preprocessing P1-P4 (SURVEY.md §2.2).
  *
  * Reproduces /root/reference/src/preprocessor.py:39-80:
  *   1. null → ""
  *   2. Unicode NFKC normalization (① → 1, ﬁ → fi; accents preserved)
  *   3. strip control chars [\x00-\x08\x0b\x0c\x0e-\x1f\x7f] (keeps \n, \t)
  *   4. collapse \s+ to a single space, then trim
  *
  * Both Python's unicodedata.normalize and java.text.Normalizer implement
  * UAX#15, so NFKC results are identical. UNICODE_CHARACTER_CLASS makes
  * Java's \s match the same Unicode whitespace set as Python's re.
  */
object TextClean {
  private val ControlChars =
    Pattern.compile("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]")
  private val MultiSpace =
    Pattern.compile("\\s+", Pattern.UNICODE_CHARACTER_CLASS)
  // thread-confined matcher reuse (hot path: one clean() per row)
  private val tlCtl = ThreadLocal.withInitial[java.util.regex.Matcher](
    () => ControlChars.matcher(""))
  private val tlWs = ThreadLocal.withInitial[java.util.regex.Matcher](
    () => MultiSpace.matcher(""))

  /** Chars `MultiSpace` matches, over the BMP: no supplementary code point
    * is Unicode whitespace (PropertySpec checks it), so a char walk sees
    * every one.
    */
  private val WsChars: java.util.BitSet = {
    val bs = new java.util.BitSet(0x10000)
    val m = MultiSpace.matcher("")
    (0 until 0x10000).foreach { c => if (m.reset(c.toChar.toString).matches()) bs.set(c) }
    bs
  }

  /** Whether either regex step can change `s`: it holds a control char, a
    * whitespace char other than ' ', a double space, or a leading or
    * trailing space. When it does not, every `\s+` run is a single interior
    * ' ', so the control strip finds nothing and collapse + `strip()` is the
    * identity; `clean` then returns its input by reference (the identity
    * `PiiSchema.analysisValues` keys its zero-copy UTF8String reuse on)
    * instead of rebuilding it. One char walk, no regex.
    */
  private def needsWork(s: String): Boolean = {
    val n = s.length
    if (n == 0) return false
    if (s.charAt(0) == ' ' || s.charAt(n - 1) == ' ') return true
    var prevSpace = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ') {
        if (prevSpace) return true
        prevSpace = true
      } else {
        // below 0x20 every char is a control char or \t \n \v \f \r
        if (c < 0x20 || c == 0x7F || (c > 0x7F && WsChars.get(c))) return true
        prevSpace = false
      }
      i += 1
    }
    false
  }

  def clean(text: String): String = {
    if (text == null || text.isEmpty) return ""
    // isNormalized is a cheap scan; it avoids a full-copy allocation per
    // row for already-NFKC text (the overwhelmingly common case)
    val nfkc =
      if (Normalizer.isNormalized(text, Normalizer.Form.NFKC)) text
      else Normalizer.normalize(text, Normalizer.Form.NFKC)
    if (!needsWork(nfkc)) return nfkc
    val noCtl = tlCtl.get().reset(nfkc).replaceAll("")
    if (needsWork(noCtl))
      tlWs.get().reset(noCtl).replaceAll(" ").strip()
    else noCtl
  }
}
