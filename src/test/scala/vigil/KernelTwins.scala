package vigil

import java.util.regex.Pattern

/** The regex, per-keyword, probe-chain and per-word forms of the turn
  * kernel's single-pass parts, for specs only. Each is the code its `src/main` counterpart
  * replaced; KernelTwinSpec checks that both give the same output.
  */

/** [[TextClean.clean]] with its whitespace check as a regex `find()`. */
object RegexClean {
  private val ControlChars =
    Pattern.compile("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]")
  private val MultiSpace =
    Pattern.compile("\\s+", Pattern.UNICODE_CHARACTER_CLASS)
  private val NeedsWsWork =
    Pattern.compile("[\\s&&[^ ]]|\\x20{2}|^\\x20|\\x20$",
      Pattern.UNICODE_CHARACTER_CLASS)

  def clean(text: String): String = {
    if (text == null || text.isEmpty) return ""
    val nfkc =
      if (java.text.Normalizer.isNormalized(text, java.text.Normalizer.Form.NFKC)) text
      else java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFKC)
    val noCtl = ControlChars.matcher(nfkc).replaceAll("")
    if (NeedsWsWork.matcher(noCtl).find())
      MultiSpace.matcher(noCtl).replaceAll(" ").strip()
    else noCtl
  }

  /** Supplementary code points `\s` matches (TextClean's BMP table assumes
    * there are none).
    */
  def supplementaryWhitespace: Seq[Int] = {
    val m = MultiSpace.matcher("")
    (0x10000 to Character.MAX_CODE_POINT)
      .filter(cp => m.reset(new String(Character.toChars(cp))).matches())
  }
}

/** [[PiiCore.PreScan]]'s keyword gates, each keyword its own full-text
  * scan: case-folded over the text when it is pure ASCII, over its
  * `toLowerCase(Locale.ROOT)` copy otherwise.
  */
object ContainsKeywordGates {
  /** `text.toLowerCase.contains(kw)` for pure-ASCII `text`, without the copy. */
  def asciiFoldedContains(text: String, kw: String): Boolean = {
    val n = text.length
    val m = kw.length
    if (m == 0) return true
    var j = 0
    while (j < m) { if (kw.charAt(j) > 127) return false; j += 1 }
    var i = 0
    val limit = n - m
    val k0 = kw.charAt(0)
    while (i <= limit) {
      var c = text.charAt(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      if (c == k0) {
        var k = 1
        var ok = true
        while (ok && k < m) {
          var t = text.charAt(i + k)
          if (t >= 'A' && t <= 'Z') t = (t + 32).toChar
          ok = t == kw.charAt(k)
          k += 1
        }
        if (ok) return true
      }
      i += 1
    }
    false
  }

  /** `has(kw)` of each keyword in `text`. */
  private def scan(text: String): String => Boolean = {
    val fold = text.exists(c => c == '\u0130' || c == '\u0131' || c == '\u017F' || c == '\u212A')
    lazy val lower = text.toLowerCase(java.util.Locale.ROOT)
    val ascii = text.forall(_ <= 127)
    kw => fold || (if (ascii) asciiFoldedContains(text, kw) else lower.contains(kw))
  }

  def has(text: String, kw: String): Boolean = scan(text)(kw)

  /** `has` of each of `kws` in `text`. */
  def hasEach(text: String, kws: Seq[String]): Seq[Boolean] = kws.map(scan(text))

  /** The keyword gates in [[PiiGates.keywordGates]] order, the digit
    * condition of the contact gate left out.
    */
  def gates(text: String): Seq[Boolean] = {
    val has = scan(text)
    val nome = has("nome")
    val cpf = has("cpf")
    Seq(
      has("fone") || has("tel") || has("cel") || has("contato") ||
        has("what") || has("zap"),
      has("meu") && nome, nome, has("chamo"), cpf, cpf || has("portador"),
      has("cidad") || has("requerente") || has("solicitante"),
      has("servidor") || has("funcion"),
      has("rg"),
      has("sk-") || has("akia") || has("ghp_") || has("xox"),
      has("meu") || has("minha") || has("sou ") || has("chamo") || has("nome é"),
      has("moro") || has("resid") || has("rua") || has("avenida") ||
        has("quadra") || has("conjunto") || has("bloco") || has("lote") ||
        has("apartamento") || has("apt") || has("cep"),
      has("contato") || has("whats") || has("zap") || has("fone") || has("cel"))
  }
}

/** [[LangModel]]'s per-trigram step as a chain of map probes: the language
  * log-prob map, then the LM's trigram, bigram and unigram counts.
  */
object ProbeChainLangModel {
  private val (langLogProb, langLogUnk) = LangModel.langTables()
  private val (lmTri, lmBi, lmUni, lmUniform) = LangModel.lmCounts()
  private val lmUniTotal: Double = lmUni.values.sum.toDouble
  private val Backoff = LangModel.Backoff

  /** Every trigram key either model holds. */
  def knownTrigrams: Seq[Long] = (langLogProb.keySet ++ lmTri.keySet).toSeq.sorted

  private def key2(a: Char, b: Char): Long = (a.toLong << 16) | b.toLong

  /** ln p(c | a, b) with stupid backoff. */
  private def lnProb(a: Char, b: Char, c: Char): Double = {
    val biAB = lmBi.getOrElse(key2(a, b), 0)
    if (biAB > 0) {
      val t = lmTri.getOrElse(LangModel.key3(a, b, c), 0)
      if (t > 0) return math.log(t.toDouble / biAB)
    }
    val biBC = lmBi.getOrElse(key2(b, c), 0)
    val uniB = lmUni.getOrElse(b.toLong, 0)
    if (uniB > 0 && biBC > 0) return math.log(Backoff * biBC / uniB)
    val uniC = lmUni.getOrElse(c.toLong, 0)
    if (uniC > 0) return math.log(Backoff * Backoff * uniC / lmUniTotal)
    math.log(Backoff * Backoff * lmUniform)
  }

  /** As [[LangModel.addTrigram]]. */
  def addTrigram(a: Char, b: Char, c: Char, scores: Array[Double]): Double = {
    val arr = langLogProb.getOrElse(LangModel.key3(a, b, c), langLogUnk)
    var li = 0
    while (li < LangModel.Langs.length) { scores(li) += arr(li); li += 1 }
    lnProb(a, b, c)
  }

  /** As [[LangModel.scoreBoth]]. */
  def scoreBoth(text: String): (String, Double, Double) = {
    val norm = LangModel.normForNgrams(if (text == null) "" else text).toString
    val n = norm.length - 2
    if (n < 2) return ("und", 0.0, 0.0)
    val langs = LangModel.Langs
    val scores = new Array[Double](langs.length)
    var lnSum = 0.0
    var i = 0
    while (i + 2 < norm.length) {
      lnSum += addTrigram(norm.charAt(i), norm.charAt(i + 1), norm.charAt(i + 2), scores)
      i += 1
    }
    var best = 0
    var li = 1
    while (li < langs.length) { if (scores(li) > scores(best)) best = li; li += 1 }
    var denom = 0.0
    li = 0
    while (li < langs.length) {
      denom += math.exp((scores(li) - scores(best)) / n * 8.0)
      li += 1
    }
    (langs(best), 1.0 / denom, math.exp(-lnSum / n))
  }
}

/** TurnStats' edge-punctuation strip as a regex `replaceAll`. */
object RegexEdgeStrip {
  private val EdgePunct = Pattern.compile("^\\p{P}+|\\p{P}+$")
  def strip(s: String): String = EdgePunct.matcher(s).replaceAll("")
}

/** [[TurnStatsExpr.computeValues]] over `split(" ")` words: per-word
  * passes, the 2-grams as concatenated strings in a `HashSet`, and the
  * regex edge strip for every word that is not all ASCII lowercase.
  */
object SplitTurnStats {
  private val ToxicSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Toxicity.Lexicon.foreach(s.add)
    s
  }
  private def isNumberCat(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }

  def computeValues(text: String): Array[Any] = {
    val words = text.split(" ").filter(_.nonEmpty)
    val nWords = words.length
    val nChars = text.codePointCount(0, text.length)
    var sumLen = 0
    var maxLen = 0
    var alphaWords = 0
    words.foreach { w =>
      val wl = w.codePointCount(0, w.length)
      sumLen += wl
      if (wl > maxLen) maxLen = wl
      if (w.codePoints().anyMatch(cp => Character.isLetter(cp))) alphaWords += 1
    }
    val meanWordLen = if (nWords > 0) sumLen.toDouble / nWords else 0.0
    val alphaFrac = if (nWords > 0) alphaWords.toDouble / nWords else 0.0
    val symbols = text.codePoints().filter(cp =>
      cp != ' ' && !Character.isLetter(cp) && !isNumberCat(cp)).count()
    val symbolRatio = if (nWords > 0) symbols.toDouble / nWords else 0.0
    val dup2 =
      if (nWords >= 2) {
        val total = nWords - 1
        val seen = new java.util.HashSet[String](total * 2)
        var distinct = 0
        (0 until total).foreach { g => if (seen.add(words(g) + " " + words(g + 1))) distinct += 1 }
        1.0 - distinct.toDouble / total
      } else 0.0
    val toxic = words.exists { w =>
      if (w.forall(ch => ch >= 'a' && ch <= 'z')) ToxicSet.contains(w)
      else {
        val t = RegexEdgeStrip.strip(w.toLowerCase(java.util.Locale.ROOT))
        t.nonEmpty && ToxicSet.contains(t)
      }
    }
    Array[Any](
      nWords, nChars, meanWordLen, maxLen, alphaFrac, symbolRatio, dup2, toxic)
  }
}

/** Test-side view of the turn kernel's `private[vigil]` single-pass steps,
  * for the specs in `graft`.
  */
object KernelView {
  def stripEdgePunct(s: String): String = TurnStatsExpr.stripEdgePunct(s)
  def turnStats(text: String): Array[Any] = TurnStatsExpr.computeValues(text)
  /** The longest text TurnStats runs on its per-thread scratch. */
  def turnStatsPooledChars: Int = TurnStatsExpr.PooledChars
  /** Words the calling thread's TurnStats scratch holds room for. */
  def turnStatsPooledWords: Int = TurnStatsExpr.pooledWordCapacity
  def addTrigram(a: Char, b: Char, c: Char, scores: Array[Double]): Double =
    LangModel.addTrigram(a, b, c, scores)
}
