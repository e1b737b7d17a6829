package graft

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import vigil._

/** The turn kernel's single-pass parts against the regex, per-keyword,
  * probe-chain and per-word twins they replaced (`vigil.RegexClean`,
  * `vigil.ContainsKeywordGates`, `vigil.ProbeChainLangModel`,
  * `vigil.RegexEdgeStrip`, `vigil.SplitTurnStats`): equal output on every
  * BMP char alone and embedded, the Unicode spaces, the case-fold chars,
  * supplementary punctuation and digits, and generated texts. Doubles compare by their
  * raw bits. No SparkSession.
  */
class KernelTwinSpec extends AnyFunSuite {

  private def check(p: Prop, cases: Int = 2000): Unit = {
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(cases)
      .withInitialSeed(org.scalacheck.rng.Seed(13L))
    val res = org.scalacheck.Test.check(params, p)
    assert(res.passed, res.status.toString)
  }

  private def str(cp: Int): String = new String(Character.toChars(cp))
  private def show(s: String): String = s.codePoints().toArray.map(c => f"$c%04x").mkString(" ")
  private val bmp: Seq[String] = (0 until 0x10000).map(c => c.toChar.toString)
  /** Unicode spaces and near-spaces: \s members outside ASCII, plus U+180E
    * and U+FEFF, which are not.
    */
  private val spaceLike: Seq[String] = (Seq(0x85, 0xA0, 0x1680, 0x180E) ++
    (0x2000 to 0x200A) ++ Seq(0x2028, 0x2029, 0x202F, 0x205F, 0x3000, 0xFEFF)).map(str)
  /** The chars UNICODE_CASE folds onto ASCII i / s / k. */
  private val foldChars: Seq[String] = Seq(0x130, 0x131, 0x17F, 0x212A).map(str)
  /** Every supplementary \p{P} or Nd code point, plus cased letters,
    * symbols, a format char and one NFKC changes.
    */
  private val supplementary: Seq[String] = ((0x10000 to Character.MAX_CODE_POINT).filter { cp =>
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || (t >= Character.DASH_PUNCTUATION &&
      t <= Character.OTHER_PUNCTUATION) || t == Character.INITIAL_QUOTE_PUNCTUATION ||
      t == Character.FINAL_QUOTE_PUNCTUATION
  } ++ Seq(0x10400, 0x10428, 0x1F600, 0x20000, 0xE0001, 0x1D15E, 0x1D400)).map(str)
  private val terminators = Seq("\n", "\r", "\r\n", "\u0085", "\u2028", "\u2029")

  /** Random strings over every kind of char above, ASCII and Portuguese
    * letters, punctuation and control chars.
    */
  private val mixedText: Gen[String] = Gen.listOf(Gen.frequency(
    (8, Gen.oneOf("a", "B", "ç", "ã", "é", "É", "x", "1", "nome", "CPF", "rua")),
    (4, Gen.oneOf(" ", "  ", "\t", "\n", "\r\n")),
    (2, Gen.oneOf(spaceLike)), (1, Gen.oneOf(foldChars)),
    (2, Gen.oneOf(".", ",", "!", "¿", "«", "»", "—", "(", ")", "_", "'")),
    (1, Gen.oneOf("\u0000", "\u0001", "\u001F", "\u007F", "①", "ﬁ")),
    (1, Gen.oneOf(supplementary)))).map(_.mkString)

  // --- TextClean ------------------------------------------------------------
  private def sameClean(s: String): Unit = {
    val (got, want) = (TextClean.clean(s), RegexClean.clean(s))
    assert(got == want, s"clean of ${show(s)}")
    assert((got eq s) == (want eq s), s"identity of clean on ${show(s)}")
  }

  test("TextClean: char walk equals the regex check on every BMP char, alone and embedded") {
    assert(RegexClean.supplementaryWhitespace.isEmpty)
    bmp.foreach { c =>
      Seq(c, s"a${c}b", s"$c x", s"x $c", s" $c ", s"$c$c", s"a $c b").foreach(sameClean)
    }
  }

  test("TextClean: Unicode spaces, fold chars and supplementary code points") {
    (spaceLike ++ foldChars ++ supplementary).foreach { c =>
      Seq(c, s"a${c}b", s"a $c b", s"$c a", s"a $c", s"a$c${c}b", s"$c $c", s"  $c").foreach(sameClean)
    }
    check(Prop.forAll(mixedText) { s =>
      val (got, want) = (TextClean.clean(s), RegexClean.clean(s))
      Prop(got == want && (got eq s) == (want eq s)) :| show(s)
    })
  }

  // --- PreScan keyword gates ------------------------------------------------
  private def sameGates(s: String): Boolean =
    PiiGates.keywordGates(s) == ContainsKeywordGates.gates(s) &&
      PiiGates.hasEach(s, PiiGates.keywords) == ContainsKeywordGates.hasEach(s, PiiGates.keywords)
  /** One text holding every keyword, each between `c`s. */
  private def allKeywords(c: String): String =
    PiiGates.keywords.map(kw => s"$c$kw$c").mkString(" ")

  test("keyword mask: every BMP char alone, embedded, and in place of each keyword char") {
    bmp.foreach { c =>
      assert(sameGates(c) && sameGates(allKeywords(c)), show(c))
    }
    // in place of one keyword char: every char with a case mapping, and
    // the Latin-1 and Latin Extended blocks
    val cased = bmp.filter { c =>
      val ch = c.charAt(0)
      ch < 0x250 || Character.toLowerCase(ch) != ch || Character.toUpperCase(ch) != ch
    }
    for (kw <- PiiGates.keywords; j <- kw.indices; c <- cased) {
      val t = s"x ${kw.updated(j, c.charAt(0))} y"
      assert(PiiGates.has(t, kw) == ContainsKeywordGates.has(t, kw), s"'$kw' in ${show(t)}")
    }
  }

  test("keyword mask: keywords at the edges, overlapping, and 'nome é' in ASCII and non-ASCII text") {
    val fixtures = PiiGates.keywords.flatMap { kw =>
      Seq(kw, kw.toUpperCase, s"$kw x", s"x $kw", s"ção $kw", s"$kw ção",
        s"${kw.capitalize}ção", kw.dropRight(1), s"ã${kw.drop(1)}")
    } ++ Seq("whatsapp", "WhatsApp", "telefone", "celular", "residente",
      "meunome", "nomeu", "cpfcpf", "sk-sk-", "xoxox", "ghp_ghp", "akiakia",
      "rgrg", "souza", "sou ", "sou", "nome é", "NOME É", "Nome É o meu",
      "nome e", "nome  é", "nomeé", "nome é", "meu nome é joão", "ação nome é",
      "nome é", "nome é", "apartamentos", "conjuntos", "quadrado")
    fixtures.foreach(f => assert(sameGates(f), show(f)))
    (spaceLike ++ foldChars ++ supplementary).foreach { c =>
      assert(sameGates(c) && sameGates(allKeywords(c)), show(c))
    }
    val casedKeyword = Gen.oneOf(PiiGates.keywords).flatMap { kw =>
      Gen.listOfN(kw.length, Gen.oneOf(true, false)).map(bs =>
        kw.zip(bs).map { case (c, up) => if (up) c.toUpper else c }.mkString)
    }
    val text = Gen.listOf(Gen.frequency((3, casedKeyword), (4, mixedText.map(_.take(6)))))
      .map(_.mkString)
    check(Prop.forAll(text) { s => Prop(sameGates(s)) :| show(s) })
  }

  // --- LangModel --------------------------------------------------------------
  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
  private def sameTrigram(a: Char, b: Char, c: Char): Unit = {
    val (got, want) = (new Array[Double](LangModel.Langs.length), new Array[Double](LangModel.Langs.length))
    val lnGot = KernelView.addTrigram(a, b, c, got)
    val lnWant = ProbeChainLangModel.addTrigram(a, b, c, want)
    assert(bits(lnGot) == bits(lnWant) && got.map(bits).toSeq == want.map(bits).toSeq,
      s"trigram ${show(s"$a$b$c")}")
  }

  test("LangModel: one probe equals the probe chain on every trigram of both tables and unseen ones") {
    val known = ProbeChainLangModel.knownTrigrams
    assert(known.size > 1000)
    known.foreach { g => sameTrigram((g >>> 32).toChar, (g >>> 16).toChar, g.toChar) }
    val alphabet = " abcdeoqxzçãéíõüßñkвж中".toSeq
    for (a <- alphabet; b <- alphabet; c <- alphabet) sameTrigram(a, b, c)
    val letter = Gen.frequency((6, Gen.oneOf(alphabet)), (1, Gen.choose('A', '￿')))
    check(Prop.forAll(letter, letter, letter) { (a, b, c) => sameTrigram(a, b, c); Prop.passed },
      cases = 20000)
  }

  test("LangModel: scoreBoth equals the probe chain on every BMP char embedded and on Synth turns") {
    def same(s: String): Unit = {
      val ((l1, c1, p1), (l2, c2, p2)) = (LangModel.scoreBoth(s), ProbeChainLangModel.scoreBoth(s))
      assert(l1 == l2 && bits(c1) == bits(c2) && bits(p1) == bits(p2), show(s))
    }
    bmp.foreach(c => same(s"o ${c}a$c de"))
    supplementary.foreach(c => same(s"nome $c ação"))
    Synth.corpus(500, 7L, maxLen = 4).foreach(t => same(TextClean.clean(t.text)))
  }

  // --- TurnStats edge strip -------------------------------------------------
  private def sameStrip(s: String): Unit =
    assert(KernelView.stripEdgePunct(s) == RegexEdgeStrip.strip(s), show(s))

  test("edge strip: code-point walk equals the regex on every BMP char, alone and embedded") {
    bmp.foreach { c =>
      Seq(c, s"${c}x", s"x$c", s"${c}x$c", s"$c$c.x.$c$c", s".$c", s"$c.", s"x$c\n",
        s"$c\r\n", s"x.$c ").foreach(sameStrip)
    }
  }

  test("edge strip: supplementary punctuation and digits, line terminators") {
    supplementary.foreach { c =>
      Seq(c, s"${c}x", s"x$c", s"$c.x!$c", s"$c$c", s"x$c\n", s"$c\r\n").foreach(sameStrip)
    }
    for (t <- terminators; p <- Seq("", ".", "!?", "x.", ".x", "..x..")) {
      Seq(p + t, t + p, s"$p$t$p", s"$p$t$t", s"x$p$t").foreach(sameStrip)
    }
    check(Prop.forAll(mixedText) { s =>
      Prop(KernelView.stripEdgePunct(s) == RegexEdgeStrip.strip(s)) :| show(s)
    }, cases = 5000)
  }

  // --- TurnStats ------------------------------------------------------------
  private def statsBits(v: Array[Any]): Seq[Any] =
    v.toSeq.map { case d: Double => bits(d); case x => x }
  private def sameStats(s: String): Unit =
    assert(statsBits(KernelView.turnStats(s)) == statsBits(SplitTurnStats.computeValues(s)), show(s))

  test("TurnStats: one walk equals the per-word form on every BMP char embedded and on Synth turns") {
    bmp.foreach { c =>
      Seq(c, s"a $c b", s"$c$c x $c$c", s"x ${c}x x${c}x", s"ideot$c a a").foreach(sameStats)
    }
    (spaceLike ++ foldChars ++ supplementary).foreach { c =>
      Seq(c, s"a $c b $c", s"${c}idiota$c o o").foreach(sameStats)
    }
    val lexicon = Toxicity.Lexicon
    (lexicon ++ lexicon.map(_.toUpperCase) ++ lexicon.map(w => s"«$w!»") ++
      lexicon.map(w => s"x ${w.capitalize}... y") ++ lexicon.map(w => s"${w}s") ++
      lexicon.map(w => s"$w\n") ++ lexicon.map(w => s"a.$w.\r\n b") ++
      Seq("", " ", "  a  ", "a a a a", "a b a b a", "ab a b ab", "b a  b a")).foreach(sameStats)
    Synth.corpus(500, 7L, maxLen = 4).foreach { t =>
      sameStats(t.text); sameStats(TextClean.clean(t.text))
    }
    val words = Gen.listOf(Gen.frequency((4, mixedText.map(_.take(5))),
      (2, Gen.oneOf(lexicon)), (2, Gen.oneOf("a", "b", "de", "A")))).map(_.mkString(" "))
    check(Prop.forAll(words) { s =>
      Prop(statsBits(KernelView.turnStats(s)) == statsBits(SplitTurnStats.computeValues(s))) :| show(s)
    }, cases = 5000)
  }

  test("TurnStats: a whole document gets its own scratch; the per-thread one stays small") {
    val limit = KernelView.turnStatsPooledChars
    val rnd = new scala.util.Random(11)
    val doc = Iterator.continually(s"w${rnd.nextInt(5000)}").take(4 * limit).mkString(" ")
    assert(doc.length > limit)
    sameStats(doc)
    assert(KernelView.turnStatsPooledWords <= limit / 2,
      s"scratch holds ${KernelView.turnStatsPooledWords} words after a ${doc.length}-char text")
    // the longest pooled text, then a short one, on the same thread
    sameStats(("a " * (limit / 2)).take(limit))
    assert(KernelView.turnStatsPooledWords <= limit / 2)
    Seq("o dado o dado", "idiota!", "").foreach(sameStats)
  }
}
