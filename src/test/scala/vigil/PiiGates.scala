package vigil

import java.util.regex.{Matcher, Pattern}

/** Test-side view of `PiiCore`'s `private[vigil]` gates and trailer loop,
  * for the specs in `graft` and `vigil.tools.CleanPathStats`.
  */
object PiiGates {
  private type Gate = PiiCore.PreScan => Boolean

  /** Every pattern `PiiCore.analyze` runs over the whole text, by name,
    * with the gate (the conjunction of the gates it is nested under) it
    * runs behind.
    */
  val gatedPatterns: Seq[(String, Pattern, Gate)] = {
    val names = Patterns.StrongNameContexts.zipWithIndex.map { case (p, k) =>
      (s"StrongNameContexts($k)", p, (g: PiiCore.PreScan) => g.nameGates(k))
    }
    def each(name: String, ps: Seq[Pattern], g: Gate) =
      ps.zipWithIndex.map { case (p, k) => (s"$name($k)", p, g) }
    Seq[(String, Pattern, Gate)](
      ("CpfFormatted", Patterns.CpfFormatted, _.cpfPossible),
      ("CpfPartial", Patterns.CpfPartial, _.cpfPossible),
      ("CpfNumericContext", Patterns.CpfNumericContext, _.cpfPossible),
      ("Email", Patterns.Email, _.hasAt),
      ("Phone", Patterns.Phone, _.phonePossible),
      ("PhoneIntl", Patterns.PhoneIntl, _.phonePossible),
      ("PhoneWithContext", Patterns.PhoneWithContext,
        g => g.phonePossible && g.phoneContextPossible),
      ("PhoneNoParens", Patterns.PhoneNoParens, _.phonePossible),
      ("Rg", Patterns.Rg, _.rgPossible),
      ("CardCandidate", Patterns.CardCandidate, _.cardPossible),
      ("Ssn", Patterns.Ssn, _.ssnPossible),
      ("ApiKey", Patterns.ApiKey, _.keyPossible)
    ) ++ names ++
      each("FirstPerson", Patterns.FirstPerson, _.firstPersonPossible) ++
      each("AddressMarkers", Patterns.AddressMarkers, _.addressPossible) ++
      each("ContactMarkers", Patterns.ContactMarkers, _.contactPossible)
  }

  /** Names of the patterns that match `text` while their gate is closed. */
  def unsoundGates(text: String): Seq[String] = {
    val pre = new PiiCore.PreScan(text)
    gatedPatterns.collect { case (n, p, g) if p.matcher(text).find() && !g(pre) => n }
  }

  /** The keyword gates of `text`'s [[PiiCore.PreScan]], in
    * [[ContainsKeywordGates.gates]] order, the contact gate without its
    * digit condition.
    */
  def keywordGates(text: String): Seq[Boolean] = {
    val g = new PiiCore.PreScan(text)
    Seq(g.phoneContextPossible) ++ g.nameGates ++ Seq(g.rgPossible,
      g.keyPossible, g.firstPersonPossible, g.addressPossible,
      new PiiCore.PreScan(text + "0").contactPossible)
  }

  /** Whether `text`'s [[PiiCore.PreScan]] holds `kw`, one of [[keywords]]
    * (a fold char holds every one). */
  def has(text: String, kw: String): Boolean = hasEach(text, Seq(kw)).head

  /** The same, for each of `kws`, from one scan. */
  def hasEach(text: String, kws: Seq[String]): Seq[Boolean] = {
    val g = new PiiCore.PreScan(text)
    kws.map { kw =>
      val k = PiiCore.Keywords.indexOf(kw)
      require(k >= 0, s"not a PreScan keyword: $kw")
      g.hasFoldChar || (g.keywordMask & (1L << k)) != 0L
    }
  }

  /** Every keyword a gate tests. */
  def keywords: Seq[String] = PiiCore.Keywords.toSeq

  private def trailerPattern = Patterns.StrongNameContexts(Patterns.TrailerNameIndex)
  private def spans(m: Matcher) = (m.start, m.end, m.group(1))

  /** `(start, end, group(1))` of each match, from the bounded trailer loop. */
  def trailerLoopMatches(text: String): Seq[(Int, Int, String)] = {
    val out = Seq.newBuilder[(Int, Int, String)]
    PiiCore.forEachTrailerNameMatch(trailerPattern.matcher(text),
      Patterns.NameTrailer.matcher(text), text)(m => out += spans(m))
    out.result()
  }

  /** The same, from a plain `find()` loop over the whole text. */
  def plainLoopMatches(text: String): Seq[(Int, Int, String)] = {
    val m = trailerPattern.matcher(text)
    val out = Seq.newBuilder[(Int, Int, String)]
    while (m.find()) out += spans(m)
    out.result()
  }

  /** Supplementary code points [[Patterns.NameSpanChar]] matches (the
    * trailer loop's BMP table assumes there are none).
    */
  def supplementaryNameSpanChars: Seq[Int] = {
    val m = Patterns.NameSpanChar.matcher("")
    (0x10000 to Character.MAX_CODE_POINT)
      .filter(cp => m.reset(new String(Character.toChars(cp))).matches())
  }
}
