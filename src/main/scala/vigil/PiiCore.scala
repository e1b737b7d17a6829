package vigil

import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable

/** The per-row PII analysis kernel: matchers with anti-false-positive
  * context windows, conservative name extraction, north-rule extensions
  * (Luhn cards / SSN / API keys), contextual signals, and the scrubber.
  *
  * Semantics reproduce /root/reference/src/patterns.py:125-317 and
  * detector.py:223-321; scrub rules are the normative SURVEY.md §2.11
  * definition. Pure function of the (cleaned) text — no shared state, so it
  * is safe and deterministic inside a Catalyst expression evaluated on any
  * executor.
  *
  * Performance: all patterns are compiled once per JVM (object init), which
  * at cluster scale means once per executor via classloading. A regex scan
  * is not linear in general: a pattern with no literal prefix, under
  * `CASE_INSENSITIVE` (where `[A-Z]` matches any letter), tries a
  * backtracking parse at every start position. So [[PreScan]] makes one
  * O(n) pass and each pattern runs only when the text passes a condition
  * every one of its matches needs:
  *   - a count of `\d` code points (`Character.isDigit(int)`, exactly the
  *     `\d` of `UNICODE_CHARACTER_CLASS`): CPF ≥ 11, phone ≥ 10, card ≥ 13,
  *     SSN ≥ 9, the `\d` each pattern's shortest match holds;
  *   - a keyword every match contains, tested case-folded; the same pass
  *     finds all of them at once, by first char, into a bit mask. Under
  *     `CASE_INSENSITIVE|UNICODE_CASE` U+0130/U+0131 match `i`, U+017F
  *     matches `s` and U+212A matches `k`, which a lowercase substring test
  *     misses; a text holding one of them opens every keyword gate.
  * The trailer-anchored name pattern (`StrongNameContexts(4)`) is further
  * searched only near its trailer ([[forEachTrailerNameMatch]]). A gate or
  * a narrowed search never changes a detection, a signal or a scrubbed
  * byte; PropertySpec checks both, and PiiCoreSpec locks the output on the
  * Synth corpus.
  */
object PiiCore {

  /** Thread-confined reusable matchers: java.util.regex.Matcher allocation
    * (~30 per row otherwise) dominated the allocation rate at 32 threads,
    * stalling all threads in young-GC. reset()/region() reuse is exact:
    * region() with default (opaque) bounds behaves like matching a
    * substring, which is what the reference's window slicing does.
    */
  private final class MatcherSet {
    private def m(p: Pattern): Matcher = p.matcher("")
    val cpfFormatted = m(Patterns.CpfFormatted)
    val cpfPartial = m(Patterns.CpfPartial)
    val cpfNumeric = m(Patterns.CpfNumericContext)
    val email = m(Patterns.Email)
    val phone = m(Patterns.Phone)
    val phoneIntl = m(Patterns.PhoneIntl)
    val phoneNoParens = m(Patterns.PhoneNoParens)
    val phoneWithContext = m(Patterns.PhoneWithContext)
    val rg = m(Patterns.Rg)
    val sei: Array[Matcher] = Patterns.SeiPatterns.map(m).toArray
    val notCpf: Array[Matcher] = Patterns.NotCpfPatterns.map(m).toArray
    val firstPerson: Array[Matcher] = Patterns.FirstPerson.map(m).toArray
    val address: Array[Matcher] = Patterns.AddressMarkers.map(m).toArray
    val contact: Array[Matcher] = Patterns.ContactMarkers.map(m).toArray
    val names: Array[Matcher] = Patterns.StrongNameContexts.map(m).toArray
    val nameTrailer = m(Patterns.NameTrailer)
    val card = m(Patterns.CardCandidate)
    val ssn = m(Patterns.Ssn)
    val apiKey = m(Patterns.ApiKey)
  }
  private val matchers: ThreadLocal[MatcherSet] =
    ThreadLocal.withInitial(() => new MatcherSet)

  /** A span scheduled for scrubbing (may include occurrences that were
    * dedup-suppressed in `detalhes` — duplicates are still scrubbed).
    */
  private final case class ScrubSpan(tipo: String, beg: Int, end: Int)

  private def digitsOnly(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** SEI/NUP/processo context window: [pos-50, pos+30)
    * (patterns.py:256-268).
    */
  private def isSeiContext(ms: MatcherSet, text: String, pos: Int): Boolean = {
    val beg = math.max(0, pos - 50)
    val end = math.min(text.length, pos + 30)
    var i = 0
    while (i < ms.sei.length) {
      if (ms.sei(i).reset(text).region(beg, end).find()) return true
      i += 1
    }
    false
  }

  /** not-CPF (CDA/CNH/NIS/...) window: [pos-30, pos+15) (patterns.py:270-282). */
  private def isNotCpfContext(ms: MatcherSet, text: String, pos: Int): Boolean = {
    val beg = math.max(0, pos - 30)
    val end = math.min(text.length, pos + 15)
    var i = 0
    while (i < ms.notCpf.length) {
      if (ms.notCpf(i).reset(text).region(beg, end).find()) return true
      i += 1
    }
    false
  }

  /** Strip title prefixes from a candidate name (detector.py:270-285).
    * Iterates the prefix list in order, stripping leading "Px " / "Px. "
    * then leading/trailing '.'/' ' chars, exactly as the reference.
    */
  private[vigil] def cleanName(name0: String): String = {
    var name = name0
    if (name == null || name.isEmpty) return ""
    Patterns.NamePrefixes.foreach { p =>
      if (name.startsWith(p + " ") || name.startsWith(p + ". ")) {
        name = name.substring(p.length)
        // Python str.strip('. ') — strip leading+trailing '.' and ' '
        var b = 0
        var e = name.length
        while (b < e && (name.charAt(b) == '.' || name.charAt(b) == ' ')) b += 1
        while (e > b && (name.charAt(e - 1) == '.' || name.charAt(e - 1) == ' ')) e -= 1
        name = name.substring(b, e)
      }
    }
    name.trim
  }

  /** Validity filter: 2-6 words, not institutional (detector.py:287-321). */
  private[vigil] def isValidPersonName(name: String): Boolean = {
    if (name == null) return false
    val n = name.trim
    if (n.isEmpty) return false
    val words = n.split(" ").count(_.nonEmpty)
    words >= 2 && words <= 6 && !Exclusions.isInstitutional(n)
  }

  /** Every keyword a [[PreScan]] gate tests, lowercase; bit `k` of a
    * scan's keyword mask stands for `Keywords(k)`. Each starts with an
    * ASCII letter.
    */
  private[vigil] val Keywords: Array[String] = Array(
    "fone", "tel", "cel", "contato", "what", "zap", "whats",
    "meu", "nome", "chamo", "cpf", "portador", "cidad", "requerente",
    "solicitante", "servidor", "funcion", "rg", "sk-", "akia", "ghp_", "xox",
    "minha", "sou ", "nome é", "moro", "resid", "rua", "avenida", "quadra",
    "conjunto", "bloco", "lote", "apartamento", "apt", "cep")
  require(Keywords.length <= 64 && Keywords.distinct.length == Keywords.length)

  private def kwMask(kws: String*): Long = kws.foldLeft(0L) { (m, kw) =>
    val k = Keywords.indexOf(kw)
    require(k >= 0, s"not a PreScan keyword: $kw")
    m | (1L << k)
  }
  /** Keyword indices by first char, for the ASCII chars that start one. */
  private val KeywordsByFirst: Array[Array[Int]] = Array.tabulate(128) { c =>
    Keywords.indices.filter(k => Keywords(k).charAt(0) == c).toArray
  }
  // the gates' keyword sets: any one of them opens the gate
  private val PhoneContextKw = kwMask("fone", "tel", "cel", "contato", "what", "zap")
  private val MeuNomeKw = kwMask("meu", "nome")
  private val NameKw: Array[Long] = Array(MeuNomeKw, kwMask("nome"),
    kwMask("chamo"), kwMask("cpf"), kwMask("cpf", "portador"),
    kwMask("cidad", "requerente", "solicitante"), kwMask("servidor", "funcion"))
  private val RgKw = kwMask("rg")
  private val KeyKw = kwMask("sk-", "akia", "ghp_", "xox")
  private val FirstPersonKw = kwMask("meu", "minha", "sou ", "chamo", "nome é")
  private val AddressKw = kwMask("moro", "resid", "rua", "avenida", "quadra",
    "conjunto", "bloco", "lote", "apartamento", "apt", "cep")
  private val ContactKw = kwMask("contato", "whats", "zap", "fone", "cel")

  /** `c` as `String.toLowerCase(Locale.ROOT)` maps it, for a char that
    * maps to one char: every char but U+0130 İ, a fold char that opens every
    * gate anyway.
    */
  @inline private def lowerChar(c: Char): Char =
    if (c < 128) { if (c >= 'A' && c <= 'Z') (c + 32).toChar else c }
    else Character.toLowerCase(c)

  /** Whether `kw` occurs case-folded at `i` of `text` (its first char is
    * already known to match).
    */
  private def keywordAt(text: String, i: Int, kw: String): Boolean = {
    val m = kw.length
    if (i + m > text.length) return false
    var k = 1
    while (k < m) {
      if (lowerChar(text.charAt(i + k)) != kw.charAt(k)) return false
      k += 1
    }
    true
  }

  /** One O(n) pass that decides every gate before any pattern runs: how
    * many digits the text holds, whether it has an '@', and which
    * [[Keywords]] it contains, as `toLowerCase(Locale.ROOT).contains(kw)`
    * would say. Keywords are found by first-char dispatch at each ASCII
    * position into a bit mask, with no lowercase copy of the text. A gate
    * is a necessary condition of the patterns it guards (PropertySpec
    * checks each gate against its patterns, and the mask against a
    * per-keyword `contains`).
    */
  private[vigil] final class PreScan(text: String) {
    /** `\d` code points: `Character.isDigit(int)` (Nd), not ASCII '0'-'9' —
      * the gated regexes run with UNICODE_CHARACTER_CLASS where `\d`
      * matches every Nd code point (Python-re parity), supplementary-plane
      * ones (e.g. Osmanya U+104A0) included.
      */
    var digits = 0
    var hasAt = false
    /** U+0130 İ, U+0131 ı, U+017F ſ or U+212A K: chars that `UNICODE_CASE`
      * matches against an ASCII keyword letter (i, s, k) where
      * `toLowerCase(ROOT).contains` does not find it.
      */
    var hasFoldChar = false
    private var found = 0L
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c > 127) {
        val cp = text.codePointAt(i)
        if (Character.isDigit(cp)) digits += 1
        else if (cp == 0x130 || cp == 0x131 || cp == 0x17F || cp == 0x212A) hasFoldChar = true
        i += Character.charCount(cp)
      } else {
        if (c >= '0' && c <= '9') digits += 1
        else if (c == '@') hasAt = true
        else {
          val cands = KeywordsByFirst(lowerChar(c))
          var j = 0
          while (j < cands.length) {
            val k = cands(j)
            if ((found & (1L << k)) == 0L && keywordAt(text, i, Keywords(k)))
              found |= 1L << k
            j += 1
          }
        }
        i += 1
      }
    }
    /** Bit k set: the text holds `Keywords(k)`, case-folded. */
    def keywordMask: Long = found
    private def any(mask: Long): Boolean = hasFoldChar || (found & mask) != 0L

    // the fewest `\d` a match holds: \d{3}.\d{3}.\d{3}-\d{2} / \d{9}-\d{2} /
    // \d{11}; (\d{2}) \d{4}\d{4} in every phone variant; \d([ -]?\d){12,};
    // \d{3}-\d{2}-\d{4}
    def cpfPossible: Boolean = digits >= 11
    def phonePossible: Boolean = digits >= 10
    def cardPossible: Boolean = digits >= 13
    def ssnPossible: Boolean = digits >= 9
    // PhoneWithContext's alternation; keywords kept free of i/k/s
    def phoneContextPossible: Boolean = any(PhoneContextKw)
    /** Per [[Patterns.StrongNameContexts]] pattern, in list order: whether
      * the text holds a keyword every match of that pattern contains (the
      * first one needs both "meu" and "nome").
      */
    val nameGates: Array[Boolean] = Array.tabulate(NameKw.length) { k =>
      if (k == 0) hasFoldChar || (found & MeuNomeKw) == MeuNomeKw else any(NameKw(k))
    }
    // no digit requirement: the RG charset [\d.-]+ matches dots/dashes
    // alone, so "rg" presence is the only safe gate
    def rgPossible: Boolean = any(RgKw)
    def keyPossible: Boolean = any(KeyKw)
    def firstPersonPossible: Boolean = any(FirstPersonKw)
    def addressPossible: Boolean = any(AddressKw)
    def contactPossible: Boolean = any(ContactKw) && digits > 0
  }

  /** Chars of [[Patterns.NameSpanChar]], over the BMP: no supplementary
    * code point is one (PropertySpec checks it), so the walk-back below
    * stops at a surrogate.
    */
  private val NameSpanChars: java.util.BitSet = {
    val bs = new java.util.BitSet(0x10000)
    val m = Patterns.NameSpanChar.matcher("")
    (0 until 0x10000).foreach { c => if (m.reset(c.toChar.toString).matches()) bs.set(c) }
    bs
  }

  /** Calls `f` on each match of `StrongNameContexts(4)`,
    * `(NomeCompleto)[,\s]+(?:CPF|portador)`, with `m` (its matcher) positioned
    * on it, yielding exactly the matches and groups of a plain
    * `while (m.find())` loop over `text`, in the same order. `trailer`
    * matches [[Patterns.NameTrailer]]. From search position `p`:
    *   1. find the first trailer starting at or after `p`;
    *   2. walk back from it over name-span chars, stopping at `w` ≥ `p`;
    *   3. run `find()` on `region(w, lastTrailerEnd)`; continue from its end.
    * Exact because every char of a match before its trailer is a name-span
    * char, so no match starting at or after `p` starts before `w` (not even
    * one running past the first trailer to a later one); and every match
    * ends at a trailer's end while the pattern has no lookaround, `\b` or
    * anchor, so capping the region at the last trailer's end drops no
    * match and reorders no backtracking choice.
    */
  private[vigil] def forEachTrailerNameMatch(m: Matcher, trailer: Matcher,
      text: String)(f: Matcher => Unit): Unit = {
    // "cpf" and "portador" cannot overlap, so find() visits every trailer
    trailer.reset(text)
    var lastEnd = -1
    while (trailer.find()) lastEnd = trailer.end
    var p = 0
    while (p < lastEnd && trailer.region(p, text.length).find()) {
      var w = trailer.start
      while (w > p && NameSpanChars.get(text.charAt(w - 1))) w -= 1
      if (!m.region(w, lastEnd).find()) return
      f(m)
      p = m.end
    }
  }

  /** Full analysis of an already-cleaned text (see TextClean.clean). */
  def analyze(text: String): Analysis = {
    if (text == null || text.isEmpty) return Analysis("", Nil, Nil, "")
    val pre = new PreScan(text)
    val ms = matchers.get()
    val details = mutable.ArrayBuffer.empty[Detection]
    val scrub = mutable.ArrayBuffer.empty[ScrubSpan]

    // --- R1/R2: CPF formatted + partial (shared digit-dedupe set;
    //     formatted wins — patterns.py:158-187)
    val seenCpf = mutable.HashSet.empty[String]
    if (pre.cpfPossible) {
      val m = ms.cpfFormatted.reset(text)
      while (m.find()) {
        if (!isSeiContext(ms, text, m.start)) {
          scrub += ScrubSpan("cpf", m.start, m.end)
          val key = digitsOnly(m.group)
          if (seenCpf.add(key)) details += Detection("cpf", m.group, 0.95, m.start, m.end)
        }
      }
      val mp = ms.cpfPartial.reset(text)
      while (mp.find()) {
        if (!isSeiContext(ms, text, mp.start)) {
          scrub += ScrubSpan("cpf", mp.start, mp.end)
          val key = digitsOnly(mp.group)
          if (seenCpf.add(key)) details += Detection("cpf", mp.group, 0.90, mp.start, mp.end)
        }
      }
    }

    // --- R3: CPF numeric with explicit context; emits capture group 1
    //     (digits only) — no dedupe vs R1/R2 in the reference
    //     (patterns.py:189-201)
    if (pre.cpfPossible) {
      val m = ms.cpfNumeric.reset(text)
      while (m.find()) {
        if (!isNotCpfContext(ms, text, m.start)) {
          scrub += ScrubSpan("cpf", m.start(1), m.end(1))
          details += Detection("cpf", m.group(1), 0.90, m.start(1), m.end(1))
        }
      }
    }

    // --- R4: email, no dedupe (patterns.py:203-208)
    if (pre.hasAt) {
      val m = ms.email.reset(text)
      while (m.find()) {
        scrub += ScrubSpan("email", m.start, m.end)
        details += Detection("email", m.group, 0.95, m.start, m.end)
      }
    }

    // --- R5: phone cascade — fixed variant order decides which surface
    //     form/confidence wins; dedupe by digits, reject <10 digits
    //     (patterns.py:210-247)
    if (pre.phonePossible) {
      val seenPhone = mutable.HashSet.empty[String]
      def phonePass(m0: Matcher, conf: Double): Unit = {
        val m = m0.reset(text)
        while (m.find()) {
          val norm = digitsOnly(m.group)
          if (norm.length >= 10) {
            scrub += ScrubSpan("telefone", m.start, m.end)
            if (seenPhone.add(norm))
              details += Detection("telefone", m.group, conf, m.start, m.end)
          }
        }
      }
      phonePass(ms.phone, 0.95)
      phonePass(ms.phoneIntl, 0.95)
      if (pre.phoneContextPossible) phonePass(ms.phoneWithContext, 0.90)
      phonePass(ms.phoneNoParens, 0.80)
    }

    // --- R6: RG, no dedupe (patterns.py:249-254)
    if (pre.rgPossible) {
      val m = ms.rg.reset(text)
      while (m.find()) {
        scrub += ScrubSpan("rg", m.start, m.end)
        details += Detection("rg", m.group, 0.85, m.start, m.end)
      }
    }

    // --- N2-N6: conservative name extraction (detector.py:243-268) —
    //     per-pattern finditer in fixed order, clean + validate + dedupe by
    //     lowercased name (first occurrence wins, conf 0.80)
    val nameGates = pre.nameGates
    if (nameGates.contains(true)) {
      val seenNames = mutable.HashSet.empty[String]
      def emitName(m: Matcher): Unit = {
        val raw = m.group(1).trim
        val name = cleanName(raw)
        if (name.nonEmpty && isValidPersonName(name)) {
          // span of the *cleaned* name inside the capture (cleaning only
          // strips from the edges, so indexOf is exact)
          val rel = m.group(1).indexOf(name)
          val beg = if (rel >= 0) m.start(1) + rel else m.start(1)
          val end = beg + name.length
          scrub += ScrubSpan("nome", beg, end)
          if (seenNames.add(name.toLowerCase(java.util.Locale.ROOT)))
            details += Detection("nome", name, 0.80, beg, end)
        }
      }
      ms.names.indices.foreach { k =>
        if (nameGates(k)) {
          val m = ms.names(k).reset(text)
          if (k == Patterns.TrailerNameIndex)
            forEachTrailerNameMatch(m, ms.nameTrailer, text)(emitName)
          else while (m.find()) emitName(m)
        }
      }
    }

    // --- L5: credit card via Luhn (north rule, SURVEY §2.10). Skip
    //     candidates overlapping an earlier span (e.g. a +55 phone whose 13
    //     digits happen to pass mod-10).
    if (pre.cardPossible) {
      val seenCard = mutable.HashSet.empty[String]
      val m = ms.card.reset(text)
      while (m.find()) {
        val digits = digitsOnly(m.group)
        val overlaps = scrub.exists(s => m.start < s.end && s.beg < m.end)
        if (!overlaps && Patterns.luhnValid(digits)) {
          scrub += ScrubSpan("card", m.start, m.end)
          if (seenCard.add(digits))
            details += Detection("card", m.group, 0.95, m.start, m.end)
        }
      }
    }

    // --- L6: SSN + API keys (north rule)
    if (pre.ssnPossible) {
      val m = ms.ssn.reset(text)
      while (m.find()) {
        val overlaps = scrub.exists(s => m.start < s.end && s.beg < m.end)
        if (!overlaps) {
          scrub += ScrubSpan("ssn", m.start, m.end)
          details += Detection("ssn", m.group, 0.90, m.start, m.end)
        }
      }
    }
    if (pre.keyPossible) {
      val k = ms.apiKey.reset(text)
      while (k.find()) {
        scrub += ScrubSpan("api_key", k.start, k.end)
        details += Detection("api_key", k.group, 0.90, k.start, k.end)
      }
    }

    // --- R10: contextual signals — each family fires at most once
    //     (patterns.py:284-317)
    val sinais = mutable.ArrayBuffer.empty[Signal]
    if (pre.firstPersonPossible && ms.firstPerson.exists(_.reset(text).find()))
      sinais += Signal("contexto_1pessoa", "marcador_primeira_pessoa", 0.70)
    if (pre.addressPossible && ms.address.exists(_.reset(text).find()))
      sinais += Signal("endereco", "marcador_endereco", 0.60)
    if (pre.contactPossible && ms.contact.exists(_.reset(text).find()))
      sinais += Signal("contato", "marcador_contato", 0.65)

    Analysis(text, details.toSeq, sinais.toSeq, scrubText(text, scrub.toSeq))
  }

  /** Normative scrub (SURVEY.md §2.11): overlapping spans merged
    * first-emitted-wins (R7 emission order), then replaced right-to-left by
    * start offset so earlier offsets stay valid.
    */
  private def scrubText(text: String, spans: Seq[ScrubSpan]): String = {
    if (spans.isEmpty) return text
    val kept = mutable.ArrayBuffer.empty[ScrubSpan]
    spans.foreach { s =>
      if (!kept.exists(k => s.beg < k.end && k.beg < s.end)) kept += s
    }
    val ordered = kept.sortBy(-_.beg)
    val sb = new java.lang.StringBuilder(text)
    ordered.foreach { s =>
      sb.replace(s.beg, s.end, PiiTypes.ScrubToken(s.tipo))
    }
    sb.toString
  }

  /** Convenience: clean + analyze raw text (the reference's detect()). */
  def detect(raw: String): Analysis = analyze(TextClean.clean(raw))
}
