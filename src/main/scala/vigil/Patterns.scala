package vigil

import java.util.regex.Pattern

/** Normative regex constants for PII detection.
  *
  * Pattern strings reproduce the semantics of the reference
  * (/root/reference/src/patterns.py:37-101 and detector.py:240-255); the
  * north-rule extensions (card/ssn/api-key) follow SURVEY.md §2.10 L5-L6.
  *
  * Flag parity note: Python's `re` is Unicode-aware by default (`\b`, `\d`,
  * `\s`, `\w` use Unicode properties). Java needs UNICODE_CHARACTER_CLASS for
  * the same behavior — without it `\bRG` would match inside "órgão" because
  * 'ó' is not an ASCII word char. IGNORECASE additionally needs UNICODE_CASE
  * so accented letters case-fold.
  */
object Patterns {
  private val U = Pattern.UNICODE_CHARACTER_CLASS
  private val UI =
    Pattern.UNICODE_CHARACTER_CLASS | Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE

  private def p(re: String): Pattern = Pattern.compile(re, U)
  private def pi(re: String): Pattern = Pattern.compile(re, UI)

  // --- CPF (patterns.py:37-44) -------------------------------------------
  val CpfFormatted: Pattern = p("""\d{3}\.\d{3}\.\d{3}-\d{2}""")
  val CpfPartial: Pattern = p("""\b\d{9}-\d{2}\b""")
  val CpfNumericContext: Pattern = pi("""(?:CPF\s*[:\s]*)\b(\d{11})\b""")

  // --- Email (patterns.py:47) --------------------------------------------
  val Email: Pattern = pi("""[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}""")

  // --- Phone variants (patterns.py:50-59) --------------------------------
  val Phone: Pattern = p("""\(\d{2}\)\s*\d{4,5}-?\d{4}""")
  val PhoneIntl: Pattern = p("""\+55\s*\(?\d{2}\)?\s*\d{4,5}[-\s]?\d{4}""")
  val PhoneNoParens: Pattern = p("""\b\d{2}\s+\d{4,5}[-\s]?\d{4}\b""")
  val PhoneWithContext: Pattern = pi(
    """(?:fone|telefone|tel|celular|cel|contato|whatsapp|whats|zap)\s*[:\s]*\(?\d{2}\)?[\s.-]?\d{4,5}[\s.-]?\d{4}"""
  )

  // --- RG (patterns.py:62) -----------------------------------------------
  val Rg: Pattern = pi("""\bRG[:\s]*[\d.-]+""")

  // --- Anti-false-positive windows (patterns.py:69-78) -------------------
  val SeiPatterns: Seq[Pattern] = Seq(
    pi("""(?:SEI|NUP)\s*(?:nº|n°|n\.?)?\s*[\d./-]+"""),
    pi("""(?:Processo|processo)\s*(?:nº|n°|n\.?)?\s*[\d./-]+"""),
    pi("""protocolo\s*(?:nº|n°|n\.?)?\s*[\d./-]+""")
  )
  val NotCpfPatterns: Seq[Pattern] = Seq(
    pi("""(?:CDA|CNH|NIS|matrícula|RNE|PIS|PASEP)\s*(?:nº|n°|n\.?)?\s*[:\s]*\d{11}""")
  )

  // --- Contextual signals (patterns.py:85-101) ---------------------------
  val FirstPerson: Seq[Pattern] = Seq(
    pi("""(?:meu|minha)\s+(?:CPF|nome|RG|telefone|email|e-mail|celular|endereço)"""),
    pi("""(?:sou|chamo-me|nome\s+é)\s+[A-Z][a-záàâãéêíóôõúç]+\s+[A-Z]""")
  )
  val AddressMarkers: Seq[Pattern] = Seq(
    pi("""(?:moro|resido|residente)\s+(?:na?|em)"""),
    pi("""(?:rua|avenida|quadra|conjunto|bloco|lote|apartamento|apt\.?)\s+"""),
    pi("""CEP[:\s]*\d{5}-?\d{3}""")
  )
  val ContactMarkers: Seq[Pattern] = Seq(
    pi("""(?:contato|WhatsApp|whatsapp|Whats|zap)\s*[:\s]*\(?\d"""),
    pi("""(?:fone|telefone|cel|celular)\s*[:\s]*\(?\d""")
  )

  // --- Name grammar + strong contexts (detector.py:240-255) --------------
  // Bounded repetition {1,5} kept to avoid catastrophic backtracking.
  private val NomeLower = "a-záàâãéêíóôõúç"
  private val NomeParte = "[A-Z][" + NomeLower + "]+"
  private val NomeCompleto =
    NomeParte + """(?:\s+(?:de|da|do|das|dos|e)?\s*""" + NomeParte + """){1,5}"""
  private val Trailer = "(?:CPF|portador)"

  /** In reference list order — emission order is observable in outputs. */
  val StrongNameContexts: Seq[Pattern] = Seq(
    pi("""(?:meu\s+nome\s+(?:é|completo\s+é))[:\s]+(""" + NomeCompleto + """)"""),
    pi("""(?:nome)[:\s]+(""" + NomeCompleto + """)"""),
    pi("""(?:chamo-me|me\s+chamo)[:\s]+(""" + NomeCompleto + """)"""),
    pi("""(?:CPF[:\s]*[\d.-]+[,\s]+)(""" + NomeCompleto + """)"""),
    pi("""(""" + NomeCompleto + """)[,\s]+""" + Trailer),
    pi("""(?:cidadão|cidadã|requerente|solicitante)[:\s]+(""" + NomeCompleto + """)"""),
    pi("""(?:servidor(?:a)?|funcionário(?:a)?)[:\s]+(""" + NomeCompleto + """)""")
  )

  /** Index in [[StrongNameContexts]] of the one pattern with no literal
    * prefix: the name comes first and the trailer `(?:CPF|portador)` last.
    */
  val TrailerNameIndex = 4
  /** That pattern's trailer alone. */
  val NameTrailer: Pattern = pi(Trailer)
  /** One char of that pattern's match before its trailer: the union of
    * `[A-Z]`, `[a-záàâãéêíóôõúç]`, `\s` and `,` (the connectors de/da/...
    * are letters of the second class). Under `UI` `[A-Z]` matches no char
    * the second class misses, but the union is the obvious superset.
    */
  val NameSpanChar: Pattern = pi("[A-Z" + NomeLower + """\s,]""")

  /** Title prefixes stripped from extracted names (detector.py:278-280). */
  val NamePrefixes: Seq[String] = Seq("Dr", "Dra", "Sr", "Sra", "Prof", "Profa")

  // --- North-rule scrub-grade extensions (SURVEY.md §2.10 L5-L6) ---------
  /** Credit-card candidate: 13-19 digits with optional space/dash
    * separators; confirmed by Luhn mod-10 before it becomes a detection.
    * Lookarounds reject candidates glued to more digit groups via ./- or /
    * (process numbers like "42199-37595215/2026-03" otherwise pass Luhn
    * ~10% of the time — found by the fixture fuzz corpus).
    */
  val CardCandidate: Pattern =
    p("""(?<![\d./-])\b\d(?:[ -]?\d){12,18}\b(?![./-]?\d)""")
  /** US SSN shape. */
  val Ssn: Pattern = p("""\b\d{3}-\d{2}-\d{4}\b""")
  /** API-key shapes: OpenAI-style sk-, AWS AKIA, GitHub ghp_, generic hex. */
  val ApiKey: Pattern = p(
    """\b(?:sk-[A-Za-z0-9_-]{16,64}|AKIA[A-Z0-9]{16}|ghp_[A-Za-z0-9]{20,64}|xox[bpars]-[A-Za-z0-9-]{10,64})\b"""
  )

  /** Luhn mod-10 checksum over the digits of a candidate string. */
  def luhnValid(digits: String): Boolean = {
    if (digits.length < 13 || digits.length > 19) return false
    var sum = 0
    var alt = false
    var i = digits.length - 1
    while (i >= 0) {
      var d = digits.charAt(i) - '0'
      if (alt) { d *= 2; if (d > 9) d -= 9 }
      sum += d
      alt = !alt
      i -= 1
    }
    sum % 10 == 0
  }
}
