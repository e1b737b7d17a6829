package vigil

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Human-review triage (SURVEY.md §2.12; reference
  * /root/reference/src/human_review.py).
  *
  * Derives, from the scored turns, one review row per (turn, detected
  * value) that merits human attention: confidence banding (H1) plus six
  * context families for names (H2), consolidated per (turn, value) keeping
  * the most-prioritary reason (W1), priority-sorted (W2).
  *
  * Review runs per row, as the reference triages each record on its own:
  * [[ReviewItemsExpr]] bands every detail of a PII turn, runs the six
  * family patterns only when the turn has a `nome` detail, applies the
  * known-artist rule and folds W1 inside the row; the snippet and the
  * explanation are column algebra over the exploded items, and the W2 sort
  * is the only exchange. Duplicate (conv_id, turn_idx) rows are therefore
  * reviewed separately. The earlier `(conv_id, turn_idx, lower(valor))`
  * window, kept as the spec twin `vigil.ColumnReview`, consolidated such
  * duplicates together and broke their `arrival` ties arbitrarily; it also
  * shuffled every detection with its turn's full text.
  */
object Review {

  // Context-family patterns (data parity: human_review.py:89-161).
  // Java inline flags (?iU) = CASE_INSENSITIVE + UNICODE_CHARACTER_CLASS
  // (which implies UNICODE_CASE) — matching Python's re.IGNORECASE.
  private def family(patterns: Seq[String]): String =
    "(?iU)" + patterns.map(p => s"(?:$p)").mkString("|")

  val ArtisticRe: String = family(Seq(
    """\b(vitral|vitrais|mosaico|mosaicos|escultura|esculturas|afresco|afrescos)\b""",
    """\b(painéis?)\s+(artístico|de\s+arte|decorativo|azulejo)""",
    """\bpainéis\s+(?:de\s+)?[A-Z][a-záàâãéêíóôõúç]+""",
    """\b(obra|obras)\s+de\s+arte\b""",
    """\b(artista|artistas|pintor|pintores|escultor|escultores)\b""",
    """\bpatrimônio\s+(cultural|histórico|artístico|tombado)\b""",
    """\b(tombado|tombamento)\b""",
    """\bmuseu\s+(?:de\s+)?(?:arte|belas\s+artes)\b""",
    """\bgaleria\s+(?:de\s+)?arte\b""",
    """\b(lustre|lustres|luminária|luminárias)\s+(?:antiga|antigo|históric)"""
  ))
  val AcademicRe: String = family(Seq(
    """\b(pesquisador|pesquisadora|orientador|orientadora)\b""",
    """\b(prof\.|profa\.|professor|professora)\s+[A-Z]""",
    """\bDr\.?\s+[A-Z]""",
    """\bDoutora?\.?\s+[A-Z]""",
    """\b(mestrado|doutorado|tese|dissertação|pós-graduação)\b""",
    """\buniversidade\s+(?:de|do|da|federal|estadual|católica)\b""",
    """\bfaculdade\s+(?:de|do|da)\b""",
    """\binstituto\s+(?:brasileiro\s+de\s+)?(?:ensino|pesquisa|educação)\b""",
    """\b(artigo|publicação|pesquisa)\s+(?:científica|acadêmica)\b""",
    """\bprojeto\s+(?:de\s+)?(?:pesquisa|tcc|final)\b"""
  ))
  val JournalisticRe: String = family(Seq(
    """\b(segundo|conforme|de\s+acordo\s+com)\s+(?:a\s+)?(?:reportagem|matéria|notícia)\b""",
    """\b(publicado|publicada)\s+(?:no|na|em)\s+(?:jornal|revista|site)\b""",
    """\bfonte[:\s]+[A-Z]""",
    """\b(jornalista|repórter|colunista)\s+[A-Z]"""
  ))
  val PublicOfficialRe: String = family(Seq(
    """\b(governador|governadora)\s+[A-Z]""",
    """\b(secretário|secretária)\s+(?:de\s+estado\s+)?[A-Z]""",
    """\b(ministro|ministra)\s+[A-Z]""",
    """\b(prefeito|prefeita)\s+[A-Z]""",
    """\b(deputado|deputada|senador|senadora)\s+[A-Z]""",
    """\b(presidente|vice-presidente)\s+[A-Z]""",
    """\bex-(?:governador|prefeito|ministro|presidente)\b"""
  ))
  val LegalRe: String = family(Seq(
    """\bOAB[/\s]?[A-Z]{2}[:\s]*\d+""",
    """\badvogado\s+[A-Z]""",
    """\badvogada\s+[A-Z]""",
    """\bprocurador\s+[A-Z]""",
    """\bdefensor\s+[A-Z]""",
    """\bjuiz\s+[A-Z]""",
    """\bjuíza\s+[A-Z]""",
    """\bdesembargador\s+[A-Z]"""
  ))
  val AuthorshipRe: String = family(Seq(
    """\b(?:autor|autora|escrito\s+por)\s+[A-Z]""",
    """\bsegundo\s+[A-Z][a-záàâãéêíóôõúç]+\s+\(\d{4}\)""",
    """\b[A-Z][A-Z]+,\s+[A-Z][a-z]+\.\s+\(\d{4}\)""",
    """\bapud\s+[A-Z]""",
    """\bin:\s+[A-Z]"""
  ))

  /** Known-artist list (human_review.py:164-174); matched bidirectionally
    * by substring (human_review.py:380-386).
    */
  val KnownArtists: Seq[String] = Seq(
    "athos bulcão", "athos bulsão", "burle marx", "roberto burle marx",
    "oscar niemeyer", "cândido portinari", "portinari", "di cavalcanti",
    "tarsila do amaral", "alfredo volpi", "marianne peretti", "gugon"
  )

  /** An H2 context family: its pattern and the (motivo, prioridade) it
    * gives a name in a text it matches. */
  final case class ContextFamily(pattern: String, reason: (String, String))

  /** The six families in reference emission order (human_review.py:314-343).
    * The known-artist rule emits the artistic family's reason right after
    * the artistic family itself.
    */
  val ContextFamilies: Seq[ContextFamily] = Seq(
    ContextFamily(ArtisticRe, "contexto_artistico" -> "alta"),
    ContextFamily(AcademicRe, "contexto_academico" -> "media"),
    ContextFamily(JournalisticRe, "contexto_jornalistico" -> "media"),
    ContextFamily(PublicOfficialRe, "contexto_cargo_publico" -> "baixa"),
    ContextFamily(LegalRe, "contexto_juridico" -> "baixa"),
    ContextFamily(AuthorshipRe, "contexto_autoria" -> "baixa"))

  /** H1 reasons (human_review.py:305-312): below the low threshold, and
    * between the low and the high one. */
  val ScoreLow: (String, String) = "score_baixo" -> "alta"
  val ScoreMid: (String, String) = "score_medio" -> "baixa"

  /** Reason-consolidation rank (human_review.py:262-273). */
  val ReasonRank: Map[String, Int] = Map(
    "contexto_artistico" -> 1, "contexto_academico" -> 2,
    "contexto_juridico" -> 3, "contexto_cargo_publico" -> 4,
    "score_medio" -> 5, "score_baixo" -> 6,
    "contexto_jornalistico" -> 7, "contexto_autoria" -> 8,
    "nome_unico" -> 9, "ambiguidade_institucional" -> 10
  )
  /** Export priority order (human_review.py:491-495). */
  val PriorityRank: Map[String, Int] = Map("alta" -> 0, "media" -> 1, "baixa" -> 2)

  /** Legal-rationale explanation per reason (human_review.py:412-456). */
  val Explanations: Map[String, String] = Map(
    "score_baixo" -> ("Score de confiança do modelo abaixo do threshold. " +
      "Maior chance de falso positivo."),
    "score_medio" -> ("Score de confiança moderado. Provavelmente correto, " +
      "mas vale verificar."),
    "contexto_artistico" -> ("Texto contém referências a arte/patrimônio. " +
      "Nome pode ser de artista, não dado pessoal do solicitante."),
    "contexto_academico" -> ("Texto contém contexto acadêmico. " +
      "Nome pode ser dado manifestamente público (LGPD Art. 7º, § 4º)."),
    "contexto_jornalistico" -> ("Texto contém contexto jornalístico. " +
      "LGPD não se aplica a fins jornalísticos (Art. 4º, II, a)."),
    "contexto_cargo_publico" -> ("Nome de autoridade/cargo público detectado. " +
      "Dados de agentes públicos são públicos por natureza."),
    "contexto_juridico" -> ("Contexto jurídico detectado (OAB, advogado, juiz). " +
      "Dados profissionais públicos, não dados pessoais sensíveis."),
    "contexto_autoria" -> ("Contexto de autoria/referência bibliográfica. " +
      "Nome pode ser de autor citado, não do solicitante."),
    "nome_unico" -> ("Apenas primeiro nome detectado, sem sobrenome. " +
      "Pode não permitir identificação direta."),
    "ambiguidade_institucional" -> ("Nome pode ser institucional ou de pessoa física. " +
      "Requer análise do contexto.")
  )

  final case class Config(
      highConfidenceThreshold: Double = 0.95,
      lowConfidenceThreshold: Double = 0.80,
      contextWindow: Int = 100
  )
  val Default: Config = Config()

  private def reasonStruct(reason: (String, String)): Column =
    struct(lit(reason._1).as("motivo"), lit(reason._2).as("prioridade"))

  /** H1 confidence banding as a (motivo, prioridade) struct, null when the
    * score is high-confidence (≥ highConfidenceThreshold — such detections
    * are NOT reviewed; human_review.py:305-312): score < low →
    * score_baixo/alta, low ≤ score < high → score_medio/baixa. The column
    * form of the oracle-paired q_review_bands slice; [[ReviewItemsExpr]]'s
    * banding is locked to it in ReviewKernelSpec.
    */
  def scoreBandReason(score: Column, cfg: Config = Default): Column =
    when(score < cfg.lowConfidenceThreshold, reasonStruct(ScoreLow))
      .when(score < cfg.highConfidenceThreshold, reasonStruct(ScoreMid))

  /** H4 snippet extraction (human_review.py:388-410): ±window characters
    * around the FIRST case-insensitive occurrence of `valor` in `text`,
    * with '...' ellipses on each truncated side; when the value does not
    * occur verbatim, fall back to the first 2·window characters (plus
    * '...' if the text is longer). All positions are CHARACTER-based
    * (instr/substring/length), matching Python str indexing — and DuckDB
    * strpos/substr/length, which is what the q_review_snippet oracle
    * pairs against.
    */
  def snippetExpr(text: Column, valor: Column, window: Int): Column = {
    val p = instr(lower(text), lower(valor)) // 1-based; 0 = not found
    val textLen = length(text)
    val valLen = length(valor)
    val startIdx = greatest(p - 1 - window, lit(0)) // 0-based
    val endIdx = least(p - 1 + valLen + window, textLen)
    val found = concat(
      when(startIdx > 0, lit("...")).otherwise(lit("")),
      substring(text, (startIdx + 1).cast("int"), (endIdx - startIdx).cast("int")),
      when(endIdx < textLen, lit("...")).otherwise(lit("")))
    val notFound = concat(
      substring(text, 1, window * 2),
      when(textLen > window * 2, lit("...")).otherwise(lit("")))
    when(p > 0, found).otherwise(notFound)
  }

  /** From a Decide.scoreTurns frame, produce the consolidated review table:
    * (conv_id, turn_idx, prioridade, tipo_pii, valor_detectado, score,
    * motivo, texto_trecho, explicacao), sorted alta→media→baixa, stable.
    *
    * Every detail type is reviewed (the reference reviews its 5 real
    * types; extended card/ssn/api_key join them under this engine). The
    * plan has no window and one exchange, the W2 sort's, which carries the
    * snippet rather than the turn's text.
    */
  def reviewTable(scored: DataFrame, cfg: Config = Default): DataFrame = {
    val trecho = snippetExpr(col("clean"), col("valor_detectado"), cfg.contextWindow)
    scored
      .filter(col("contem_pii"))
      .select(col("conv_id"), col("turn_idx"), col("clean"),
        inline(vigil.functions.review_items(col("clean"), col("detalhes"), cfg)))
      .select(col("conv_id"), col("turn_idx"), col("prioridade"), col("tipo_pii"),
        col("valor_detectado"), col("score"), col("motivo"),
        regexp_replace(trecho, "\n", " ").as("texto_trecho"),
        coalesce(element_at(typedLit(Explanations), col("motivo")),
          lit("Verificação manual recomendada.")).as("explicacao"),
        col("arrival"))
      // W2 export sort: alta → media → baixa, stable by arrival within turn
      .orderBy(coalesce(element_at(typedLit(PriorityRank), col("prioridade")), lit(9)).asc,
        col("conv_id").asc, col("turn_idx").asc, col("arrival").asc)
      .drop("arrival")
  }
}
