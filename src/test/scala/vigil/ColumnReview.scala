package vigil

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The column-space twin of [[Review.reviewTable]], for specs only: six
  * `rlike` family columns per PII turn, `posexplode` of the details and of
  * a filtered reasons array, and W1 consolidation as a `row_number` window
  * over (conv_id, turn_idx, lower(valor)). `Review.reviewTable` computes
  * the same rows per turn with [[ReviewItemsExpr]]; ReviewKernelSpec
  * compares the two. Unlike the kernel, the window mixes duplicate
  * (conv_id, turn_idx) rows, so compare on inputs whose turn keys are
  * unique.
  */
object ColumnReview {
  import Review._

  private def reasonStruct(reason: (String, String)): Column =
    struct(lit(reason._1).as("motivo"), lit(reason._2).as("prioridade"))

  def reviewTable(scored: DataFrame, cfg: Review.Config = Review.Default): DataFrame = {
    val famCols = ContextFamilies.indices.map(i => s"f_$i")
    val gated = scored
      .filter(col("contem_pii"))
      .select(Seq(col("conv_id"), col("turn_idx"), col("clean"), col("detalhes")) ++
        ContextFamilies.zip(famCols).map { case (f, c) => col("clean").rlike(f.pattern).as(c) }: _*)

    val det = gated.select(
      (Seq(col("conv_id"), col("turn_idx"), col("clean")) ++ famCols.map(col)) :+
        posexplode(col("detalhes")).as(Seq("det_idx", "d")): _*)
      .select(col("*"),
        col("d.tipo").as("tipo_pii"),
        col("d.valor").as("valor_detectado"),
        col("d.confianca").as("score"))
      .drop("d")

    val isName = col("tipo_pii") === "nome"
    val lowerValor = lower(col("valor_detectado"))
    // bidirectional substring match against the known-artist list
    val knownArtist = KnownArtists
      .map(a => lowerValor.contains(a) || lit(a).contains(lowerValor))
      .reduce(_ || _)
    val family = ContextFamilies.zip(famCols).map { case (f, c) =>
      when(isName && col(c), reasonStruct(f.reason))
    }
    // score band first, then the artistic family, the known-artist rule
    // (also contexto_artistico), and the other five families in order
    val reasons = array(
      (scoreBandReason(col("score"), cfg) +: family.head +:
        when(isName && knownArtist, reasonStruct(ContextFamilies.head.reason)) +:
        family.tail): _*)

    val items = det
      .withColumn("reasons", filter(reasons, r => r.isNotNull))
      .select(col("*"), posexplode(col("reasons")).as(Seq("reason_idx", "r")))
      .withColumn("motivo", col("r.motivo"))
      .withColumn("prioridade", col("r.prioridade"))
      .withColumn("arrival", col("det_idx") * 16 + col("reason_idx"))
      .drop("reasons", "r")

    val w = Window
      .partitionBy(col("conv_id"), col("turn_idx"), lowerValor)
      .orderBy(coalesce(element_at(typedLit(ReasonRank), col("motivo")), lit(99)).asc,
        col("arrival").asc)
    items
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("texto_trecho", regexp_replace(
        snippetExpr(col("clean"), col("valor_detectado"), cfg.contextWindow), "\n", " "))
      .withColumn("explicacao",
        coalesce(element_at(typedLit(Explanations), col("motivo")),
          lit("Verificação manual recomendada.")))
      .select("conv_id", "turn_idx", "prioridade", "tipo_pii",
        "valor_detectado", "score", "motivo", "texto_trecho", "explicacao",
        "arrival")
      .orderBy(coalesce(element_at(typedLit(PriorityRank), col("prioridade")), lit(9)).asc,
        col("conv_id").asc, col("turn_idx").asc, col("arrival").asc)
      .drop("arrival")
  }
}
