package vigil.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Result/review sinks with the reference's output contracts
  * (SURVEY.md §2.1 S6-S10; /root/reference/main.py:196-279,
  * human_review.py:459-535).
  */
object Sinks {

  /** S6: CSV result sink — the input columns plus the three result
    * columns, tipos comma-joined (main.py:183-186). Pass-through of any
    * extra input columns is preserved.
    */
  def resultsCsv(scored: DataFrame, path: String): Unit = {
    // the reference CSV carries input columns + the 3 scalar result
    // columns (main.py:183-186) — nested detail/signal arrays are
    // JSON-document territory (S7), and CSV cannot hold them anyway
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val complex = scored.schema.fields.collect {
      case f if (f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType]) && f.name != "tipos_detectados" =>
        f.name
    }
    scored
      .withColumn("tipos_detectados",
        concat_ws(", ", col("tipos_detectados")))
      .drop(complex: _*)
      .write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .csv(path)
  }

  /** S7: nested JSON result document — one `metadata` object (versao,
    * input, totals, configuration), JSON-lines `resultados`, and
    * `estatisticas.por_tipo` via explode+count (main.py:214-275). The
    * aggregates are computed distributed; only the one-row metadata/stats
    * objects are collected.
    */
  def resultsJson(
      spark: SparkSession,
      scored: DataFrame,
      path: String,
      inputName: String,
      version: String = "vigil-spark-0.1",
      // injectable so tests are deterministic; the reference stamps
      // datetime.now().isoformat() (main.py:248)
      timestamp: String = java.time.LocalDateTime.now().toString): Unit = {
    scored
      .select(col("conv_id"), col("turn_idx"), col("text"),
        col("contem_pii"), col("confianca"), col("tipos_detectados"),
        col("detalhes"), col("scrubbed_text"))
      .write.mode(SaveMode.Overwrite).json(s"$path/resultados")

    val Seq(total, comPii) = {
      val r = scored.agg(count(lit(1)),
        sum(col("contem_pii").cast("long"))).collect()(0)
      Seq(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val porTipo = scored
      .select(explode(col("tipos_detectados")).as("tipo"))
      .groupBy("tipo").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tipo"))
      .collect().map(r => s""""${r.getString(0)}": ${r.getLong(1)}""")
      .mkString("{", ", ", "}")
    // reference rounds to 1 decimal with Python round() = HALF_EVEN
    // (main.py:268); NER is contractually disabled in this engine (the
    // reference's own --no-ner contract), hence the null modelo_ner.
    // Empty frame: the reference's round() branch is not taken and the
    // literal int 0 is serialized (no decimal point) — match byte-exactly
    val pct: String =
      if (total == 0) "0"
      else BigDecimal(comPii * 100.0 / total)
        .setScale(1, scala.math.BigDecimal.RoundingMode.HALF_EVEN).toString
    val meta =
      s"""{"metadata": {"versao": "$version", "timestamp": "$timestamp",
         |"arquivo_entrada": "$inputName",
         |"total_registros": $total, "total_com_pii": $comPii,
         |"configuracao": {"ner_habilitado": false, "modelo_ner": null}},
         |"estatisticas": {"por_tipo": $porTipo,
         |"percentual_com_pii": $pct}}""".stripMargin.replace("\n", " ")
    val p = new org.apache.hadoop.fs.Path(s"$path/metadata.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(meta.getBytes("UTF-8"))
    out.close()
  }

  /** S8: review CSV sink — fixed 8-column header, priority-sorted, score
    * %.2f, newlines in the snippet flattened (human_review.py:486-516).
    * S10: no output path is created when there are zero review items.
    */
  def reviewCsv(review: DataFrame, path: String): Boolean = {
    if (review.isEmpty) return false // S10 empty-sink short-circuit
    review
      .select(
        concat_ws("/", col("conv_id"), col("turn_idx")).as("ID"),
        col("prioridade").as("Prioridade"),
        col("tipo_pii").as("Tipo PII"),
        col("valor_detectado").as("Valor Detectado"),
        format_number(col("score"), 2).as("Score"),
        col("motivo").as("Motivo"),
        regexp_replace(col("texto_trecho"), "\n", " ").as("Texto (Trecho)"),
        col("explicacao").as("Explicacao"))
      .write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .csv(path)
    true
  }
}
