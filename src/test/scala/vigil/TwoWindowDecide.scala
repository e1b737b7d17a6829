package vigil

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two-window twin of [[Decide.convWindows]], for specs only: the
  * majority language as `max(struct(cnt, lang))` over a (conv_id, lang)
  * count window, the turn count and PII density over a conv_id window.
  * `Decide.convWindows` computes the same columns with one conv_id window
  * and [[LangModeAgg]]; ConvWindowsSpec compares the two.
  */
object TwoWindowDecide {

  def convWindows(scored: DataFrame, cfg: Decide.Config): DataFrame = {
    val wLang = Window.partitionBy("conv_id", "lang")
    val wConv = Window.partitionBy("conv_id")
    scored
      .withColumn("__lang_cnt", count(lit(1)).over(wLang))
      // deterministic mode: max (count, lang) struct — ties break to the
      // lexicographically largest lang
      .withColumn("__m",
        max(struct(col("__lang_cnt").as("cnt"), col("lang"))).over(wConv))
      .withColumn("__n_turns", count(lit(1)).over(wConv))
      .withColumn("majority_lang", col("__m.lang"))
      .withColumn("pii_density",
        avg(col("contem_pii").cast("int")).over(wConv))
      .withColumn("drop_conversation",
        (col("majority_lang") =!= lit(cfg.targetLang) &&
          (col("__m.cnt").cast("double") / col("__n_turns")) >=
            lit(cfg.minMajorityFrac)) ||
          col("pii_density") > lit(cfg.maxConvPiiDensity))
      .withColumn("keep", col("keep_turn") && !col("drop_conversation"))
      .drop("__lang_cnt", "__m", "__n_turns")
  }

  /** [[Decide.convWindows]], reachable from specs outside `vigil`. */
  def oneWindow(scored: DataFrame, cfg: Decide.Config): DataFrame =
    Decide.convWindows(scored, cfg)
}
