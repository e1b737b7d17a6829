package vigil

import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade — the one-stop API mirroring the reference's entry
  * points (SURVEY.md §3) on Spark:
  *
  *  - [[detect]]           ≙ PIIDetector.detect(text)        (E2, single text)
  *  - [[score]]            ≙ process_data                    (E1, per-turn batch)
  *  - [[decide]]           ≙ E1 + conversation-level rules   (north rule)
  *  - [[review]]           ≙ generate_human_review           (E1 step 5)
  *  - [[evaluate]]         ≙ scripts/evaluate.py             (E3)
  *  - [[vigil.Pipeline.run]] for the materialized, resumable production job
  *    (the same decisions, stored with every turn)
  *  - [[vigil.io.Sources]] / [[vigil.io.Sinks]] for the reference's formats
  */
object Vigil {

  /** Single-text detection — pure, no Spark needed. */
  def detect(text: String): Analysis = PiiCore.detect(text)

  /** Reference-shaped convenience view of a single detection. */
  def contemPii(text: String): Boolean =
    PiiCore.detect(text).detalhes.exists(d => PiiTypes.Real.contains(d.tipo))

  /** Scrubbed form of a single text. */
  def scrub(text: String): String = PiiCore.detect(text).scrubbed

  /** Per-turn scoring over a transcript frame (conv_id, turn_idx, role,
    * text, tool, ts). Narrow, no shuffle.
    */
  def score(turns: DataFrame, cfg: Decide.Config = Decide.Default): DataFrame =
    Decide.scoreTurns(turns, cfg)

  /** Full keep/drop with conversation-level decisions, as one stateless
    * job ([[Decide.decideWindowed]]). [[vigil.Pipeline.run]] stores the
    * same decisions per turn.
    */
  def decide(turns: DataFrame, cfg: Decide.Config = Decide.Default): DataFrame =
    Decide.decideWindowed(turns, cfg)

  /** Human-review triage table from a scored frame. */
  def review(scored: DataFrame, cfg: Review.Config = Review.Default): DataFrame =
    Review.reviewTable(scored, cfg)

  /** Confusion metrics of predictions vs truth on shared id columns. */
  def evaluate(pred: DataFrame, truth: DataFrame, idCols: Seq[String],
      predCol: String, truthCol: String): Eval.Metrics =
    Eval.confusion(pred, truth, idCols, predCol, truthCol)

  /** Register the engine expressions as SQL functions so `spark.sql` users
    * can call them directly:
    * pii_analyze, clean_text, lang_score, winnow_fingerprint.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("pii_analyze",
      exprs => PiiAnalyzeExpr(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("clean_text",
      exprs => CleanTextExpr(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("lang_score",
      exprs => LangScoreExpr(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("winnow_fingerprint",
      exprs => WinnowFingerprintExpr(exprs.head, 3, 4), "scala_udf")
    reg.createOrReplaceTempFunction("turn_score",
      exprs => TurnScoreExpr(exprs.head), "scala_udf")
    // model-free text kernels added in round 5 (the broadcast-model exprs
    // — lm_ppl, dsir_score, bpe_encode — need a fitted model handle and
    // stay Column-API-only)
    reg.createOrReplaceTempFunction("word_ngrams",
      exprs => WordNgramsExpr(exprs.head,
        VigilShimConst.intLit(exprs(1), "word_ngrams(n)")), "scala_udf")
    reg.createOrReplaceTempFunction("char_ngrams",
      exprs => CharNgramsExpr(exprs.head,
        VigilShimConst.intLit(exprs(1), "char_ngrams(n)")), "scala_udf")
    reg.createOrReplaceTempFunction("repetition_stats",
      exprs => RepetitionStatsExpr(exprs.head, Seq(2, 3)), "scala_udf")
  }

  /** Literal-int extraction for SQL-registered expressions. */
  private object VigilShimConst {
    def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
        what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }
}
