package vigil

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The normative salted twin of the conversation decision, for specs only:
  * the conversation rules as an explicit three-level salted aggregation
  * joined back to the scored turns. [[Decide.decideWindowed]] and
  * [[Pipeline.run]] compute the same decisions with windows over a conv_id
  * partitioning; the specs compare them against this shape.
  */
object SaltedDecide {

  /** Level-1 salt count: partials per (conversation, salt, lang). */
  val SaltBuckets = 16

  /** Conversation-level decisions over scored turns: majority language and
    * PII density (north rule J4/A6), one row per conversation.
    */
  def convDecisions(scored: DataFrame, cfg: Decide.Config = Decide.Default): DataFrame = {
    val salted = scored.select(
      col("conv_id"),
      pmod(hash(col("turn_idx")), lit(SaltBuckets)).as("salt"),
      col("lang"),
      col("contem_pii").cast("int").as("pii"),
      col("toxic").cast("int").as("tox")
    )
    // level 1: (conv, salt, lang) partials — no reducer sees a whole
    // mega-conversation; level 2: merge salt buckets per (conv, lang);
    // level 3: pick the majority lang + fold counters per conv.
    val perLang = salted
      .groupBy("conv_id", "salt", "lang")
      .agg(count(lit(1)).as("cnt"), sum("pii").as("pii"), sum("tox").as("tox"))
      .groupBy("conv_id", "lang")
      .agg(sum("cnt").as("cnt"), sum("pii").as("pii"), sum("tox").as("tox"))
    perLang
      .groupBy("conv_id")
      .agg(
        // deterministic mode: max (count, lang) struct — ties break to the
        // lexicographically largest lang
        max(struct(col("cnt"), col("lang"))).as("m"),
        sum("cnt").as("n_turns"),
        sum("pii").as("n_pii_turns"),
        sum("tox").as("n_toxic_turns")
      )
      .select(
        col("conv_id"),
        col("m.lang").as("majority_lang"),
        (col("m.cnt").cast("double") / col("n_turns")).as("majority_frac"),
        col("n_turns"),
        (col("n_pii_turns").cast("double") / col("n_turns")).as("pii_density"),
        col("n_toxic_turns")
      )
      .withColumn("drop_conversation",
        (col("majority_lang") =!= lit(cfg.targetLang) &&
          col("majority_frac") >= lit(cfg.minMajorityFrac)) ||
          col("pii_density") > lit(cfg.maxConvPiiDensity))
  }

  /** Per-turn scoring plus the conversation decisions joined back on
    * conv_id; keep = keep_turn && !drop_conversation. The conversation
    * branch re-derives the scoring from `turns` (a self-join recomputes
    * shared lineage), which is fine at spec scale.
    */
  def decide(turns: DataFrame, cfg: Decide.Config = Decide.Default): DataFrame = {
    val scored = Decide.scoreTurns(turns, cfg)
    val conv = convDecisions(scored, cfg)
      .select("conv_id", "majority_lang", "pii_density", "drop_conversation")
    scored
      .join(conv, Seq("conv_id"))
      .withColumn("keep", col("keep_turn") && !col("drop_conversation"))
  }
}
