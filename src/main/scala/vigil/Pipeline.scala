package vigil

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end per-turn scoring + conversation-level decisions.
  *
  * Shape (SURVEY.md §3 E1): everything per-turn is a narrow, pipelined
  * projection — scan → clean+analyze (one expression) → column algebra
  * ([[scoreTurns]]). The conversation rules (majority language, PII
  * density) are window aggregates ([[convWindows]]) over ONE hash
  * exchange on conv_id, which both windows reuse. The two public shapes
  * share that code and differ only in where scoring sits:
  * [[decideWindowed]] scores above the exchange (raw-width shuffle, one
  * stateless job) and [[Pipeline.run]] scores below it, inside the
  * clustered write (skew-immune scoring, stored and resumable).
  *
  * Skew: conversation lengths are power-law at transcript scale. Scoring
  * is narrow either way; the windows decide a whole conversation inside
  * one task, whose sort and window buffer both spill, so a
  * mega-conversation bounds that one task's time (a 300,000-turn
  * conversation in a 506k-turn corpus: `Pipeline.run` plus its view in
  * 21.8 s on 4 cores, no disk spill at an 8 GB heap).
  */
object Decide {

  final case class Config(
      targetLang: String = "en",
      maxConvPiiDensity: Double = 0.5,
      minMajorityFrac: Double = 0.5,
      quality: Quality.Config = Quality.Default
  )
  val Default: Config = Config()

  private val Real5 = PiiTypes.Real.toSeq.sorted

  /** Per-turn scoring: adds clean/detalhes/sinais/scrubbed_text, reference
    * keep-drop columns (contem_pii, tipos_detectados, confianca), langid +
    * perplexity, quality metrics, toxicity and the per-turn keep verdict.
    * Narrow (no shuffle).
    */
  def scoreTurns(turns: DataFrame, cfg: Config = Default): DataFrame = {
    // ONE fused expression computes PII analysis + scrub, langid +
    // perplexity and quality/toxicity stats from a single text decode
    // (composed pii_analyze → lang_score → turn_stats re-decodes the
    // cleaned text twice more per row — measurable DRAM traffic at 32
    // threads; bit-equality with the composed path is asserted in
    // QualityExprSpec)
    val withTs = turns.withColumn("__score", functions.turn_score(col("text")))
    val reais = filter(col("__score.detalhes"), d => d.getField("tipo").isin(Real5: _*))
    val base = withTs
      .withColumn("clean", col("__score.clean"))
      .withColumn("detalhes", col("__score.detalhes"))
      .withColumn("scrubbed_text", col("__score.scrubbed"))
      .withColumn("reais", reais)
      // reference parity: contextual signals are surfaced only when real
      // PII exists (detector.py:343-352 returns the empty result otherwise)
      .withColumn("sinais",
        when(size(col("reais")) > 0, col("__score.sinais"))
          .otherwise(array().cast(
            org.apache.spark.sql.types.ArrayType(PiiSchema.signalType, containsNull = false))))
      // reference decision rule (detector.py:330-366): only the 5 real
      // types flip contem_pii; contextual signals are metadata
      .withColumn("contem_pii", size(col("reais")) > 0)
      .withColumn("tipos_detectados",
        array_distinct(transform(col("reais"), d => d.getField("tipo"))))
      .withColumn("confianca",
        when(col("contem_pii"),
          round(array_max(transform(col("reais"), d => d.getField("confianca"))), 2))
          .otherwise(lit(0.0)))
      .withColumn("has_extended_pii",
        exists(col("__score.detalhes"),
          d => d.getField("tipo").isin(PiiTypes.Extended.toSeq: _*)))
      .drop("reais")
    val fields = Seq("lang", "lang_conf", "perplexity",
      "n_words", "n_chars", "mean_word_len", "max_word_len",
      "alpha_word_frac", "symbol_word_ratio", "dup_2gram_frac", "toxic")
    val withStats = fields.foldLeft(base) {
      (df, f) => df.withColumn(f, col(s"__score.$f"))
    }
    withStats
      .withColumn("quality_pass", Quality.passes(cfg.quality))
      .withColumn("keep_turn", col("quality_pass") && !col("toxic"))
      // the raw scoring struct duplicates clean/detalhes/sinais/scrubbed —
      // dropping it halves the width of every downstream shuffle and write
      .drop("__score")
  }

  /** Stateless decide, one job: per-turn scoring plus the conversation
    * decisions ([[convWindows]]), so the expensive narrow scoring stage
    * runs EXACTLY ONCE with no cache or materialized temp table.
    * Equality-tested against the salted aggregate+join twin in PipelineSpec
    * ("decideWindowed equals decide").
    *
    * Shape: ONE exchange on conv_id, and it runs BEFORE scoring, so only
    * the RAW turn width (conv_id, turn_idx, role, text, tool, ts) crosses
    * the shuffle — the scored columns (clean/scrubbed text copies,
    * detection structs, lang/quality fields, ~2-3× the raw width) are
    * produced on the reduce side and never serialized across executors.
    * Scoring is row-local, so its placement relative to the exchange
    * cannot change any result; the explicit repartition also satisfies
    * the windows' clustering, so both reuse it — plan shows a single
    * Exchange, two sorts (plan-asserted in PipelineSpec: "decideWindowed
    * plan: score once, one exchange, scoring above it"). Skew: a whole
    * conversation, scoring included, lands in one task. [[Pipeline.run]]
    * keeps a conversation's windows in one task too, but scores on the
    * input splits, below its exchange.
    */
  def decideWindowed(turns: DataFrame, cfg: Config = Default): DataFrame = {
    // EXPLICIT partition count: the reduce side of this exchange is the
    // heavy scoring stage, and its shuffle BYTES are small (raw width) —
    // with an implicit count AQE's byte-based coalescing merges it into
    // ~one straggler-bound wave per core (bytes-per-partition is the
    // wrong policy for a CPU-heavy stage). A user-specified count is
    // exempt from coalescing. Default 5 waves per core (same sizing as
    // scan splits) keeps the stage load-balanced at cluster scale —
    // measured +15% on the 4-executor 2.18M-turn scaling job; on
    // sub-second micro-corpora the per-task overhead of the extra waves
    // dominates instead, so the waves knob is a session conf
    // (spark.vigil.decide.wavesPerCore — graft.Bench sets 1 for its
    // ~100k-turn fixture corpus).
    val spark = turns.sparkSession
    val waves = spark.conf
      .getOption("spark.vigil.decide.wavesPerCore").map(_.toInt).getOrElse(5)
    val nParts = math.max(
      spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism * waves)
    convWindows(scoreTurns(turns.repartition(nParts, col("conv_id")), cfg), cfg)
  }

  /** Conversation decisions as window aggregates over scored turns: adds
    * majority_lang, pii_density, drop_conversation and the final keep
    * (keep_turn && !drop_conversation). `scored` must already be
    * hash-partitioned on conv_id: that partitioning satisfies both windows'
    * distribution, so they add no exchange of their own (plan-asserted in
    * PipelineSpec), and every conversation is decided whole inside one task.
    */
  private[vigil] def convWindows(scored: DataFrame, cfg: Config): DataFrame = {
    import org.apache.spark.sql.expressions.Window
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
}

/** Conversation assembly (north rule W4): document-shaped rollups of each
  * conversation in stable turn order.
  */
object Assemble {

  /** One row per conversation: turns concatenated in stable order.
    *
    * Shape: single shuffle on conv_id; ordering via sort_array over
    * (turn_idx, text) structs instead of a window + collect_list chain, so
    * partial aggregation still applies map-side. Long-conversation skew is
    * inherent to "assemble the whole conversation" — AQE skew-join/coalesce
    * plus the bucketed storage layout (TableIO) bound the damage; the
    * per-turn scoring path never requires this rollup.
    */
  def conversationDocs(
      scored: DataFrame,
      textCol: String = "scrubbed_text",
      sep: String = "\n"): DataFrame =
    scored
      .groupBy("conv_id")
      .agg(
        count(lit(1)).as("n_turns"),
        array_join(
          transform(
            sort_array(collect_list(struct(col("turn_idx"), col(textCol).as("t")))),
            s => s.getField("t")),
          sep).as("conversation_text"),
        sum(col("contem_pii").cast("long")).as("n_pii_turns"))
}

/** The production-shaped job (SURVEY.md §3 E1 / north rule): score once,
  * decide each conversation inside the clustered, resumable write, and
  * return the stored snapshot.
  */
object Pipeline {

  /** One write, then a read:
    *  1. per-turn scoring (narrow, on the input splits) feeds
    *     [[TableIO.writeScored]], whose `repartition(nParts, conv_id)`
    *     puts every conversation whole into one write task; the
    *     conversation windows ([[Decide.convWindows]]) run in that task, so
    *     each stored row carries majority_lang, pii_density,
    *     drop_conversation and the final keep. The write is the only action
    *     over the scoring: the expensive regex/LM pass runs exactly once per
    *     turn (TableIOEvalSpec counts the source reads), and a crashed run
    *     resumes at bucket granularity — a conversation lives in one bucket,
    *     so a done bucket's decisions are final;
    *  2. the returned view is the snapshot-scoped read of the stored table
    *     (equality-tested against [[Decide.decideWindowed]] in PipelineSpec).
    */
  def run(
      spark: org.apache.spark.sql.SparkSession,
      turns: DataFrame,
      path: String,
      snapshotId: String,
      cfg: Decide.Config = Decide.Default,
      nBuckets: Int = 64): DataFrame = {
    TableIO.writeScored(spark, Decide.scoreTurns(turns, cfg), path, snapshotId, nBuckets, cfg)
    // snapshot-scoped: earlier snapshots persist under $path/data (dynamic
    // partition overwrite keeps them); the filter is a partition-directory
    // prune, not a data scan
    TableIO.readScored(spark, path, snapshotId)
  }
}
