package vigil

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** End-to-end per-turn scoring + conversation-level decisions.
  *
  * Shape (SURVEY.md §3 E1): everything per-turn is a narrow, pipelined
  * projection — scan → clean+analyze+summarize (one expression) → column
  * algebra ([[scoreTurns]]). The conversation rules (majority language,
  * PII density) are three aggregates over ONE conv_id window
  * ([[convWindows]]: one sort, one WindowExec) above ONE hash exchange on
  * conv_id, which the window reuses. The two public shapes
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
  * 21.8 s on 4 cores, no disk spill at an 8 GB heap, measured with the
  * earlier three-WindowExec form).
  */
object Decide {

  final case class Config(
      targetLang: String = "en",
      maxConvPiiDensity: Double = 0.5,
      minMajorityFrac: Double = 0.5,
      quality: Quality.Config = Quality.Default
  )
  val Default: Config = Config()

  /** Per-turn scoring: adds clean/detalhes/sinais/scrubbed_text, reference
    * keep-drop columns (contem_pii, tipos_detectados, confianca,
    * has_extended_pii — folded inside the kernel, with only the 2-digit
    * rounding and the sinais gate in column space), langid + perplexity,
    * quality metrics, toxicity and the per-turn keep verdict. Narrow (no
    * shuffle).
    */
  def scoreTurns(turns: DataFrame, cfg: Config = Default): DataFrame = {
    // ONE fused expression computes PII analysis + scrub, the reference
    // keep-drop summary, langid + perplexity and quality/toxicity stats
    // from a single text decode (composed pii_analyze → lang_score →
    // turn_stats re-decodes the cleaned text twice more per row —
    // measurable DRAM traffic at 32 threads; bit-equality with the
    // composed path is asserted in QualityExprSpec). Five projections,
    // not one per column: each one re-analyzes the growing plan on the
    // driver
    val score = (f: String) => col(s"__score.$f")
    val fields = Seq("lang", "lang_conf", "perplexity",
      "n_words", "n_chars", "mean_word_len", "max_word_len",
      "alpha_word_frac", "symbol_word_ratio", "dup_2gram_frac", "toxic")
    turns
      .withColumn("__score", functions.turn_score(col("text")))
      .withColumns(ListMap(
        "clean" -> score("clean"),
        "detalhes" -> score("detalhes"),
        "scrubbed_text" -> score("scrubbed"),
        // reference parity: contextual signals are surfaced only when real
        // PII exists (detector.py:343-352 returns the empty result otherwise)
        "sinais" -> when(score("contem_pii"), score("sinais"))
          .otherwise(array().cast(
            org.apache.spark.sql.types.ArrayType(PiiSchema.signalType, containsNull = false))),
        // reference decision rule (detector.py:330-366): only the 5 real
        // types flip contem_pii; contextual signals are metadata
        "contem_pii" -> score("contem_pii"),
        "tipos_detectados" -> score("tipos_detectados"),
        "confianca" -> when(score("contem_pii"), round(score("confianca_max"), 2))
          .otherwise(lit(0.0)),
        "has_extended_pii" -> score("has_extended_pii")) ++
        fields.map(f => f -> score(f)))
      // the raw scoring struct duplicates clean/detalhes/sinais/scrubbed —
      // dropping it halves the width of every downstream shuffle and write
      .drop("__score")
      .withColumn("quality_pass", Quality.passes(cfg.quality))
      .withColumn("keep_turn", col("quality_pass") && !col("toxic"))
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
    * the window's clustering, so it reuses it — plan shows a single
    * Exchange, one sort on conv_id and one WindowExec (plan-asserted in
    * PipelineSpec: "decideWindowed plan: score once, one exchange, scoring
    * above it"). Skew: a whole conversation, scoring included, lands in
    * one task. [[Pipeline.run]] keeps a conversation's window in one task
    * too, but scores on the input splits, below its exchange.
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
    * (keep_turn && !drop_conversation). One `Window.partitionBy(conv_id)`
    * carries three aggregates — [[LangModeAgg]] (majority language and
    * its count from a per-conversation hash map; ties to the largest
    * lang, a null lang lowest), the turn count and the mean contem_pii —
    * so the plan has one sort and one WindowExec, which buffers each
    * conversation's scored rows once (a (conv_id, lang) count window
    * instead would add a second sort and two more buffers of full-width
    * rows). `scored` must already be hash-partitioned on conv_id: that
    * partitioning satisfies the window's distribution, so it adds no
    * exchange of its own (plan-asserted in PipelineSpec), and every
    * conversation is decided whole inside one task.
    */
  private[vigil] def convWindows(scored: DataFrame, cfg: Config): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one partition spec in one projection: the planner builds one sort on
    // conv_id and one WindowExec that buffers each conversation once
    val w = Window.partitionBy("conv_id")
    scored
      .withColumns(ListMap(
        "__m" -> functions.lang_mode(col("lang")).over(w),
        "__n_turns" -> count(lit(1)).over(w),
        "__density" -> avg(col("contem_pii").cast("int")).over(w)))
      .withColumns(convRule(col("__m.lang"), col("__m.cnt"), col("__n_turns"),
        col("__density"), cfg))
      .withColumn("keep", col("keep_turn") && !col("drop_conversation"))
      .drop("__m", "__n_turns", "__density")
  }

  /** The conversation rule over one conversation's stats: its majority
    * language and that language's turn count, its turn count and its PII
    * density. Returns majority_lang, pii_density and drop_conversation: a
    * conversation drops when a language other than the target holds at
    * least `minMajorityFrac` of its turns, or when its PII density exceeds
    * `maxConvPiiDensity`. A null majority language leaves the language
    * half null, as SQL's `=!=` does. [[convWindows]] and
    * [[vigil.streaming.StreamPipeline.convDecisionsStream]] both apply it.
    */
  private[vigil] def convRule(majorityLang: Column, majorityCnt: Column,
      nTurns: Column, density: Column, cfg: Config): ListMap[String, Column] =
    ListMap(
      "majority_lang" -> majorityLang,
      "pii_density" -> density,
      "drop_conversation" ->
        ((majorityLang =!= lit(cfg.targetLang) &&
          (majorityCnt.cast("double") / nTurns) >= lit(cfg.minMajorityFrac)) ||
          density > lit(cfg.maxConvPiiDensity)))
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
    *     conversation window ([[Decide.convWindows]]) runs in that task, so
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
