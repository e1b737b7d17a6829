package vigil

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end per-turn scoring + conversation-level decisions.
  *
  * Shape (SURVEY.md §3 E1): everything per-turn is a narrow, pipelined
  * projection — scan → clean+analyze (one expression) → column algebra —
  * with shuffles ONLY at (i) the conversation aggregates and (ii) the join
  * of conversation decisions back to turns. Both key on conv_id; AQE
  * coalesces/splits the exchanges at runtime.
  *
  * Skew: conversation lengths are power-law at transcript scale. The
  * conversation aggregates use an explicit two-level salted aggregation
  * (conv_id × salt, then conv_id) so no reducer ever owns a whole
  * mega-conversation, on top of hash-aggregate map-side partial combine.
  */
object Decide {

  final case class Config(
      targetLang: String = "en",
      maxConvPiiDensity: Double = 0.5,
      minMajorityFrac: Double = 0.5,
      saltBuckets: Int = 16,
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

  /** Conversation-level decisions over scored turns: majority language and
    * PII density (north rule J4/A6). Two-level salted aggregation.
    */
  def convDecisions(scored: DataFrame, cfg: Config = Default): DataFrame = {
    val salted = scored.select(
      col("conv_id"),
      pmod(hash(col("turn_idx")), lit(cfg.saltBuckets)).as("salt"),
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

  /** Full decision: per-turn scoring + conversation decisions joined back.
    * keep = keep_turn && !drop_conversation. The join keys on conv_id;
    * conversation rows are ~|turns|/avg_len so at scale this is a
    * sort-merge join with AQE skew splitting; at test scale AQE broadcasts.
    *
    * NOTE: the conversation branch re-derives the scoring from `turns`
    * (Spark recomputes shared lineage on self-joins). Fine at test scale;
    * the 100 TB path is [[Pipeline.run]], which materializes the scored
    * table once and aggregates from a column-pruned re-read.
    */
  def decide(turns: DataFrame, cfg: Config = Default): DataFrame = {
    val scored = scoreTurns(turns, cfg)
    val conv = convDecisions(scored, cfg)
      .select("conv_id", "majority_lang", "pii_density", "drop_conversation")
    scored
      .join(conv, Seq("conv_id"))
      .withColumn("keep", col("keep_turn") && !col("drop_conversation"))
  }

  /** Single-pass decide: conversation decisions via window aggregates over
    * the scored frame instead of the aggregate+self-join, so the expensive
    * narrow scoring stage runs EXACTLY ONCE with no cache or materialized
    * temp table (decide()'s self-join recomputes it). Equality-tested
    * against decide() in PipelineSpec ("decideWindowed equals decide").
    *
    * Shape: ONE exchange on conv_id, and it runs BEFORE scoring, so only
    * the RAW turn width (conv_id, turn_idx, role, text, tool, ts) crosses
    * the shuffle — the scored columns (clean/scrubbed text copies,
    * detection structs, lang/quality fields, ~2-3× the raw width) are
    * produced on the reduce side and never serialized across executors.
    * Scoring is row-local, so its placement relative to the exchange
    * cannot change any result (equality-tested against decide() in
    * PipelineSpec); the explicit repartition also satisfies the
    * (conv_id, lang) window's clustering, so both windows reuse it —
    * plan shows a single Exchange, two sorts (plan-asserted in
    * PipelineSpec: "decideWindowed plan: score once, one exchange, scoring
    * above it"). Trade-off vs decide(): a whole conversation lands in
    * one task (no salting), so at 10^12-turn scale with power-law
    * conversations prefer [[Pipeline.run]]; for stateless single-job
    * runs this is the fastest correct shape.
    */
  def decideWindowed(turns: DataFrame, cfg: Config = Default): DataFrame = {
    import org.apache.spark.sql.expressions.Window
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
    val scored = scoreTurns(turns.repartition(nParts, col("conv_id")), cfg)
    val wLang = Window.partitionBy("conv_id", "lang")
    val wConv = Window.partitionBy("conv_id")
    scored
      .withColumn("__lang_cnt", count(lit(1)).over(wLang))
      // deterministic mode, same as convDecisions: max (count, lang)
      // struct — ties break to the lexicographically largest lang
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

/** Conversation assembly (north rule W4): stable turn ordering within each
  * conversation and document-shaped rollups.
  */
object Assemble {
  import org.apache.spark.sql.expressions.Window

  /** Stable per-conversation ordering: turn_idx ranks within conv_id
    * (ties impossible by schema contract; ts as deterministic tiebreak).
    */
  def orderedTurns(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy(col("turn_idx"), col("ts"))
    turns.withColumn("turn_rank", row_number().over(w))
  }

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
  * persist with lineage, aggregate conversations from a column-pruned
  * re-read, join decisions back lazily.
  */
object Pipeline {

  /** Two-phase run:
    *  1. per-turn scoring (narrow) written bucketed-by-conv_id with
    *     per-bucket lineage — the expensive regex/LM pass runs exactly once
    *     per turn (the write is the only action over it; lineage counts
    *     come from a re-read, see [[TableIO.writeScored]]; TableIOEvalSpec
    *     counts the source reads), and a crashed run resumes at bucket
    *     granularity;
    *  2. conversation decisions aggregated from a re-read that scans ONLY
    *     (conv_id, turn_idx, lang, contem_pii, toxic) — with parquet
    *     column pruning this reads a few % of the stored bytes;
    *  3. the returned view joins scored × conv on conv_id (sort-merge +
    *     AQE skew handling at scale) and derives the final keep flag.
    */
  def run(
      spark: org.apache.spark.sql.SparkSession,
      turns: DataFrame,
      path: String,
      snapshotId: String,
      cfg: Decide.Config = Decide.Default,
      nBuckets: Int = 64): DataFrame = {
    val scored = Decide.scoreTurns(turns, cfg)
    TableIO.writeScored(spark, scored, path, snapshotId, nBuckets)

    // both re-reads are snapshot-scoped: earlier snapshots persist under
    // $path/data (dynamic partition overwrite keeps them), so an unscoped
    // read would fold THEIR turns into this run's conversation decisions
    // (wrong majority_lang/pii_density) and duplicate output rows. The
    // filter is a partition-directory prune (snapshot is a partition
    // column), not a data scan.
    val pruned = TableIO.readScored(spark, path, snapshotId)
      .select("conv_id", "turn_idx", "lang", "contem_pii", "toxic")
    val conv = Decide.convDecisions(pruned, cfg)
    conv.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/conv")

    TableIO.readScored(spark, path, snapshotId)
      .join(spark.read.parquet(s"$path/conv")
        .select("conv_id", "majority_lang", "pii_density", "drop_conversation"),
        Seq("conv_id"))
      .withColumn("keep", col("keep_turn") && !col("drop_conversation"))
  }
}
