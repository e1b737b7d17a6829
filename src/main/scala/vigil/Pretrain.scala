package vigil

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import vigil.dedup.SpanDedup

/** The end-to-end pretraining-corpus pipeline — every stage of a
  * C4/Gopher/RefinedWeb-style recipe composed in the published order,
  * with the materialization boundaries a 100 TB run needs built in:
  *
  *   1. '''Page cleaning''' ([[DocFilter.cleanPages]]): C4 line rules,
  *      then corpus-level line dedup; pages failing the page verdict
  *      drop here (`stage = "pages"`).
  *   2. '''Repeated-span scrub''' ([[dedup.SpanDedup.scrubRepeatedSpans]]):
  *      ExactSubstr — verbatim spans repeated corpus-wide are cut from
  *      the cleaned text (scrubs, never drops).
  *   3. '''Document filter''' ([[DocFilter.filterDocs]]): the
  *      language → quality → repetition → toxicity → [contaminated] →
  *      exact-dup → near-dup cascade over the scrubbed text; drops carry
  *      the cascade's `drop_reason` (`stage = "filter"`).
  *   4. '''Mixing''' ([[Mix.upsample]]): per-source epoch weights over
  *      the survivors; the emitted corpus repeats/downsamples each
  *      source deterministically (`stage = "mix"` for fractional-prefix
  *      drops at epochs < 1).
  *
  * Returns the EMITTED corpus: one row per emitted copy —
  * `(idCol, copy, sourceCol, text, n_tokens)` — text being the cleaned,
  * span-scrubbed, PII-scrubbed survivor rebuild.
  *
  * Composition contract (the r4 lineage lesson, applied between stages):
  * each stage derives multiple side frames from its INPUT, so feeding a
  * stage a live upstream plan re-runs the upstream lineage once per side
  * frame. Every stage boundary therefore materializes: to
  * `workDir/stage<N>` parquet when `workDir` is set (the production
  * shape — restartable, inspectable, append-compatible with the
  * incremental families' stored tables), else `localCheckpoint` (the
  * in-session shape). Costs are therefore additive in the stage costs —
  * lineage re-runs of an upstream stage cannot occur across boundaries.
  */
object Pretrain {

  final case class Config(
      c4: Quality.C4Config = Quality.C4Config(),
      dedupKeepFirst: Boolean = true,
      dedupDropAtOrAbove: Long = Long.MaxValue,
      /** ExactSubstr window length (code points); <= 0 disables stage 2. */
      spanL: Int = 50,
      spanMinCount: Long = 2L,
      filter: DocFilter.Config = DocFilter.Default,
      /** Per-source epoch weights for the mixing stage (sources absent
        * from the map get `defaultEpochs`).
        */
      epochs: Map[String, Double] = Map.empty,
      defaultEpochs: Double = 1.0)
  val Default: Config = Config()

  /** Run the pipeline. `docs` must carry (`idCol`, `textCol`,
    * `sourceCol`). See object doc for stages and the materialization
    * contract.
    */
  def pretrainCorpus(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source",
      cfg: Config = Default,
      workDir: Option[String] = None): DataFrame = {
    def mat(df: DataFrame, stage: String): DataFrame = workDir match {
      case Some(dir) =>
        df.write.mode("overwrite").parquet(s"$dir/$stage")
        df.sparkSession.read.parquet(s"$dir/$stage")
      // LAZY local checkpoint: the boundary still materializes exactly
      // once (localCheckpoint persists MEMORY_AND_DISK; the first
      // consumer computes each block under BlockManager locking, later
      // side frames read it) and still truncates lineage to a constant
      // LogicalRDD — but the three stage boundaries no longer cost one
      // eager job each; they ride the first consuming action. Eager vs
      // lazy output equality is covered by the workDir ≡ checkpoint
      // mode-agreement spec (PretrainSpec).
      case None => df.localCheckpoint(false)
    }
    // 1. page cleaning — keep page_keep survivors, carry the rebuilt text
    val pages = mat(
      DocFilter.cleanPages(docs, idCol, textCol, cfg.c4,
        cfg.dedupKeepFirst, cfg.dedupDropAtOrAbove)
        .filter(col("page_keep"))
        // cleanPages names its rebuilt text column literally "text"
        .select(col(idCol), col("text").as(textCol)),
      "pages")
    // 2. repeated-span scrub (cut, never drop)
    val scrubbed = mat(
      (if (cfg.spanL > 0)
        SpanDedup.scrubRepeatedSpans(pages, idCol, textCol,
          cfg.spanL, cfg.spanMinCount)
          .select(col("id").as(idCol), col("clean_text").as(textCol))
      else pages),
      "scrubbed")
    // 3. the cascade over the scrubbed text; survivors carry the
    //    PII-scrubbed rebuild
    val filtered = mat(
      DocFilter.filterDocs(scrubbed, idCol, textCol, cfg.filter)
        .filter(col("keep"))
        .select(col(idCol), col("scrubbed_text").as(textCol)),
      "filtered")
    // 4. mixing — epochs need the source column, which stages 1-3 do not
    //    carry; re-join it from the ORIGINAL input by id (narrow)
    val withSource = filtered.join(
      docs.select(col(idCol), col(sourceCol)), Seq(idCol))
    Mix.upsample(withSource, idCol, sourceCol, textCol,
        cfg.epochs, cfg.defaultEpochs)
      .join(filtered, Seq(idCol))
      .select(col(idCol), col("copy"), col(sourceCol), col(textCol),
        col("n_tokens"))
  }

  /** One-row corpus report — the summary every pipeline run logs before
    * and after filtering: document/char/word totals, the exact-duplicate
    * footprint, and word-count extremes. ONE map-side-combined
    * aggregation; the only exchange is the count-distinct over 16-byte
    * text hashes (swap in approx_count_distinct at 10^12 docs if the
    * exact distinct shuffle is not worth it — the rest of the row is
    * pure partial aggregation). avg_words divides an exact long sum, so
    * the double is reproducible across engines.
    */
  def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    docs.agg(statAggs(textCol).head, statAggs(textCol).tail: _*)

  /** The data-card view: the same report per group (source, language,
    * shard…) — what a mixing recipe reads before setting budgets. Same
    * single map-side-combined aggregation, keyed.
    */
  def corpusStatsBy(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    docs.groupBy(groupCol).agg(statAggs(textCol).head, statAggs(textCol).tail: _*)

  /** Corpus n-gram diversity — distinct-over-total word-n-gram ratios
    * (the standard corpus-diversity / template-saturation signal; low
    * ratios at higher n flag heavy templating before dedup even runs).
    * One row per n: `(n, distinct_grams, total_grams, distinct_ratio)`.
    * Each n costs one map-side-combined distinct aggregation over the
    * gram stream; the ratio divides exact longs (reproducible double).
    */
  def ngramDiversity(docs: DataFrame, textCol: String,
      ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad n-gram sizes: $ns")
    val ws = filter(split(lower(col(textCol)), " "), w => length(w) > 0)
    ns.map { n =>
      docs.select(explode(
          vigil.functions.word_ngrams(concat_ws(" ", ws), n)).as("g"))
        .agg(lit(n).as("n"),
          countDistinct(col("g")).as("distinct_grams"),
          count(lit(1)).as("total_grams"))
    }.reduce(_.unionByName(_))
      .withColumn("distinct_ratio",
        when(col("total_grams") > 0,
          col("distinct_grams").cast("double") / col("total_grams"))
          .otherwise(lit(0.0)))
  }

  private def statAggs(textCol: String): Seq[Column] = {
    val words = size(filter(split(col(textCol), " "),
      w => length(w) > 0)).cast("long")
    Seq(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col(textCol).cast("binary"))).as("n_distinct_texts"),
      sum(length(col(textCol)).cast("long")).as("total_chars"),
      sum(words).as("total_words"),
      min(words).as("min_words"),
      max(words).as("max_words"),
      avg(words).as("avg_words"))
  }
}
