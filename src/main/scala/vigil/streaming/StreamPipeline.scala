package vigil.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout}
import org.apache.spark.unsafe.types.UTF8String
import vigil.{Decide, LangModeAgg}

/** Structured Streaming faces of the engine. Each one computes its batch
  * counterpart's result incrementally and keeps no copy of its rule.
  *
  * - Per-turn scoring is stateless and narrow, so [[vigil.Decide.scoreTurns]]
  *   applies to a streaming frame unchanged.
  * - [[convDecisionsStream]] folds each conversation's turn count, PII
  *   count and per-language counts in event-time-evicted state, and turns
  *   them into decisions with the batch rule ([[vigil.Decide.convRule]]),
  *   the majority language picked in [[vigil.LangModeAgg]]'s order.
  * - [[piiRateWindows]] and [[dedupStream]] are watermarked Spark
  *   operators with bounded state.
  * - The stored-table faces ([[neardupStreamExact]], [[docFilterStreamExact]],
  *   [[lineDedupStreamExact]], [[spanDedupStreamExact]],
  *   [[searchIndexStream]]) run a batch family's incremental operator once
  *   per micro-batch against tables under `storedBase`, through one
  *   skeleton ([[microBatches]]).
  */
object StreamPipeline {

  /** One conversation's folded turns: turn count, PII turns, and the turn
    * count of each language (a null lang included, which a map key cannot
    * hold).
    */
  private[streaming] final case class ConvState(n: Long, pii: Long, langCounts: Seq[(String, Long)])

  /** (conv_id, n_turns, PII turns, majority lang, its turn count), the
    * majority picked as [[vigil.LangModeAgg]] picks it.
    */
  private def convStats(convId: String, s: ConvState): (String, Long, Long, String, Long) = {
    var best: String = null
    var bestCnt = 0L
    s.langCounts.foreach { case (lang, n) =>
      if (LangModeAgg.beats(UTF8String.fromString(lang), n,
          UTF8String.fromString(best), bestCnt)) { best = lang; bestCnt = n }
    }
    (convId, s.n, s.pii, best, bestCnt)
  }

  /** Conversation decisions over a scored stream (`conv_id`, `lang`,
    * `contem_pii` and event-time `ts`), in Update mode: each micro-batch
    * emits `(conv_id, n_turns, majority_lang, pii_density,
    * drop_conversation)` for every conversation it touched, decided by the
    * rule [[vigil.Decide.decideWindowed]] applies to the same turns.
    *
    * State is evicted by event time. A conversation idle past
    * max(last event time, watermark) + idleGapMs is finalized: its decision
    * is emitted one last time and its state removed, so the state store
    * holds the conversations live inside the horizon, not every one ever
    * seen. A turn arriving after eviction (but above the watermark) re-keys
    * the conversation with fresh state; rows below the watermark are
    * dropped before the stateful operator, as in [[piiRateWindows]]. A
    * bounded replay decides whole conversations by passing horizons longer
    * than its event-time span.
    */
  def convDecisionsStream(
      scored: DataFrame, cfg: Decide.Config = Decide.Default,
      watermarkDelay: String = "10 minutes",
      idleGapMs: Long = 30L * 60 * 1000): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val stats = scored
      .withWatermark("ts", watermarkDelay)
      .select(col("conv_id"), col("lang"), col("contem_pii").cast("int"), col("ts"))
      .as[(String, String, Int, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[ConvState, (String, Long, Long, String, Long)](
        GroupStateTimeout.EventTimeTimeout) {
        case (convId, turns, state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            convStats(convId, s) // final emission; state evicted
          } else {
            val s0 = state.getOption.getOrElse(ConvState(0L, 0L, Seq.empty))
            val counts = scala.collection.mutable.LinkedHashMap.from(s0.langCounts)
            var (n, pii, maxTs) = (s0.n, s0.pii, Long.MinValue)
            turns.foreach { case (_, lang, p, ts) =>
              n += 1; pii += p; maxTs = math.max(maxTs, ts.getTime)
              counts(lang) = counts.getOrElse(lang, 0L) + 1
            }
            val s = ConvState(n, pii, counts.toSeq)
            state.update(s)
            // the idle horizon rides the later of last-seen event time and
            // the current watermark (setTimeoutTimestamp must exceed the
            // watermark or the engine rejects it)
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs()) + idleGapMs)
            convStats(convId, s)
          }
      }
      .toDF("conv_id", "n_turns", "__pii", "__lang", "__cnt")
    val rule = Decide.convRule(col("__lang"), col("__cnt"), col("n_turns"),
      col("__pii").cast("double") / col("n_turns"), cfg)
    stats.select(col("conv_id") +: col("n_turns") +:
      rule.map { case (name, c) => c.as(name) }.toSeq: _*)
  }

  /** Watermarked event-time windowed aggregation over a scored stream:
    * per-window turn count, PII rate and toxicity count (the monitoring
    * face of the pipeline). Append mode — each window is emitted exactly
    * once, when the watermark (max event time seen minus `watermarkDelay`)
    * passes its end; rows arriving later than the watermark are dropped,
    * which is what bounds the window state at 10^12-turn scale.
    */
  def piiRateWindows(
      scored: DataFrame,
      windowDur: String = "5 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    scored
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur).as("w"))
      .agg(
        count(lit(1)).as("n_turns"),
        avg(col("contem_pii").cast("int")).as("pii_rate"),
        sum(col("toxic").cast("int")).as("n_toxic"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("n_turns"), col("pii_rate"), col("n_toxic"))

  /** Streaming exact dedup — the streaming face of `Dedup.exact` for an
    * at-least-once ingest (replayed turn events, retried producers).
    * `dropDuplicatesWithinWatermark` keeps one row per key and EVICTS the
    * key's state once the watermark passes its last-seen event time plus
    * the delay, so state scales with keys live inside the horizon — the
    * plain streaming `dropDuplicates` keeps every key forever. Duplicates
    * arriving within the horizon dedupe exactly; a duplicate replayed
    * AFTER its key was evicted re-emits (the documented at-least-once →
    * approximately-exactly-once trade of bounded state; size the delay to
    * the producer's retry window).
    */
  def dedupStream(
      turns: DataFrame, keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    turns
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** The skeleton of the stored-table faces: one `foreachBatch` that, for
    * each micro-batch of `docs`,
    *  1. selects `(idCol, textCol)` and, once `$storedBase/$guard` exists,
    *     drops the rows whose id its `guardId` column already holds (the
    *     replay guard: at-least-once sources redeliver, and a replayed row
    *     would otherwise match itself in the stored state);
    *  2. persists and counts that remainder (`fresh`) and skips the batch
    *     if it is empty;
    *  3. calls `body(fresh, stored, pin)`, where `stored` reads a table
    *     under `storedBase` (None before the first batch has stored one),
    *     and takes back the `(table, frame)` pairs to append and the frame
    *     to emit;
    *  4. materializes every one of those frames, appends each under
    *     `$storedBase/$table` in order, then calls `emit`.
    *
    * Step 4 avoids the path-cache trap. Appending to a stored table
    * refreshes Spark's caches for that path and invalidates every plan that
    * reads it, `fresh` included. A frame still lazy at that point is
    * re-evaluated against the grown table and silently loses the batch. So
    * all appended and emitted frames are materialized (`localCheckpoint`)
    * before the first append. `pin` does it, once per frame; a frame built
    * only on pinned frames is already materialized and is written as is. A
    * body pins a frame itself only to derive several tables from it.
    *
    * Whether stored state exists is asked of the path's Hadoop
    * `FileSystem`, so a `file:` URI or a remote base keeps its guard and
    * its cross-batch state. `foreachBatch` may re-run a batch on recovery,
    * so `emit` must be idempotent (overwrite by batch id, keyed upsert) for
    * end-to-end exactly-once.
    */
  private def microBatches(
      docs: DataFrame, idCol: String, textCol: String,
      storedBase: String, guard: String, guardId: String)(
      body: (DataFrame, Option[String => DataFrame], DataFrame => DataFrame) =>
        (Seq[(String, DataFrame)], DataFrame))(
      emit: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      val spark = batch.sparkSession
      val read = (table: String) => spark.read.parquet(s"$storedBase/$table")
      val marker = new Path(s"$storedBase/$guard/_SUCCESS")
      val have = marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker)
      val in = batch.select(col(idCol), col(textCol))
      val fresh = (if (have)
        in.join(read(guard).select(col(guardId).as(idCol)), Seq(idCol), "left_anti")
      else in).persist()
      try {
        if (fresh.count() > 0) {
          // the RDDs of this batch's checkpoints; `batch` itself is a
          // LogicalRDD too, but one that recomputes its source
          val checkpoints = scala.collection.mutable.Set[Int]()
          def leafRdds(df: DataFrame) = df.queryExecution.analyzed.collectLeaves()
            .map { case l: LogicalRDD => l.rdd.id; case _ => -1 }
          val pinned = new java.util.IdentityHashMap[DataFrame, DataFrame]()
          val pin = (df: DataFrame) => pinned.computeIfAbsent(df, _ =>
            if (leafRdds(df).forall(checkpoints)) df
            else {
              val c = df.localCheckpoint(true)
              checkpoints ++= leafRdds(c)
              c
            })
          val (appends, out) = body(fresh, if (have) Some(read) else None, pin)
          val tables = appends.map { case (table, df) => table -> pin(df) }
          val emitted = pin(out)
          tables.foreach { case (table, df) =>
            df.write.mode("append").parquet(s"$storedBase/$table")
          }
          emit(emitted, batchId)
        }
      } finally fresh.unpersist()
    }

  /** Exact streaming near-dup: each micro-batch runs the batch incremental
    * verifier ([[vigil.dedup.Dedup.neardupVerifiedIncremental]]: LSH
    * candidates, then exact Jaccard) against the stored kept corpus
    * (`$storedBase/corpus` = (id, text), `$storedBase/sigs` = its MinHash
    * signature table), then appends the batch's survivors. The streamed
    * kept set satisfies the batch contract: no kept doc is within
    * J ≥ minJaccard of an EARLIER kept doc (an earlier batch wins; within a
    * batch the smaller id wins). Durable state is the same stored tables
    * the batch incremental family serves from, bounded by the kept corpus,
    * not the stream history. Replays, materialization and `emit`'s
    * idempotency: [[microBatches]]; the corpus is the replay guard.
    */
  def neardupStreamExact(
      docs: DataFrame, textCol: String, idCol: String,
      storedBase: String, minJaccard: Double = 0.9,
      bands: Int = 24, rowsPerBand: Int = 6, shingleK: Int = 1,
      seed: Long = 42L)(
      emit: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    microBatches(docs, idCol, textCol, storedBase, "corpus", idCol) {
      (fresh, stored, pin) =>
        import vigil.dedup.Dedup
        val (cSigs, cText) = stored match {
          case Some(read) => (read("sigs"), read("corpus"))
          case None =>
            (Dedup.computeSignatures(fresh.limit(0), textCol, idCol,
              bands, rowsPerBand, shingleK, seed), fresh.limit(0))
        }
        val pairs = Dedup.neardupVerifiedIncremental(cSigs, cText, fresh,
          textCol, idCol, minJaccard, bands, rowsPerBand, seed,
          shingleK = shingleK)
        // batch side of mixed pairs drops (corpus is canonical); larger
        // id of batch×batch pairs drops (id_a < id_b by construction)
        val batchIds = fresh.select(col(idCol).as("__bid"))
        val dropB = pairs
          .join(batchIds, pairs("id_b") === col("__bid"), "leftsemi")
          .select(col("id_b").as(idCol))
        val dropA = pairs
          .join(batchIds, pairs("id_a") === col("__bid"), "leftsemi")
          .join(batchIds, pairs("id_b") === col("__bid"), "leftanti")
          .select(col("id_a").as(idCol))
        val kept = pin(fresh
          .join(dropB.unionByName(dropA).distinct(), Seq(idCol), "left_anti"))
        (Seq("corpus" -> kept,
          "sigs" -> Dedup.computeSignatures(kept, textCol, idCol,
            bands, rowsPerBand, shingleK, seed)), kept)
    }(emit)

  /** Exact streaming corpus filter: each micro-batch runs the batch
    * incremental cascade ([[vigil.DocFilter.filterDocsIncremental]]; the
    * first batch runs [[vigil.DocFilter.filterDocs]]) against the stored
    * kept-corpus tables and appends its kept docs to
    * `$storedBase/{kept,hashes,sigs}`. The full audit frame (keep +
    * drop_reason per doc) is emitted; near-dup drops at J ≥ cfg.minJaccard
    * (LSH-verified); a dup group's survivor is the stored-corpus canonical.
    * The stored sigs table uses the incremental filter's banding (24×6) at
    * cfg.shingleK. Replays, materialization and `emit`'s idempotency:
    * [[microBatches]]; the kept table is the replay guard.
    */
  def docFilterStreamExact(
      docs: DataFrame, storedBase: String,
      idCol: String = "doc_id", textCol: String = "text",
      cfg: vigil.DocFilter.Config = vigil.DocFilter.Default)(
      emit: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    microBatches(docs, idCol, textCol, storedBase, "kept", idCol) {
      (fresh, stored, pin) =>
        val out = pin(stored match {
          case Some(read) =>
            vigil.DocFilter.filterDocsIncremental(read("sigs"), read("hashes"),
              read("kept"), fresh, idCol, textCol, cfg)
          case None => vigil.DocFilter.filterDocs(fresh, idCol, textCol, cfg)
        })
        val kept = pin(fresh.join(
          out.filter(col("keep")).select(col(idCol)), Seq(idCol), "leftsemi"))
        (Seq("kept" -> kept,
          "hashes" -> kept.select(col(idCol), md5(col(textCol)).as("__h")),
          "sigs" -> vigil.dedup.Dedup.computeSignatures(kept, textCol, idCol,
            bands = 24, rowsPerBand = 6, shingleK = cfg.shingleK)), out)
    }(emit)

  /** Exact streaming line dedup — the line-dedup family's micro-batch
    * face: each batch is deduped against the stored corpus line-stats
    * table with the BATCH semantics
    * ([[vigil.dedup.LineDedup.dedupLinesIncremental]] — joint occurrence
    * threshold, corpus-presence keep-first), so after n batches the
    * emitted outputs equal the per-batch slices of one big
    * [[vigil.dedup.LineDedup.dedupLines]] over everything seen, in arrival
    * order (ids must sort by arrival — the ingest reality; spec-asserted).
    *
    * Stored state (`storedBase`): `docs` = the deduped outputs (also the
    * replay guard — a re-posted id emits nothing); `linestats` = RAW
    * per-batch line stats, appended per batch and re-aggregated on read
    * (`groupBy(k).sum(cnt)`) — RAW, not post-dedup, because the threshold
    * counts corpus OCCURRENCES: storing only survivors would zero a
    * threshold-dropped banner's count and let later batches keep it.
    * The stats table grows one row per batch per distinct line; compact
    * it offline (same re-aggregation) when fragment count matters.
    */
  def lineDedupStreamExact(
      docs: DataFrame, idCol: String, textCol: String,
      storedBase: String,
      keepFirst: Boolean = true,
      dropAtOrAbove: Long = Long.MaxValue)(
      emit: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    microBatches(docs, idCol, textCol, storedBase, "docs", "id") {
      (fresh, stored, _) =>
        import vigil.dedup.LineDedup
        val stats = stored match {
          case Some(read) =>
            read("linestats").groupBy("k").agg(sum(col("cnt")).as("cnt"))
          case None => LineDedup.computeLineStats(fresh.limit(0), idCol, textCol)
        }
        val out = LineDedup.dedupLinesIncremental(
          stats, fresh, idCol, textCol, keepFirst, dropAtOrAbove)
        (Seq("docs" -> out,
          "linestats" -> LineDedup.computeLineStats(fresh, idCol, textCol)), out)
    }(emit)

  /** Exact streaming repeated-span scrub — the ExactSubstr family's
    * micro-batch face, same contract shape as [[lineDedupStreamExact]]:
    * each batch is scrubbed against the stored corpus window-stats table
    * ([[vigil.dedup.SpanDedup.scrubRepeatedSpansIncremental]]). Because
    * span removal has no keep-first, the per-batch theorem is clean:
    * batch k's emitted output EQUALS the batch-k slice of one big
    * [[vigil.dedup.SpanDedup.scrubRepeatedSpans]] over batches 0..k
    * (windows from later batches don't exist yet; a span that crosses the
    * threshold only later is not retro-scrubbed from already-emitted docs
    * — the corpus-canonical trade, spec-asserted).
    *
    * Stored state (`storedBase`): `docs` = the scrubbed outputs (also the
    * replay guard — a re-posted id emits nothing); `spanstats` = RAW
    * per-batch window stats ([[vigil.dedup.SpanDedup.computeSpanStats]]
    * over the PRE-scrub batch text), appended per batch and re-aggregated
    * on read (`groupBy(h1, h2).sum(cnt)`) — RAW, not post-scrub, because
    * the threshold counts corpus OCCURRENCES: storing survivors' windows
    * would zero a scrubbed span's count and let later batches keep it.
    */
  def spanDedupStreamExact(
      docs: DataFrame, idCol: String, textCol: String,
      storedBase: String, L: Int = 50, minCount: Long = 2L)(
      emit: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    microBatches(docs, idCol, textCol, storedBase, "docs", "id") {
      (fresh, stored, _) =>
        import vigil.dedup.SpanDedup
        val stats = stored match {
          case Some(read) =>
            read("spanstats").groupBy("h1", "h2").agg(sum(col("cnt")).as("cnt"))
          case None => SpanDedup.computeSpanStats(fresh.limit(0), idCol, textCol, L)
        }
        val out = SpanDedup.scrubRepeatedSpansIncremental(
          stats, fresh, idCol, textCol, L, minCount)
        (Seq("docs" -> out,
          "spanstats" -> SpanDedup.computeSpanStats(fresh, idCol, textCol, L)), out)
    }(emit)

  /** Streaming search-index maintenance — the lexical-retrieval family's
    * micro-batch face: each batch's NEW documents (replay-suppressed by
    * the stored `ids` table) append their postings and a RAW 1-row stats
    * row. Because postings of disjoint doc ids are disjoint ROWS, append
    * IS the merge ([[vigil.search.Search.mergeIndex]] semantics — no
    * stored row is ever read back or rewritten, so a batch costs one
    * narrow tokenize pass + three appends regardless of index size).
    * Serve anytime via [[readSearchIndex]], which re-aggregates the
    * per-batch stats rows.
    */
  def searchIndexStream(
      docs: DataFrame, idCol: String, textCol: String,
      storedBase: String)(
      emit: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    microBatches(docs, idCol, textCol, storedBase, "ids", idCol) {
      (fresh, _, _) =>
        import vigil.search.Search
        val postings = Search.buildPostings(fresh, idCol, textCol)
          .sortWithinPartitions("term", "doc_id") // row-group term stats
        (Seq("postings" -> postings,
          "stats" -> Search.corpusStats(fresh, idCol, textCol),
          "ids" -> fresh.select(col(idCol))), postings)
    }(emit)

  /** Serve-time view of a [[searchIndexStream]] index: the postings scan
    * plus the stats rows folded back to one row (exact long sums — the
    * same numbers a from-scratch build computes).
    */
  def readSearchIndex(spark: org.apache.spark.sql.SparkSession,
      storedBase: String): (DataFrame, DataFrame) = (
    spark.read.parquet(s"$storedBase/postings"),
    spark.read.parquet(s"$storedBase/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl")))
}
