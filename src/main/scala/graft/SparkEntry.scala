package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import vigil.{Decide, DocFilter, Dsir, Eval, Lm, Quality, Review, Synth, TextStats, Toxicity}
import vigil.ann.{Ann, Pq}
import vigil.search.Search
import vigil.dedup.Dedup
import vigil.media.Media
import vigil.{functions => vf}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry hosts one operator family from SURVEY.md §2 on the
  * driver-generated tables under `/root/testdata/sf*`; where the semantics
  * are ANSI-SQL-expressible the matching DuckDB oracle is in `oracleSql`
  * (same column names, same ORDER BY, so the driver's sorted-column hash
  * compare is exact). Engine-native operators (offset-window anti-FP,
  * NFKC, langid, scrub…) are rows-only checked per the contract.
  */
object SparkEntry {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def events(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Per-JVM root for stored tables the incremental queries write
    * (signature/hash/kept-corpus tables). PID-unique so concurrent
    * sessions (e.g. Verify and Bench over the same sf dir) never
    * overwrite each other's tables mid-read (r4 ADVICE — fixed /tmp
    * names raced); per-sf-dir subdirs keep scale factors apart within
    * one JVM.
    */
  private lazy val runTmpRoot: String =
    s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/vigil_run_" +
      ProcessHandle.current().pid()
  private def storedTableRoot(dir: String): String =
    s"$runTmpRoot/${new java.io.File(dir).getName}"

  /** Build/serve split for the recurring-ingest queries (r4 VERDICT ask
    * #2): stored-table construction (the one-time index-build cost) lives
    * in `q_*_build` queries; the `*_incremental` queries only build
    * on-demand when the tables are missing (standalone runs, Verify's
    * unordered map), so in Bench — which runs queries name-sorted, build
    * before serve — the incremental number measures the RECURRING serving
    * cost a daily ingest actually pays, not corpus re-indexing.
    */
  private def ensureBuilt(base: String, tables: Seq[String], force: Boolean)(
      build: => Unit): Unit = {
    val missing = tables.exists(t =>
      !new java.io.File(s"$base/$t/_SUCCESS").exists())
    if (force || missing) build
  }
  private def builtSummary(s: SparkSession, base: String,
      tables: Seq[String]): DataFrame = {
    import s.implicits._
    tables.map(t => (t, s.read.parquet(s"$base/$t").count()))
      .toDF("table", "rows").orderBy("table")
  }

  /** Planted-determinism dedup corpus (r4 VERDICT ask #5): every word of
    * every doc is prefixed with its doc_id, which makes DISTINCT base
    * docs pairwise shingle-disjoint (any shingle carries the tag →
    * est-Jaccard ≈ 0, far below any threshold) while EXACT copies
    * (planted for doc_id%5 = 0: 1 + doc_id%2 copies at +j·10⁶ ids) share
    * byte-identical tagged text → identical signatures, est exactly 1.0.
    * The probabilistic LSH/SimHash pair set over this corpus therefore
    * EQUALS the exact-duplicate pair set, which is equality-join-derivable
    * in SQL — the q_ann_lsh provable-recall playbook for text dedup.
    */
  private def taggedCopyCorpus(s: SparkSession, dir: String): DataFrame = {
    val tagged = docs(s, dir).select(col("doc_id"),
      concat_ws(" ", transform(split(col("text"), " "),
        w => concat(col("doc_id"), lit("_"), w))).as("ttext"))
    val copies = tagged.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("ttext"),
        explode(sequence(lit(1),
          (lit(1) + pmod(col("doc_id"), lit(2))).cast("int"))).as("j"))
      .select((col("doc_id") + col("j") * lit(1000000L)).as("doc_id"),
        col("ttext"))
    tagged.unionByName(copies)
  }

  /** Deterministic transcript corpus sized by the scale-factor dir name
    * (sf0.01 → 2,000 conversations; sf0.1 → 20,000; ...).
    */
  private def transcripts(spark: SparkSession, dir: String): DataFrame = {
    val sf = raw"sf([0-9.]+)".r.findFirstMatchIn(dir)
      .map(_.group(1).toDouble).getOrElse(0.01)
    Synth.corpusDF(spark, nConvs = math.max(200, (sf * 200000).toInt))
  }
  private val PtCfg = Decide.Default.copy(targetLang = "pt")

  /** The scored-turn frame q_review_triage reviews: per document, keyword
    * detections, a planted known-artist `nome` on every 10th doc and
    * exactly one planted Portuguese context sentence (doc_id % 6 → family).
    */
  def reviewTriageInput(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val ctx = when(pmod(col("doc_id"), lit(6)) === 0,
        lit(" A obra de arte foi restaurada."))
      .when(pmod(col("doc_id"), lit(6)) === 1,
        lit(" Ela concluiu o mestrado em março."))
      .when(pmod(col("doc_id"), lit(6)) === 2,
        lit(" Foi publicado no jornal da cidade."))
      .when(pmod(col("doc_id"), lit(6)) === 3,
        lit(" O prefeito Carlos anunciou a medida."))
      .when(pmod(col("doc_id"), lit(6)) === 4,
        lit(" O advogado Bruno apresentou o recurso."))
      .otherwise(lit(" Texto escrito por Ana para o curso."))
    // deterministic per-(doc, valor) score sweeping 0.70–0.99: all three
    // bands, including the ≥0.95 not-banded slice (still reviewed when a
    // context family fires — the reference's own semantics)
    def sc(valor: org.apache.spark.sql.Column) = round(lit(0.70) +
      pmod(col("doc_id") + length(valor), lit(30)) / lit(100.0), 2)
    def det(tipo: String, valor: org.apache.spark.sql.Column) = struct(lit(tipo).as("tipo"),
      valor.as("valor"), sc(valor).as("confianca"))
    val nameVal = regexp_extract(col("text"), KwARe, 0)
    val detalhes = filter(concat(
      array(when(nameVal =!= "", det("nome", nameVal))),
      transform(regexp_extract_all(col("text"), lit(KwBRe), lit(0)),
        v => det("kw_sql", v)),
      array(when(pmod(col("doc_id"), lit(10)) === 0,
        det("nome", lit("Portinari"))))), x => x.isNotNull)
    d.select(
      col("doc_id").cast("string").as("conv_id"),
      lit(0L).as("turn_idx"),
      concat(col("text"), ctx).as("clean"),
      detalhes.as("detalhes"))
      .withColumn("contem_pii", size(col("detalhes")) > 0)
  }

  // --- shared corpus/batch derivations for the incremental families ------
  // (build and serve queries must slice identically, so the derivations
  // live here, not inline in either query)

  /** neardup family: every 3rd doc is the new batch, the rest the corpus. */
  private def neardupSlices(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = docs(s, dir)
    (d.filter(pmod(col("doc_id"), lit(3)) =!= 0),
      d.filter(pmod(col("doc_id"), lit(3)) === 0))
  }
  private def neardupBase(dir: String) = s"${storedTableRoot(dir)}/neardup"
  private def buildNeardupTables(s: SparkSession, dir: String, force: Boolean): String = {
    val base = neardupBase(dir)
    ensureBuilt(base, Seq("sigs"), force) {
      val (corpus, _) = neardupSlices(s, dir)
      Dedup.computeSignatures(corpus, "text", "doc_id",
        bands = 24, rowsPerBand = 6, shingleK = 1)
        .write.mode("overwrite").parquet(s"$base/sigs")
    }
    base
  }

  /** cosine family: planted perturbed copies (same construction as
    * q_cosine_neardup); every 3rd planted copy is the new batch.
    */
  private def cosineCorpusBatch(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = embeddings(s, dir).select("vec_id", "embedding")
    val planted = base
      .select((col("vec_id") + lit(1000000L)).as("new_id"), col("embedding"))
      .select(col("new_id").as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x + sin(col("new_id") * (i + 1)) * lit(0.005)).cast("float"))
          .as("embedding"))
    val all = base.unionByName(planted)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val isBatch = col("vec_id") >= 1000000L &&
      pmod(col("vec_id") - 1000000L, lit(3)) === 0
    (all.filter(!isBatch), all.filter(isBatch))
  }
  private def cosineBase(dir: String) = s"${storedTableRoot(dir)}/cosine"
  private def buildCosineTables(s: SparkSession, dir: String, force: Boolean): String = {
    val base = cosineBase(dir)
    ensureBuilt(base, Seq("sigs"), force) {
      val (corpus, _) = cosineCorpusBatch(s, dir)
      Ann.computeSignSignatures(corpus, "vec_id", "embedding",
        bandBits = 8, bands = 8)
        .write.mode("overwrite").parquet(s"$base/sigs")
    }
    base
  }

  /** doc-filter family: every 3rd doc arrives as a batch with remapped ids
    * (the ingest reality); the stored tables carry the KEPT corpus.
    */
  private def docFilterSlices(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = docs(s, dir).select("doc_id", "text")
    (d.filter(pmod(col("doc_id"), lit(3)) =!= 0),
      d.filter(pmod(col("doc_id"), lit(3)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L)))
  }
  private def docFilterBase(dir: String) = s"${storedTableRoot(dir)}/dfinc"
  private def buildDocFilterTables(s: SparkSession, dir: String, force: Boolean): String = {
    val base = docFilterBase(dir)
    ensureBuilt(base, Seq("kept", "hashes", "sigs"), force) {
      val (corpusAll, _) = docFilterSlices(s, dir)
      // the kept corpus is a STORED table in production — materialize it,
      // or every stored-table derivation below re-runs the full corpus
      // filter lineage (scoring + near-dup; measured 15.9 s vs 8 s)
      corpusAll
        .join(DocFilter.filterDocs(corpusAll)
          .filter(col("keep")).select("doc_id"), Seq("doc_id"), "leftsemi")
        .write.mode("overwrite").parquet(s"$base/kept")
      val kept = s.read.parquet(s"$base/kept")
      kept.select(col("doc_id"), md5(col("text")).as("__h"))
        .write.mode("overwrite").parquet(s"$base/hashes")
      Dedup.computeSignatures(kept, "text", "doc_id",
        bands = 24, rowsPerBand = 6, shingleK = 1)
        .write.mode("overwrite").parquet(s"$base/sigs")
    }
    base
  }

  /** Deterministic multi-line "page" corpus shared by q_gopher_lines and
    * q_line_dedup: 50 pages of one line per doc (ordered by (doc_id,
    * copy)), with planted within-page duplicate lines (doc_id%7), bullet
    * prefixes (doc_id%3) and ellipsis suffixes (doc_id%11) — the moduli
    * are coprime to the 50-page key so every planted feature varies
    * WITHIN pages. (The fixture's doc texts are all distinct — measured
    * max corpus line count without planting is the %7 copies' 2 — so
    * corpus-level consumers plant their own cross-page boilerplate.)
    */
  private def gopherPages(s: SparkSession, dir: String): DataFrame = {
    val lined = docs(s, dir)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("- "), col("text"))).otherwise(col("text")).as("l1"))
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("l1"), lit("..."))).otherwise(col("l1")).as("line"))
      .select(col("doc_id"), col("line"),
        explode(when(pmod(col("doc_id"), lit(7)) === 0,
          array(lit(0), lit(1))).otherwise(array(lit(0)))).as("copy"))
    lined
      .groupBy(pmod(col("doc_id"), lit(50)).as("gid"))
      .agg(concat_ws("\n",
        transform(
          sort_array(collect_list(
            struct(col("doc_id"), col("copy"), col("line")))),
          x => x.getField("line"))).as("txt"))
  }

  /** Corpus/batch page split for the incremental line-dedup pair: the
    * gopher pages plus planted boilerplate chosen so every incremental
    * rule fires — the banner is on ALL 50 pages (corpus count 40 alone
    * crosses the ≥4 threshold), "Related articles" is on gids 0/21/42
    * (2 corpus + 1 batch: total 3 survives the threshold, corpus-presence
    * keep-first drops the batch copy), "Share this story" is on batch
    * gids 40/44/48 only (3 batch copies: survives the threshold,
    * batch-internal keep-first keeps exactly gid 1040's). Pages gid < 40
    * are the corpus; gid ≥ 40 become the batch at +1000 ids (corpus ids
    * sort first — the incremental theorem's precondition).
    */
  private def lineDedupSlices(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val pages = gopherPages(s, dir).select(col("gid"),
      concat(
        lit("Accept all cookies to continue reading.\n"), col("txt"),
        when(pmod(col("gid"), lit(21)) === 0,
          lit("\nRelated articles you may also like.")).otherwise(lit("")),
        when(pmod(col("gid"), lit(4)) === 0 && col("gid") >= 40,
          lit("\nShare this story with your friends.")).otherwise(lit("")))
        .as("txt"))
    (pages.filter(col("gid") < 40),
      pages.filter(col("gid") >= 40)
        .withColumn("gid", col("gid") + lit(1000)))
  }
  private def lineBase(dir: String) = s"${storedTableRoot(dir)}/lines"
  private def buildLineTables(
      s: SparkSession, dir: String, force: Boolean): String = {
    val base = lineBase(dir)
    ensureBuilt(base, Seq("stats"), force) {
      val (corpus, _) = lineDedupSlices(s, dir)
      vigil.dedup.LineDedup.computeLineStats(corpus, "gid", "txt")
        .write.mode("overwrite").parquet(s"$base/stats")
    }
    base
  }

  /** semdedup batch queries run over the FULL cosine planted corpus (one
    * perturbed copy per vector at cos ≈ 0.9999, background ≤ ~0.51) —
    * the corpus∪batch reunion of [[cosineCorpusBatch]], so the DuckDB
    * brute twin is shared with q_cosine_neardup's construction.
    */
  private def semDedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val (corpus, batch) = cosineCorpusBatch(s, dir)
    corpus.unionByName(batch)
  }

  /** semdedup family: stored k-means index (centroids + posting) over the
    * cosine family's planted corpus; the batch is the same slice.
    */
  private def semDedupBase(dir: String) = s"${storedTableRoot(dir)}/semdedup"
  private def buildSemDedupTables(
      s: SparkSession, dir: String, force: Boolean): String = {
    val base = semDedupBase(dir)
    ensureBuilt(base, Seq("centroids", "posting"), force) {
      val (corpus, _) = cosineCorpusBatch(s, dir)
      val (c, p) = Ann.ivfBuild(corpus, "vec_id", "embedding",
        nCentroids = 16)
      c.write.mode("overwrite").parquet(s"$base/centroids")
      p.write.mode("overwrite").parquet(s"$base/posting")
    }
    base
  }

  /** PQ family: the q_ann_lsh planted provable-recall corpus (5 perturbed
    * copies per query vector at cos ≥ 0.9996) and its stored
    * codebook/codes tables — build once per run dir, serve from parquet.
    */
  private def pqPlantedCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = embeddings(s, dir).select("vec_id", "embedding")
    val planted = base
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(1), lit(5))).as("j"))
      .select((col("vec_id") + col("j") * lit(1000000L)).as("new_id"),
        col("j"), col("embedding"))
      .select(
        col("new_id").as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x + sin(col("new_id") * (i + 1)) *
            (col("j") * lit(0.002))).cast("float"))
          .as("embedding"))
    base.unionByName(planted)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
  }
  private def pqBase(dir: String) = s"${storedTableRoot(dir)}/pq"
  private def buildPqTables(
      s: SparkSession, dir: String, force: Boolean): String = {
    val base = pqBase(dir)
    ensureBuilt(base, Seq("codebook", "codes"), force) {
      val (cb, codes) = vigil.ann.Pq.pqBuild(pqPlantedCorpus(s, dir),
        "vec_id", "embedding", numSub = 8, kCodes = 64, iterations = 2)
      cb.write.mode("overwrite").parquet(s"$base/codebook")
      codes.write.mode("overwrite").parquet(s"$base/codes")
    }
    base
  }

  /** span-dedup (ExactSubstr) family: every 3rd doc is the new batch, the
    * rest the corpus whose window stats are the stored table. The slices
    * partition `documents`, so the incremental theorem's corpus∪batch IS
    * the whole table — the oracle runs the full dup detection and slices
    * the batch.
    */
  private def spanSlices(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = docs(s, dir).select("doc_id", "text")
    (d.filter(pmod(col("doc_id"), lit(3)) =!= 0),
      d.filter(pmod(col("doc_id"), lit(3)) === 0))
  }
  private def spanBase(dir: String) = s"${storedTableRoot(dir)}/spans"
  private def buildSpanTables(
      s: SparkSession, dir: String, force: Boolean): String = {
    val base = spanBase(dir)
    ensureBuilt(base, Seq("stats"), force) {
      val (corpus, _) = spanSlices(s, dir)
      vigil.dedup.SpanDedup.computeSpanStats(corpus, "doc_id", "text", L = 50)
        .write.mode("overwrite").parquet(s"$base/stats")
    }
    base
  }

  /** Deterministic C4-rule page corpus shared by q_c4_filter and
    * q_clean_pages: every C4 line rule keeps AND drops here — doc_id%3
    * kills terminal punctuation (" etc"), %5 plants the javascript word,
    * %7 replaces with a <5-word line, %17/%19 taint pages with lorem
    * ipsum / a curly brace; 40 pages of one line per doc, ordered by
    * doc_id (the moduli are coprime to 40 except 5 — rule×page overlap
    * still varies because the other rules cut across it).
    */
  private def c4Pages(s: SparkSession, dir: String): DataFrame = {
    val l5 = docs(s, dir)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, concat(col("text"),
          lit(" etc"))).otherwise(concat(col("text"), lit("."))).as("a"))
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit("javascript "), col("a"))).otherwise(col("a")).as("a"))
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0, lit("Too short."))
          .otherwise(col("a")).as("a"))
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(17)) === 0,
          concat(col("a"), lit(" lorem ipsum"))).otherwise(col("a")).as("a"))
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(19)) === 0,
          concat(col("a"), lit(" {"))).otherwise(col("a")).as("a"))
    l5.groupBy(pmod(col("doc_id"), lit(40)).as("gid"))
      .agg(concat_ws("\n", transform(
        sort_array(collect_list(struct(col("doc_id"), col("a")))),
        x => x.getField("a"))).as("txt"))
  }

  /** search family: stored inverted index (postings + 1-row corpus stats)
    * over the documents table — the build/serve split of the other stored
    * families applied to lexical retrieval.
    */
  private def searchBase(dir: String) = s"${storedTableRoot(dir)}/search"
  private def buildSearchTables(s: SparkSession, dir: String,
      force: Boolean): String = {
    val base = searchBase(dir)
    ensureBuilt(base, Seq("postings", "stats"), force) {
      val d = docs(s, dir)
      Search.buildPostings(d, "doc_id", "text")
        .repartition(col("term")).sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").parquet(s"$base/postings")
      Search.corpusStats(d, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$base/stats")
    }
    base
  }

  /** Fixed lexical query batch: a multi-term query, a rare term ("dup" —
    * df ≈ 5% of docs), a mixed-case query (case folding), a zero-hit +
    * partial-hit pair ("zebra" has no postings), and a stopword-dense
    * query (the worst-case candidate volume). Mirrored literally in the
    * oracle CTE.
    */
  private def searchQueryDf(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0L, "spark window query"), (1L, "dup"), (2L, "hash JOIN fast merge"),
      (3L, "zebra dup"), (4L, "the a")).toDF("query_id", "qtext")
  }

  /** Flagship: full per-turn PII keep/drop + scrub over the documents table
    * (doc_id hosted as a single-turn conversation). Driver smoke-checks
    * rows>0 at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = docs(spark, "/root/testdata/sf0.001")
      .select(
        col("doc_id").cast("string").as("conv_id"),
        lit(0).as("turn_idx"),
        lit("user").as("role"),
        col("text"),
        lit("").as("tool"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"))
    Decide.decideWindowed(d)
      .select("conv_id", "contem_pii", "keep", "lang", "perplexity",
        "quality_pass", "scrubbed_text")
  }

  // Oracle-safe regexes (RE2-compatible, ASCII — identical semantics in
  // java.util.regex and DuckDB).
  private val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val PhoneRe = "\\(\\d{2}\\)\\s*\\d{4,5}-?\\d{4}"
  private val SsnRe = "\\d{3}-\\d{2}-\\d{4}"
  private val CpfRe = "\\d{3}\\.\\d{3}\\.\\d{3}-\\d{2}"
  // keyword-"detection" families for the review-banding slice (the
  // documents corpus has no PII literals; these hit thousands of times)
  private val KwARe = "spark|stream|scan"
  private val KwBRe = "table|query"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- P6 keep/drop predicate shape (SQL-expressible slice) ------------
    "q_pii_flag" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        col("text").rlike(EmailRe).as("has_email"),
        col("text").rlike(PhoneRe).as("has_phone"),
        col("text").rlike(SsnRe).as("has_ssn"),
        col("text").rlike(CpfRe).as("has_cpf"))
        .withColumn("contem_pii",
          col("has_email") || col("has_phone") || col("has_ssn") || col("has_cpf"))
        .orderBy("doc_id")
    }),
    // --- R4 email extraction (regexp_extract_all) ------------------------
    "q_email_extract" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        concat_ws(",", regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .as("emails"))
        .orderBy("doc_id")
    }),
    // --- P1-P4 normalization (whitespace slice; NFKC is engine-native) ---
    "q_clean_text" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        vf.clean_text(col("text")).as("clean"))
        .orderBy("doc_id")
    }),
    // --- token counting (whitespace + BPE-ish regex) ---------------------
    "q_token_count" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")
          .as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),
    // --- trainable BPE tokenizer (Sennrich et al. 2016) ------------------
    //     q_bpe_base (oracle-paired): zero merges degenerate tokens to the
    //     code points of each word, so n_tokens = length(replace(text,' ',''))
    //     — the SQL-pairable plumbing check for the encode expression.
    "q_bpe_base" -> ((s, dir) => {
      vigil.Bpe.encode(docs(s, dir), "text", vigil.Bpe.Model(Vector.empty))
        .select(col("doc_id"), col("n_tokens"))
        .orderBy("doc_id")
    }),
    //     q_bpe_tokens (rows-only: the trained merge list is engine-native
    //     model state): fit 200 merges on the corpus word histogram (one
    //     shuffle; merge loop driver-side over the bounded vocab — the
    //     standard trainer split), then encode every doc. head_tokens is
    //     emitted comma-JOINED, not as array<string>: the driver's
    //     rows-only compare sorts columns with pandas, which throws
    //     "unhashable type" on list cells (the one red CORRECTNESS_r05
    //     row) — a flat string carries the same information and stays
    //     comparable.
    "q_bpe_tokens" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = vigil.Bpe.fit(d, "text", numMerges = 200)
      vigil.Bpe.encode(d, "text", model)
        .select(col("doc_id"), col("n_tokens"),
          concat_ws(",", slice(col("tokens"), 1, 5)).as("head_tokens"))
        .orderBy("doc_id")
    }),
    // --- exact dedup (hash-groupBy; first doc_id wins) -------------------
    "q_dedup_exact" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(md5(col("text").cast("binary")))
        .orderBy(col("doc_id"))
      docs(s, dir).select(
        col("doc_id"),
        (row_number().over(w) > 1).as("is_dup"))
        .orderBy("doc_id")
    }),
    // --- A4 per-type distribution shape: token frequency -----------------
    "q_word_dist" -> ((s, dir) => {
      docs(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("word"))
        .limit(100)
    }),
    // --- corpus-wide top-k n-gram mining (oracle-paired): the
    //     memorization-audit inspection op — which trigrams repeat most
    //     across the corpus (Lee et al. 2021 motivation). Narrow trigram
    //     explode (3× token volume), ONE map-side-combined groupBy, and
    //     orderBy+limit plans as TakeOrderedAndProject (per-partition
    //     top-k merged on the driver — no global sort materialization) --
    "q_ngram_top" -> ((s, dir) => {
      TextStats.topNgrams(docs(s, dir), "text", n = 3, k = 20)
    }),
    // --- A2 confusion matrix ---------------------------------------------
    "q_eval_confusion" -> ((s, dir) => {
      docs(s, dir)
        .select(
          (col("lang") === "en").as("truth"),
          col("text").contains("window").as("pred"))
        .agg(
          sum(when(col("truth") && col("pred"), 1).otherwise(0)).as("tp"),
          sum(when(!col("truth") && col("pred"), 1).otherwise(0)).as("fp"),
          sum(when(col("truth") && !col("pred"), 1).otherwise(0)).as("fn"),
          sum(when(!col("truth") && !col("pred"), 1).otherwise(0)).as("tn"))
    }),
    // --- L3 quality metrics (integer slice is oracle-paired) -------------
    "q_quality_stats" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        size(filter(split(col("text"), " "), w => length(w) > 0)).cast("long")
          .as("n_words"),
        length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),
    // --- engine-native (rows-only): full PII pipeline over documents -----
    "q_pii_scrub" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        vf.pii_analyze(col("text")).as("pii"))
        .select(
          col("doc_id"),
          size(col("pii.detalhes")).as("n_detections"),
          col("pii.scrubbed").as("scrubbed_text"))
        .orderBy("doc_id")
    }),
    // --- engine-native (rows-only): langid + perplexity ------------------
    "q_lang_score" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"), vf.lang_score(vf.clean_text(col("text"))).as("ls"))
        .select(col("doc_id"), col("ls.lang").as("lang_pred"),
          col("ls.perplexity").as("perplexity"))
        .orderBy("doc_id")
    }),
    // --- CCNet perplexity buckets (engine-native, rows-only: the LM is
    //     not SQL-expressible). head/middle/tail at the 1/3 and 2/3
    //     quantiles from one percentile_approx aggregate — no global
    //     sort; spec pins monotonicity, fraction sizing, determinism -----
    "q_ppl_buckets" -> ((s, dir) => {
      Quality.pplBuckets(docs(s, dir), "text")
        .select("doc_id", "perplexity", "ppl_bucket")
        .orderBy("doc_id")
    }),
    // --- the flagship transcript pipeline (engine-native, rows-only):
    //     clean → analyze → keep/drop → scrub → conversation decisions.
    //     decideWindowed = score-once: conversation decisions via window
    //     aggregates, no self-join recompute of the regex+LM stage --------
    "pipeline_transcripts" -> ((s, dir) => {
      Decide.decideWindowed(transcripts(s, dir), PtCfg)
        .select("conv_id", "turn_idx", "contem_pii", "confianca",
          "scrubbed_text", "lang", "perplexity", "quality_pass", "toxic",
          "majority_lang", "pii_density", "drop_conversation", "keep")
      // no final orderBy: the query is rows-only checked (no oracle), and
      // a global sort would add a full exchange+sort to the flagship bench
    }),
    // --- W4 conversation assembly over scored transcripts (rows-only),
    //     plus the line-level Gopher rules (dup-line/bullet/ellipsis
    //     fractions) that need newline-joined text to be non-vacuous ----
    "q_conv_assembly" -> ((s, dir) => {
      val asm = vigil.Assemble.conversationDocs(
        Decide.scoreTurns(transcripts(s, dir), PtCfg))
      Quality.lineMetrics(col("conversation_text"))
        .foldLeft(asm) { case (df, (n, c)) => df.withColumn(n, c) }
        .orderBy("conv_id")
    }),
    // --- ordered session assembly on events (oracle-paired) --------------
    "q_event_sessions" -> ((s, dir) => {
      events(s, dir).groupBy("user_id").agg(
        count(lit(1)).as("n_events"),
        array_join(
          transform(
            sort_array(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")),
          ",").as("session_seq"))
        .orderBy("user_id")
    }),
    // --- H1-H6 review triage, END-TO-END oracle-paired: the REAL
    //     Review.reviewTable (banding, six context families, known-artist
    //     list, consolidation, snippet, explicacao lookup, priority sort)
    //     over a fully SQL-derivable scored frame. Detections are keyword
    //     extractions (the q_review_bands playbook) plus a planted
    //     known-artist "nome" on every 10th doc (exercises the artist
    //     branch AND the snippet fallback); each doc gets EXACTLY ONE
    //     planted Portuguese context sentence (doc_id % 6 → family), so
    //     the rlike mega-alternations Spark evaluates equal the planting
    //     rule the DuckDB twin encodes — valid because the English
    //     fixture text never matches the Portuguese family regexes
    //     (oracle equality at both sf gates IS the assertion) ------------
    "q_review_triage" -> ((s, dir) => Review.reviewTable(reviewTriageInput(s, dir))),
    // --- the same triage over real engine-scored transcripts (rows-only:
    //     detalhes come from the PII kernel's float confidences) ----------
    "q_review_triage_transcripts" -> ((s, dir) => {
      Review.reviewTable(Decide.scoreTurns(transcripts(s, dir), PtCfg))
    }),
    // --- H1+W1+W2 oracle-paired slice: confidence banding, consolidation,
    //     priority sort over SQL-derivable details (regexp-extracted
    //     emails/CPFs; deterministic per-doc score spanning all 3 bands).
    //     Hosts the REAL Review code: scoreBandReason + ReasonRank/
    //     PriorityRank maps (human_review.py:241-290,486-516) -------------
    "q_review_bands" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      // detail source: keyword "detections" (the documents corpus carries
      // no PII literals, so PII regexes would make the slice vacuous);
      // the banding/consolidation/sort semantics under test are identical
      def det(re: String, tipo: String) =
        d.select(col("doc_id"),
          explode(regexp_extract_all(col("text"), lit(re), lit(0))).as("valor"))
          .withColumn("tipo_pii", lit(tipo))
      val items = det(KwARe, "kw_infra").unionByName(det(KwBRe, "kw_sql"))
        // deterministic score sweeping 0.70–0.99 per (doc, valor):
        // exercises score_baixo (<0.80, alta), score_medio ([0.80,0.95),
        // baixa) AND the ≥0.95 high-confidence drop (not reviewed at all)
        .withColumn("score",
          round(lit(0.70) +
            pmod(col("doc_id") + length(col("valor")), lit(30)) / lit(100.0), 2))
        .withColumn("r", Review.scoreBandReason(col("score")))
        .filter(col("r").isNotNull)
        .withColumn("motivo", col("r.motivo"))
        .withColumn("prioridade", col("r.prioridade"))
      // W1 consolidation: one row per (doc, lower(valor)), smallest reason
      // rank wins (repeated extractions of the same value collapse)
      val w = Window.partitionBy(col("doc_id"), lower(col("valor")))
        .orderBy(
          coalesce(element_at(typedLit(Review.ReasonRank), col("motivo")), lit(99)).asc,
          col("tipo_pii").asc, col("valor").asc)
      items
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("doc_id", "tipo_pii", "valor", "score", "motivo", "prioridade")
        // W2 export sort: alta → media → baixa, stable within priority
        .orderBy(
          coalesce(element_at(typedLit(Review.PriorityRank), col("prioridade")), lit(9)).asc,
          col("doc_id").asc, col("tipo_pii").asc, col("valor").asc)
    }),
    // --- H4 snippet extraction (oracle-paired): the REAL Review.snippetExpr
    //     (±100 chars, ellipses, first-2·window fallback) over the same
    //     SQL-derivable keyword detections as q_review_bands, plus a
    //     planted not-present value on every 5th doc so the fallback
    //     branch is exercised, not just reachable ------------------------
    "q_review_snippet" -> ((s, dir) => {
      val d = docs(s, dir)
      def det(re: String) =
        d.select(col("doc_id"), col("text"),
          explode(regexp_extract_all(col("text"), lit(re), lit(0))).as("valor"))
      val missing = d.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id"), col("text"),
          lit("valor ausente zz").as("valor"))
      det(KwARe).unionByName(det(KwBRe)).unionByName(missing)
        .dropDuplicates("doc_id", "valor")
        .withColumn("trecho",
          Review.snippetExpr(col("text"), col("valor"),
            Review.Default.contextWindow))
        .select("doc_id", "valor", "trecho")
        .orderBy("doc_id", "valor")
    }),
    // --- L4 toxicity lexicon ---------------------------------------------
    "q_toxicity" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        arrays_overlap(
          filter(split(lower(col("text")), " "), w => length(w) > 0),
          lit(Toxicity.Lexicon.toArray)).as("toxic"))
        .orderBy("doc_id")
    }),
    // --- J1 eval join: left equi-join + per-key count --------------------
    "q_eval_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),
    // --- W4 stable turn ordering (window row_number over events) ---------
    "q_window_turns" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, dir).select(
        col("user_id"), col("event_id"),
        row_number().over(w).cast("long").as("turn_idx"))
        .orderBy("user_id", "turn_idx")
    }),
    // --- W1 consolidation shape: keep min-ranked row per key -------------
    "q_consolidate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rank = when(col("event_type") === "error", 1)
        .when(col("event_type") === "click", 2)
        .when(col("event_type") === "view", 3)
        .otherwise(99)
      val w = Window.partitionBy("user_id").orderBy(rank.asc, col("event_id").asc)
      events(s, dir).select(col("user_id"), col("event_id"), col("event_type"),
        row_number().over(w).as("rn"))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("user_id")
    }),
    // --- gap-based sessionization over events (oracle-paired) ------------
    "q_sessionize" -> ((s, dir) => {
      Eval.sessionize(events(s, dir), "user_id", "ts", "event_id",
        gapSeconds = 28800)
        .orderBy("user_id", "sess_idx")
    }),
    // --- A5 fixed-bin half-open histogram --------------------------------
    "q_value_hist" -> ((s, dir) => {
      Eval.histogram(events(s, dir), "value", Seq(0, 50, 100, 200, 500))
        .withColumn("bin", col("bin").cast("long"))
    }),
    // --- S3 JSON-shape source: extract from a JSON string column ---------
    "q_props_json" -> ((s, dir) => {
      events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")
    }),
    // --- lenient boolean normalization (utils.py:13-29) ------------------
    "q_lenient_bool" -> ((s, dir) => {
      events(s, dir).select(
        col("event_id"),
        Eval.lenientBool(
          element_at(array(lit("Sim"), lit("no"), lit("1"), lit("TRUE"),
            lit("0"), lit("verdadeiro"), lit("nope"), lit("y")),
            (pmod(col("event_id"), lit(8)) + 1).cast("int"))).as("b"))
        .orderBy("event_id")
    }),
    // --- n-gram Jaccard near-dup pairs (exact, blocked by source) --------
    //     scale-safe shape: LSH candidates → exact verify → block filter;
    //     output identical to the brute-force Dedup.jaccardPairs (the
    //     DuckDB oracle), but candidate volume is linear, not O(n²/block)
    "q_jaccard_pairs" -> ((s, dir) => {
      Dedup.neardupVerified(docs(s, dir), "text", "doc_id", minJaccard = 0.9,
        blockCol = Some("source"))
        .orderBy("id_a", "id_b")
    }),
    // --- n-gram Jaccard near-dup (oracle-paired): word-TRIGRAM shingle
    //     sets, candidates and verifier at the same k — the stricter
    //     similarity notion (25 pairs survive at sf0.01 vs 9,020 at k=1)
    //     32 bands × 3 rows, not the default 24×6: at the 0.8 threshold
    //     the miss bound tightens to (1-0.8³)³² ≈ 1e-10 (24×6 gives only
    //     ~7e-4 at the boundary) AND the MinHash pass drops to 96 hashes
    //     over ~290 trigrams/doc; trigram similarity is bimodal on real
    //     corpora so the looser 3-row buckets stay candidate-sparse
    "q_jaccard_kgram" -> ((s, dir) => {
      Dedup.neardupVerified(docs(s, dir), "text", "doc_id",
        minJaccard = 0.8, bands = 32, rowsPerBand = 3, shingleK = 3)
        .orderBy("id_a", "id_b")
    }),
    // --- MinHash-LSH near-dup pairs (oracle-paired via the planted-
    //     determinism tagged-copy corpus — see taggedCopyCorpus; the raw
    //     probabilistic LSH over untagged text is exercised inside
    //     q_neardup_verified's candidate stage and the suite's
    //     LSH ≡ brute exactness gates) ----------------------------------
    "q_minhash_dedup" -> ((s, dir) => {
      // the pairs arrive through the core's explicit-count id_a rebalance,
      // so orderBy's range-sampling pass re-reads its shuffle files instead
      // of re-running the est pipeline
      Dedup.minhashLsh(taggedCopyCorpus(s, dir), "ttext", "doc_id",
        minEst = 0.8)
        .orderBy("id_a", "id_b")
    }),
    // --- SimHash near-dup pairs (oracle-paired, same playbook: exact
    //     copies → identical 64-bit fingerprints → hamming 0; disjoint
    //     tagged docs → independent fingerprints, P(hamming ≤ 3) ≈ 2e-15
    //     per pair) -----------------------------------------------------
    "q_simhash_dedup" -> ((s, dir) => {
      Dedup.simhashPairs(taggedCopyCorpus(s, dir), "ttext", "doc_id",
        maxDist = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    }),
    // --- Bloom-prefiltered incremental exact dedup (oracle-paired) -------
    //     the daily-ingest face of exact dedup: corpus = tagged originals
    //     with doc_id % 3 != 0; batch = the rest (originals % 3 == 0 plus
    //     every planted copy). Copies of corpus docs are corpus-dups
    //     (found through the Bloom maybe-set + text-verify join); copies
    //     of batch docs are earlier-batch dups (window); untagged-unique
    //     originals stay false. The corpus side is never shuffled.
    "q_bloom_dedup" -> ((s, dir) => {
      val all = taggedCopyCorpus(s, dir)
      val corpus = all.filter(
        col("doc_id") < 1000000L && pmod(col("doc_id"), lit(3)) =!= 0)
      val batch = all.filter(
        col("doc_id") >= 1000000L || pmod(col("doc_id"), lit(3)) === 0)
      Dedup.bloomExactIncremental(corpus, batch, "ttext", "doc_id")
        .select("doc_id", "is_dup")
        .orderBy("doc_id")
    }),
    // --- winnowing fingerprints (engine-native, rows-only) ---------------
    "q_fingerprint" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("fp", vf.winnow_fingerprint(col("text")))
        .select(col("doc_id"), size(col("fp")).as("n_fp"),
          array_min(col("fp")).as("min_fp"))
        .orderBy("doc_id")
    }),
    // --- brute-force cosine top-k (exact ANN baseline, oracle-paired) ----
    //     embeddings cast to array<double> so the sequential-fold cosine is
    //     bit-identical to DuckDB list_cosine_similarity over DOUBLE[]
    "q_ann_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // --- LSH-bucketed ANN (the scale path, oracle-paired) ----------------
    //     provable-recall configuration: each query vector gets 5 planted
    //     perturbed copies (cos ≈ 0.9996..0.99998 to their source, all far
    //     above the ~0.51 background), and bands = 0 derives the band
    //     count from designCos = 0.999 at targetMiss = 1e-7 — every true
    //     top-5 neighbor enters the candidate set with miss ≤ 5e-6 over
    //     the 50 planted pairs, so the LSH output EQUALS the brute-force
    //     top-5 the DuckDB twin computes. Same float-perturb + double-cast
    //     convention as q_cosine_neardup (bit-identical cosines).
    "q_ann_lsh" -> ((s, dir) => {
      val base = embeddings(s, dir).select("vec_id", "embedding")
      // two-step selects: the copy id must UNAMBIGUOUSLY be the new id
      // (lateral-column-alias hazard, same as q_cosine_neardup)
      val planted = base
        .filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"),
          explode(sequence(lit(1), lit(5))).as("j"))
        .select((col("vec_id") + col("j") * lit(1000000L)).as("new_id"),
          col("j"), col("embedding"))
        .select(
          col("new_id").as("vec_id"),
          transform(col("embedding"),
            (x, i) => (x + sin(col("new_id") * (i + 1)) *
              (col("j") * lit(0.002))).cast("float"))
            .as("embedding"))
      val corpus = base.unionByName(planted)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.lshTopK(corpus, corpus.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, bands = 0, designCos = 0.999)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // --- IVF posting-list ANN, full probe (oracle-paired) ----------------
    //     nProbe = nCentroids degenerates to exact search THROUGH the IVF
    //     machinery (Lloyd training, posting lists, probe join) — output
    //     equals brute force, so the DuckDB twin is the q_ann_topk brute
    //     SQL over a different query slice
    "q_ann_ivf" -> ((s, dir) => {
      val emb = embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.ivfTopK(emb,
        emb.filter(col("vec_id") >= 10 && col("vec_id") < 20),
        "vec_id", "embedding", k = 5, nCentroids = 8, nProbe = 8)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // --- IVF partial probe (the approximate scale shape, rows-only) ------
    "q_ann_ivf_probe" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      Ann.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),
    // --- product-quantization ANN (oracle-paired) ------------------------
    //     the compressed-index tier (Jégou et al. 2011): 8 sub-codebooks ×
    //     64 centroids → 8-byte codes (32× vs raw float), ADC scan over the
    //     codes table (8 lookups/candidate), shortlist 40, exact-cosine
    //     refine over the original vectors. Same planted provable-recall
    //     corpus as q_ann_lsh (5 copies per query at cos ≥ 0.9996, back-
    //     ground ≤ ~0.51): quantization error cannot bridge that margin,
    //     so the refined top-5 EQUALS the brute-force top-5 of the DuckDB
    //     twin, and the emitted cos is the same bit-exact double fold.
    "q_pq_ann" -> ((s, dir) => {
      val corpus = pqPlantedCorpus(s, dir)
      Pq.pqTopK(corpus, corpus.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, numSub = 8, kCodes = 64,
        iterations = 2, shortlist = 40)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    //     stored-index production split (the ivfBuild/ivfSearch pattern):
    //     q_pq_build trains + writes codebook/codes parquet; q_pq_serve
    //     answers the SAME oracle from the stored tables — identical
    //     config, so the DuckDB twin is shared with q_pq_ann.
    "q_pq_build" -> ((s, dir) => {
      builtSummary(s, buildPqTables(s, dir, force = true),
        Seq("codebook", "codes"))
    }),
    "q_pq_serve" -> ((s, dir) => {
      val base = buildPqTables(s, dir, force = false)
      val corpus = pqPlantedCorpus(s, dir)
      Pq.pqSearch(s.read.parquet(s"$base/codebook"),
        s.read.parquet(s"$base/codes"),
        corpus, corpus.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, shortlist = 40)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    // --- embedding-cosine near-dup pairs (oracle-paired) -----------------
    //     the test embeddings are near-orthogonal (max pairwise cos ≈ 0.51)
    //     so the corpus is augmented with a deterministic perturbed copy of
    //     each vector (cos ≈ 0.9999 to its source): the query exercises the
    //     LSH banding + exact-cosine pair logic and must recover exactly
    //     the planted (id, id+1e6) pairs the brute-force DuckDB twin finds.
    //     double-cast after the float perturbation so the fold cosine is
    //     bit-identical to list_cosine_similarity over DOUBLE[]
    "q_cosine_neardup" -> ((s, dir) => {
      val base = embeddings(s, dir).select("vec_id", "embedding")
      // two-step select so the perturbation seed is UNAMBIGUOUSLY the new
      // id (base+1e6): a single select would rely on lateral-column-alias
      // resolution (col("vec_id") binding to the alias, not the input —
      // which Spark 4 happens to do, matching the oracle, but implicitly)
      val planted = base
        .select((col("vec_id") + lit(1000000L)).as("new_id"), col("embedding"))
        .select(
          col("new_id").as("vec_id"),
          transform(col("embedding"),
            // 0.005: planted cos ≈ 0.9999 → per-8-bit-band sign-LSH
            // collision ≈ 0.97, so 4 bands miss ~1e-6 of planted pairs
            // (0.02 put planted pairs at cos ≈ 0.994 on unit vectors,
            // where 4-band recall is only ~99.6% — 6 pairs short at sf0.1)
            (x, i) => (x + sin(col("new_id") * (i + 1)) * lit(0.005)).cast("float"))
            .as("embedding"))
      val corpus = base.unionByName(planted)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.cosineNearDupPairs(corpus, "vec_id", "embedding", minCos = 0.95)
        .orderBy("id_a", "id_b")
    }),
    // --- incremental embedding near-dup (oracle-paired): every 3rd
    //     planted copy arrives as a NEW batch against the stored sign-LSH
    //     signature table of the rest; emits exactly the batch-touching
    //     brute pairs, suppressing the equally-real corpus×corpus planted
    //     pairs. Fixed banding (stored-table contract), same planted
    //     construction + double-cast convention as q_cosine_neardup -----
    "q_cosine_build" -> ((s, dir) => {
      builtSummary(s, buildCosineTables(s, dir, force = true), Seq("sigs"))
    }),
    "q_cosine_incremental" -> ((s, dir) => {
      val base = buildCosineTables(s, dir, force = false)
      val (corpus, batch) = cosineCorpusBatch(s, dir)
      Ann.cosineNearDupPairsIncremental(s.read.parquet(s"$base/sigs"),
        corpus, batch, "vec_id", "embedding", minCos = 0.95,
        bandBits = 8, bands = 8)
        .orderBy("id_a", "id_b")
    }),
    // --- scale-safe verified near-dup: LSH candidates → exact Jaccard ----
    //     (oracle-paired: output identical to brute-force all-pairs ≥ t)
    "q_neardup_verified" -> ((s, dir) => {
      Dedup.neardupVerified(docs(s, dir), "text", "doc_id", minJaccard = 0.9)
        .orderBy("id_a", "id_b")
    }),
    // --- near-dup cluster canonicalization (oracle-paired): connected
    //     components over the verified pair graph (≤ 2^20 pairs finish in
    //     one union-find on the driver, larger graphs in contracted
    //     min-label rounds), vs a DuckDB recursive-CTE transitive
    //     closure ----------------------------------------------------------
    "q_neardup_components" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.connectedComponents(d, "doc_id",
        Dedup.neardupVerified(d, "text", "doc_id", minJaccard = 0.9))
        .orderBy("doc_id")
    }),
    // --- incremental verified near-dup (oracle-paired): a new batch
    //     (every 3rd doc) deduped against the rest of the corpus via its
    //     signature table — emits exactly the batch-touching slice of the
    //     brute-force pairs, never corpus×corpus. In production
    //     corpusSigs is a stored table appended per ingest; here it is
    //     computed in-query at fixture scale ---------------------------
    //     Production shape: the corpus signature table is STORED (computed
    //     once per document EVER, appended per ingest) — mirrored with a
    //     real parquet write+read, and SPLIT build/serve so the timed
    //     incremental number is the recurring serving cost, not the
    //     one-time index build (q_neardup_build) ------------------------
    "q_neardup_build" -> ((s, dir) => {
      builtSummary(s, buildNeardupTables(s, dir, force = true), Seq("sigs"))
    }),
    "q_neardup_incremental" -> ((s, dir) => {
      val base = buildNeardupTables(s, dir, force = false)
      val (corpus, batch) = neardupSlices(s, dir)
      Dedup.neardupVerifiedIncremental(s.read.parquet(s"$base/sigs"),
        corpus, batch, "text", "doc_id", minJaccard = 0.9)
        .orderBy("id_a", "id_b")
    }),
    // --- multimodal plumbing (stubbed codec, real batching, rows-only) ---
    "q_media_features" -> ((s, dir) => {
      Media.extractFeatures(s, Media.synthesize(docs(s, dir), "doc_id", "text"))
        .orderBy("media_id")
    }),
    // --- composite quality score over metric columns (rows-only) ---------
    "q_quality_score" -> ((s, dir) => {
      // rides the fused TurnStatsExpr (ONE pass over the cleaned text);
      // the normative column-algebra path (Quality.metricsFromWords) is
      // bit-equality-locked to it per row in QualityExprSpec, so the
      // DuckDB oracle pairs identically against either — and the fused
      // kernel is ~3× faster (HOF lambdas re-enter the interpreter per
      // word; see BENCH/BASELINE.md)
      docs(s, dir)
        .withColumn("clean", vf.clean_text(col("text")))
        .withColumn("st", vf.turn_stats(col("clean")))
        .select(col("doc_id"), col("st.*"))
        .select(col("doc_id"), TextStats.qualityScore().as("score"))
        .orderBy("doc_id")
    }),
    // --- Gopher char-weighted n-gram repetition family (oracle-paired) ---
    //     doc-level repetition signals + stopword fraction + the composite
    //     keep verdict; thresholds are normative engine constants chosen
    //     to split the corpus non-trivially (~70% keep at sf0.01) --------
    "q_gopher_repetition" -> ((s, dir) => {
      val d = docs(s, dir)
      Quality.repetitionStats(d, "text", "doc_id", Seq(2, 3))
        .join(
          d.select(col("doc_id"),
            Quality.stopwordFrac(Quality.words(col("text")))
              .as("stopword_frac")),
          Seq("doc_id"))
        .withColumn("gopher_keep", Quality.repetitionPasses())
        .orderBy("doc_id")
    }),
    // --- line-level Gopher rules (oracle-paired): dup-line / bullet /
    //     ellipsis fractions over a deterministic multi-line corpus built
    //     from documents — 50 "pages" of one line per doc (ordered by
    //     (doc_id, copy)), with planted duplicate lines (doc_id%7),
    //     bullet prefixes (doc_id%3) and ellipsis suffixes (doc_id%11);
    //     the moduli are coprime to the 50-page key so every fraction
    //     varies WITHIN pages (discriminating corpus, r4 VERDICT ask #4)
    "q_gopher_lines" -> ((s, dir) => {
      Quality.lineMetrics(col("txt"))
        .foldLeft(gopherPages(s, dir)) { case (df, (n, c)) =>
          df.withColumn(n, c) }
        .select("gid", "n_lines", "dup_line_frac", "dup_line_char_frac",
          "bullet_line_frac", "ellipsis_line_frac")
        .orderBy("gid")
    }),
    // --- corpus-level line dedup (oracle-paired): C4/CCNet/RefinedWeb
    //     boilerplate removal over the q_gopher_lines page corpus plus
    //     planted boilerplate — a cookie banner on EVERY page (50 copies →
    //     dropAtOrAbove=4 drops all of them, first included) and a
    //     newsletter line on 3 pages (3 copies < 4 → survives the
    //     threshold, keep-first keeps exactly the gid-0 copy); template
    //     dup lines (doc_id%7) exercise keep-first at cnt=2. Every policy
    //     both keeps and drops on this corpus ---------------------------
    "q_line_dedup" -> ((s, dir) => {
      val pages = gopherPages(s, dir).select(col("gid"),
        concat(
          lit("Accept all cookies to continue reading.\n"), col("txt"),
          when(pmod(col("gid"), lit(17)) === 0,
            lit("\nSubscribe to our newsletter today!"))
            .otherwise(lit(""))).as("txt"))
      vigil.dedup.LineDedup.dedupLines(pages, "gid", "txt",
        keepFirst = true, dropAtOrAbove = 4L)
        .orderBy("id")
    }),
    // --- incremental line dedup (oracle-paired): a NEW batch of pages
    //     deduped against the STORED corpus line-stats table (real
    //     parquet write+read; build/serve split as in the other
    //     incremental families). Oracle = the batch slice of a full
    //     corpus∪batch dedup in DuckDB — the equivalence theorem the
    //     spec asserts, exercised end-to-end ----------------------------
    "q_line_dedup_build" -> ((s, dir) => {
      builtSummary(s, buildLineTables(s, dir, force = true), Seq("stats"))
    }),
    "q_line_dedup_incremental" -> ((s, dir) => {
      val base = buildLineTables(s, dir, force = false)
      val (_, batch) = lineDedupSlices(s, dir)
      vigil.dedup.LineDedup.dedupLinesIncremental(
        s.read.parquet(s"$base/stats"), batch, "gid", "txt",
        keepFirst = true, dropAtOrAbove = 4L)
        .orderBy("id")
    }),
    // --- corpus mixing (oracle-paired): per-source token budgets executed
    //     as a deterministic greedy rank prefix (Knuth multiplicative hash
    //     order — reproducible in ANSI SQL, unlike xxhash64). Budgets =
    //     40% of each source's whitespace-token total, src0 unconstrained
    //     → every constrained source both keeps and drops ---------------
    "q_corpus_mix" -> ((s, dir) => {
      val d = docs(s, dir)
      val budgets = vigil.Mix.totals(d, "source", "text")
        .map { case (src, t) => src -> (if (src == "src0") t else t * 2 / 5) }
      vigil.Mix.sampleByBudget(d, "doc_id", "source", "text", budgets)
        .orderBy("doc_id")
    }),
    // --- epoch-weighted upsampling (oracle-paired): the full mixing-
    //     recipe semantic — src0 at 2.5 epochs (2 whole copies + a 50%
    //     fractional rank prefix), everything else downsampled to 0.4;
    //     one output row per emitted copy -------------------------------
    "q_corpus_upsample" -> ((s, dir) => {
      vigil.Mix.upsample(docs(s, dir), "doc_id", "source", "text",
        Map("src0" -> 2.5), defaultEpochs = 0.4)
        .orderBy("doc_id", "copy")
    }),
    // --- SemDeDup (oracle-paired): the q_ann_ivf playbook — a DEGENERATE
    //     exact configuration drives the full operator machinery (ivfBuild
    //     k-means, posting table, within-cluster pair join, greedy drop)
    //     while the result is brute-provable: nCentroids = 1 puts the
    //     whole planted corpus in one cluster (SemDedupSpec's k=1 ≡ brute
    //     theorem), so keep/drop is exactly "vec_id is id_b of some brute
    //     all-pairs cos ≥ 0.99 pair" — float centroid geometry (seeded but
    //     partition-order-sensitive float sums) never touches the output.
    //     cid is dropped from the projection for the same reason. The
    //     clustered scale face stays rows-only as q_semdedup_cluster -----
    "q_semdedup" -> ((s, dir) => {
      vigil.ann.SemDedup.semDedup(semDedupCorpus(s, dir),
        "vec_id", "embedding", nCentroids = 1, minCos = 0.99)
        .select(col("vec_id"), col("keep"))
        .orderBy("vec_id")
    }),
    // --- SemDeDup, clustered (engine-native, rows-only — k-means float
    //     centroids have no SQL twin): the paper's actual scale shape,
    //     k=16 Voronoi blocking; SemDedupSpec locks soundness at any k
    //     (every drop has a real same-cluster partner) and ≥90% planted
    //     recall at k=16 ------------------------------------------------
    "q_semdedup_cluster" -> ((s, dir) => {
      vigil.ann.SemDedup.semDedup(semDedupCorpus(s, dir),
        "vec_id", "embedding", nCentroids = 16, minCos = 0.99)
        .orderBy("vec_id")
    }),
    // --- sequence packing (oracle-paired): the corpus as one token
    //     stream in id order, chunked into 1024-token training blocks;
    //     two-phase distributed prefix sum (explicit id-range buckets →
    //     per-bucket totals → parallel within-bucket windows), output
    //     bucket-count-invariant (PackSpec) and pure integer math — the
    //     DuckDB global-window cumsum is bit-exact ----------------------
    "q_pack" -> ((s, dir) => {
      vigil.Pack.chunkOffsets(docs(s, dir), "doc_id", "text",
        blockTokens = 1024L)
        .orderBy("doc_id")
    }),
    // --- incremental SemDeDup (engine-native, rows-only): a NEW batch
    //     assigned with the STORED centroids, deduped against the stored
    //     posting table — the no-retrain ingest shape; spec-locked ≡ the
    //     batch slice of same-centroids dedup over the union ------------
    "q_semdedup_build" -> ((s, dir) => {
      builtSummary(s, buildSemDedupTables(s, dir, force = true),
        Seq("centroids", "posting"))
    }),
    "q_semdedup_incremental" -> ((s, dir) => {
      val base = buildSemDedupTables(s, dir, force = false)
      val (_, batch) = cosineCorpusBatch(s, dir)
      vigil.ann.SemDedup.semDedupIncremental(
        s.read.parquet(s"$base/centroids"),
        s.read.parquet(s"$base/posting"),
        batch, "vec_id", "embedding", minCos = 0.99)
        .orderBy("vec_id")
    }),
    // --- GPT-3-style quality classifier (engine-native, rows-only —
    //     float LM scores have no SQL twin, the langid precedent): NB
    //     trigram log-odds fit on en-vs-rest, mean-per-trigram score,
    //     deterministic pareto(9) keep rule over the doc-rank uniform;
    //     QualityClassifierSpec hand-locks the model math ----------------
    "q_quality_classifier" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = vigil.QualityClassifier.fit(
        d.filter(col("lang") === "en"),
        d.filter(col("lang") =!= "en"), "text")
      vigil.QualityClassifier.score(
        d.select("doc_id", "lang", "text"), "text", model)
        .select(col("doc_id"), col("lang"), col("score"),
          vigil.QualityClassifier.paretoKeep(col("score") * 10,
            col("doc_id")).as("keep"))
        .orderBy("doc_id")
    }),
    // --- end-to-end pretraining pipeline (engine-native, rows-only):
    //     cleanPages → ExactSubstr scrub → cascade filter → epoch mixing,
    //     with materialization boundaries built in (PretrainSpec locks it
    //     ≡ the hand-composed stages). Pages = 40 multi-line assemblies of
    //     the fixture docs; repetition threshold corpus-tuned to 0.5 so
    //     the rung discriminates (fixture pages land at 0.41-0.56) ------
    // --- one-row corpus report (oracle-paired): the before/after summary
    //     every pipeline run logs — one map-side-combined agg, the only
    //     exchange is the exact distinct over text hashes ----------------
    "q_corpus_stats" -> ((s, dir) => {
      vigil.Pretrain.corpusStats(docs(s, dir), "text")
    }),
    // --- corpus n-gram diversity (oracle-paired): distinct/total gram
    //     ratios per n — the template-saturation signal ----------------
    "q_ngram_diversity" -> ((s, dir) => {
      vigil.Pretrain.ngramDiversity(docs(s, dir), "text", Seq(1, 2, 3))
        .orderBy("n")
    }),
    // --- per-source data card (oracle-paired): the grouped report a
    //     mixing recipe reads before setting budgets ------------------
    "q_corpus_stats_by_source" -> ((s, dir) => {
      vigil.Pretrain.corpusStatsBy(docs(s, dir), "text", "source")
        .orderBy("source")
    }),
    "q_pretrain_pipeline" -> ((s, dir) => {
      val pages = docs(s, dir)
        .select(pmod(col("doc_id"), lit(40)).as("gid"),
          concat(col("text"), lit(".")).as("line"), col("doc_id"))
        .groupBy("gid").agg(concat_ws("\n",
          transform(sort_array(collect_list(struct(col("doc_id"),
            col("line")))), x => x.getField("line"))).as("text"))
        .withColumn("source", concat(lit("s"), pmod(col("gid"), lit(4))))
      vigil.Pretrain.pretrainCorpus(pages, "gid", "text", "source",
        vigil.Pretrain.Config(
          epochs = Map("s0" -> 2.5), defaultEpochs = 0.5,
          filter = vigil.DocFilter.Default.copy(
            repetition = vigil.Quality.RepetitionConfig(
              maxDup2gramCharFrac = 0.5))))
        .orderBy("gid", "copy")
    }),
    // --- ExactSubstr repeated-span scrub (oracle-paired): every code
    //     point covered by a 50-codepoint window occurring ≥2× corpus-wide
    //     is cut from every occurrence (Lee et al. 2021 suffix-array dedup
    //     semantics). The fixture's template cousins share long verbatim
    //     sentence spans → ~10% of docs lose spans, most survive partial —
    //     the flag, the counts and the splice all discriminate ----------
    "q_substr_dedup" -> ((s, dir) => {
      vigil.dedup.SpanDedup.scrubRepeatedSpans(
        docs(s, dir).select("doc_id", "text"), "doc_id", "text",
        L = 50, minCount = 2L)
        .orderBy("id")
    }),
    // --- incremental span scrub (oracle-paired): a NEW batch scrubbed
    //     against the STORED corpus window-stats table (real parquet
    //     write+read; build/serve split as in the other incremental
    //     families). Oracle = the batch slice of the full-table scrub —
    //     exact because removal has no keep-first (spec-asserted) -------
    "q_substr_build" -> ((s, dir) => {
      builtSummary(s, buildSpanTables(s, dir, force = true), Seq("stats"))
    }),
    "q_substr_incremental" -> ((s, dir) => {
      val base = buildSpanTables(s, dir, force = false)
      val (_, batch) = spanSlices(s, dir)
      vigil.dedup.SpanDedup.scrubRepeatedSpansIncremental(
        s.read.parquet(s"$base/stats"), batch, "doc_id", "text",
        L = 50, minCount = 2L)
        .orderBy("id")
    }),
    // --- C4 line filter (oracle-paired): terminal punctuation + ≥5 words
    //     + javascript-line drop, page verdict on kept-line minimum /
    //     lorem ipsum / curly brace — every rule planted deterministically
    //     so each keeps AND drops on this corpus ------------------------
    "q_c4_filter" -> ((s, dir) => {
      Quality.c4LineFilter(col("txt"))
        .foldLeft(c4Pages(s, dir)) { case (df, (n, c)) =>
          df.withColumn(n, c) }
        .select("gid", "c4_text", "n_lines", "n_kept", "c4_keep")
        .orderBy("gid")
    }),
    // --- C4 pre-pass composition (oracle-paired): line filter THEN
    //     corpus line dedup over the q_c4_filter corpus plus planted
    //     boilerplate that PASSES the line rules — a cookie banner on all
    //     40 pages (threshold-dropped everywhere) and a newsletter line on
    //     3 pages (keep-first keeps exactly the gid-0 copy); page_keep
    //     composes the C4 page verdict with survivor existence ----------
    "q_clean_pages" -> ((s, dir) => {
      val pages = c4Pages(s, dir).select(col("gid"),
        concat(
          lit("Accept all cookies to continue reading.\n"), col("txt"),
          when(pmod(col("gid"), lit(17)) === 0,
            lit("\nSubscribe to our newsletter today!"))
            .otherwise(lit(""))).as("txt"))
      DocFilter.cleanPages(pages, "gid", "txt",
        dedupKeepFirst = true, dedupDropAtOrAbove = 4L)
        .orderBy("gid")
    }),
    // --- benchmark decontamination (oracle-paired): flag docs sharing a
    //     word trigram with a planted benchmark set (every 29th doc's
    //     grams — benchmark members are trivially contaminated, template
    //     cousins partially so → the flag discriminates). Broadcast-set
    //     path (the zero-exchange 100 TB shape); ≡ the join path per
    //     DecontamSpec --------------------------------------------------
    "q_decontam" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = vigil.Decontam.gramSet(
        d.filter(pmod(col("doc_id"), lit(29)) === 0), "text", 3)
      vigil.Decontam.flag(d, "doc_id", "text", bench, 3)
        .orderBy("doc_id")
    }),
    // --- contaminated-span scrub (oracle-paired): the GPT-3-style
    //     removal variant over the same planted benchmark — every word
    //     covered by a matching trigram window removed, original case
    //     preserved around the cut; benchmark members scrub to empty,
    //     template cousins lose only the shared spans ------------------
    "q_decontam_scrub" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = vigil.Decontam.gramSet(
        d.filter(pmod(col("doc_id"), lit(29)) === 0), "text", 3)
      vigil.Decontam.scrub(d, "doc_id", "text", bench, 3)
        .orderBy("doc_id")
    }),
    // --- composed C4/Gopher corpus filter (engine-native, rows-only):
    //     one narrow fused scoring spine + repetition + toxicity + exact
    //     and LSH-verified near-dedup, first-failing-rule drop reasons.
    //     Each constituent flag is oracle-paired elsewhere (q_quality_*,
    //     q_gopher_repetition, q_toxicity, q_dedup_exact,
    //     q_neardup_verified); the composition itself needs langid +
    //     perplexity, so it is rows-only by contract -------------------
    "q_doc_filter" -> ((s, dir) => {
      DocFilter.filterDocs(docs(s, dir)).orderBy("doc_id")
    }),
    // --- recurring-ingest corpus filter (engine-native, rows-only):
    //     every 3rd doc arrives as a NEW batch (ids remapped above the
    //     corpus — the ingest reality) against the stored kept-corpus
    //     hash + signature tables; mirrors production with a real
    //     parquet write+read of both stored tables ---------------------
    //     Build/serve split (r4 VERDICT ask #2): q_doc_filter_build pays
    //     the one-time kept-corpus filter + three stored-table writes;
    //     this query then measures only the recurring per-batch cost ----
    "q_doc_filter_build" -> ((s, dir) => {
      builtSummary(s, buildDocFilterTables(s, dir, force = true),
        Seq("kept", "hashes", "sigs"))
    }),
    "q_doc_filter_incremental" -> ((s, dir) => {
      val base = buildDocFilterTables(s, dir, force = false)
      val (_, batch) = docFilterSlices(s, dir)
      DocFilter.filterDocsIncremental(
        s.read.parquet(s"$base/sigs"), s.read.parquet(s"$base/hashes"),
        s.read.parquet(s"$base/kept"), batch)
        .orderBy("doc_id")
    }),
    // --- BM25 lexical retrieval over a STORED inverted index (oracle-
    //     paired): build writes postings (term, doc_id, tf, dl — doc
    //     length denormalized so serving never joins a corpus-wide
    //     length table) + a 1-row stats table; serving broadcasts the
    //     bounded query-term set against the postings scan. Scores are
    //     FLOAT-cast (absorbs ln-ULP + sum-order noise — the
    //     list_cosine_similarity precedent) and ranks order by the FLOAT
    //     score so mathematically equal scores tie-break by doc_id
    //     identically in both engines --------------------------------
    "q_bm25_build" -> ((s, dir) => {
      builtSummary(s, buildSearchTables(s, dir, force = true),
        Seq("postings", "stats"))
    }),
    "q_bm25_score" -> ((s, dir) => {
      val base = buildSearchTables(s, dir, force = false)
      Search.bm25Scores(s.read.parquet(s"$base/postings"),
        s.read.parquet(s"$base/stats"), searchQueryDf(s))
        .orderBy("query_id", "doc_id")
    }),
    "q_bm25_topk" -> ((s, dir) => {
      val base = buildSearchTables(s, dir, force = false)
      Search.bm25TopK(s.read.parquet(s"$base/postings"),
        s.read.parquet(s"$base/stats"), searchQueryDf(s), k = 10)
        .orderBy("query_id", "rank")
    }),
    // --- tf-idf keyword extraction (oracle-paired): top-3 terms per doc
    //     from the same stored postings -------------------------------
    "q_tfidf_keywords" -> ((s, dir) => {
      val base = buildSearchTables(s, dir, force = false)
      Search.tfidfKeywords(s.read.parquet(s"$base/postings"),
        s.read.parquet(s"$base/stats"), m = 3)
        .orderBy("doc_id", "rank")
    }),
    // --- trainable char-trigram LM, the CCNet loop closed (oracle-
    //     paired): q_lm_fit = exact trigram counts of the reference
    //     slice (doc_id%10=0 — the "Wikipedia" side); q_lm_ppl fits that
    //     LM in-query and perplexity-scores the WHOLE corpus (ppl FLOAT-
    //     cast — counts/V exact, ln-ULP + sum-order absorbed) ----------
    "q_lm_fit" -> ((s, dir) => {
      Lm.trigramCounts(
        docs(s, dir).filter(pmod(col("doc_id"), lit(10)) === 0),
        lower(col("text")))
        .orderBy("gram")
    }),
    "q_lm_ppl" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = Lm.fit(d.filter(pmod(col("doc_id"), lit(10)) === 0),
        lower(col("text")))
      Lm.perplexity(d, lower(col("text")), model)
        .select(col("doc_id"), col("n_grams"),
          col("ppl").cast("float").as("ppl"))
        .orderBy("doc_id")
    }),
    // --- HTML → text extraction (oracle-paired): the web-pipeline front
    //     door. Deterministic markup is synthesized around each doc's
    //     text IDENTICALLY in both engines (pure string concat), then
    //     the normative regex chain extracts — so the oracle is also a
    //     java.util.regex ↔ RE2 agreement gate on the portable pattern
    //     subset the extractor commits to --------------------------------
    "q_html_extract" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><style>p{color:red}</style>" +
          "<script>if(a<b){x(\"</p>\")}</script></head>" +
          "<body><!-- c --><h1>Doc "), col("doc_id"),
        lit("</h1><p>"), col("text"),
        lit(" &amp; tail</p><div>fin&nbsp;2</div></body></html>"))
      docs(s, dir)
        .select(col("doc_id"), vigil.Html.extractText(html).as("clean"))
        .orderBy("doc_id")
    }),
    // --- contamination leak report (oracle-paired): the audit view
    //     behind q_decontam — which benchmark n-grams leak into how many
    //     corpus docs, worst first; same doc_id%29 benchmark slice -----
    "q_leak_report" -> ((s, dir) => {
      val d = docs(s, dir)
      vigil.Decontam.leakReport(d, "doc_id", "text",
        d.filter(pmod(col("doc_id"), lit(29)) === 0), "text", n = 3)
    }),
    // --- deterministic train/val/test split (oracle-paired): half-open
    //     docRank intervals — pure integer arithmetic, zero exchanges,
    //     prefix-stable (retuning later fractions never moves an earlier
    //     split's members: the frozen-test-set property) ----------------
    "q_corpus_split" -> ((s, dir) => {
      vigil.Mix.split(docs(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id")
    }),
    // --- SFT-style never-split bin packing (rows-only: FFD has no SQL
    //     twin; the spec locks it to a reference FFD + partitioning
    //     invariance). capacity 64 ≈ 2 fixture docs per bin ------------
    "q_pack_bins" -> ((s, dir) => {
      vigil.Pack.binPackFfd(docs(s, dir), "doc_id", "text",
        capacity = 64, buckets = 8)
        .orderBy("doc_id")
    }),
    // --- embedding-space decontamination (oracle-paired): the semantic
    //     complement of q_decontam — catches paraphrased benchmark
    //     leakage sharing no exact n-gram. Planted perturbed copies of
    //     the benchmark slice (the q_cosine_neardup construction,
    //     cos ≈ 0.9999) sit in a background whose max benchmark cos is
    //     ≤ 0.50, so minCos = 0.8 splits exactly; max over the
    //     bit-identical double cosine is order-independent → max_cos is
    //     bit-exact, no float cast needed ------------------------------
    "q_decontam_cos" -> ((s, dir) => {
      val base = embeddings(s, dir).select("vec_id", "embedding")
      val bench = base.filter(pmod(col("vec_id"), lit(20)) === 0)
      val planted = bench
        .select((col("vec_id") + lit(1000000L)).as("new_id"),
          col("embedding"))
        .select(col("new_id").as("vec_id"),
          transform(col("embedding"),
            (x, i) => (x + sin(col("new_id") * (i + 1)) * lit(0.005))
              .cast("float")).as("embedding"))
      val corpus = base.filter(pmod(col("vec_id"), lit(20)) =!= 0)
        .unionByName(planted)
      vigil.Decontam.flagByEmbedding(corpus, bench,
        "vec_id", "embedding", minCos = 0.8)
        .orderBy("vec_id")
    }),
    // --- the FULL CCNet recipe with the trained LM (rows-only: bucket
    //     cutoffs are a quantile-sketch engine constant, the q_ppl_buckets
    //     precedent): fit on the reference slice, perplexity-score the
    //     corpus with THAT model, bucket head/middle/tail ---------------
    "q_lm_buckets" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = Lm.fit(d.filter(pmod(col("doc_id"), lit(10)) === 0),
        lower(col("text")))
      Quality.pplBucketsOn(
        Lm.perplexity(d, lower(col("text")), model), "ppl")
        .select(col("doc_id"), col("n_grams"),
          col("ppl").cast("float").as("ppl"), col("ppl_bucket"))
        .orderBy("doc_id")
    }),
    // --- DSIR importance resampling (oracle-paired, exact-string mode):
    //     ref = doc_id%10=0 slice, raw = the whole corpus; per-doc log
    //     importance ratio over word 1+2-gram counts (FLOAT-cast), then
    //     Gumbel top-k selection keyed on the Mix.docRank uniform — the
    //     distribution-matching selector beside the quality-threshold
    //     classifier (q_quality_classifier). Hashed-bucket mode is the
    //     100 TB face, spec-locked ≡ exact mode -----------------------
    "q_dsir_weights" -> ((s, dir) => {
      val d = docs(s, dir)
      val m = Dsir.fit(d.filter(pmod(col("doc_id"), lit(10)) === 0), d,
        "text")
      Dsir.logWeights(d, "text", m)
        .select(col("doc_id"), col("n_feats"),
          col("logw").cast("float").as("logw"))
        .orderBy("doc_id")
    }),
    "q_dsir_select" -> ((s, dir) => {
      val d = docs(s, dir)
      val m = Dsir.fit(d.filter(pmod(col("doc_id"), lit(10)) === 0), d,
        "text")
      Dsir.resample(d, "doc_id", "text", m, k = 100)
        .select("doc_id", "key").orderBy("doc_id")
    }),
    // --- hybrid lexical+dense retrieval via reciprocal-rank fusion
    //     (oracle-paired): corpus = documents ⋈ embeddings on
    //     doc_id = vec_id; query docs (id < 5) search BOTH ways — BM25
    //     over their text (self-excluded after df), exact cosine over
    //     their vector — and the two top-20 lists fuse with RRF c0=60.
    //     Rank arithmetic is integer-exact; the two-list RRF sum is one
    //     commutative double add (bit-exact), FLOAT-cast anyway --------
    "q_hybrid_rrf" -> ((s, dir) => {
      // materialize the joined corpus ONCE (localCheckpoint = compute +
      // truncate lineage): five sub-frames consume it (postings, stats,
      // qtext, dense corpus, dense queries) and without the boundary the
      // single fused action re-evaluates the docs⋈embeddings join per
      // consumer — measured as the r5 rep-spread pathology [2.4 s,
      // 27.8 s]. At 100 TB the materialization is a parquet write
      // ([[vigil.Pretrain.materialize]] with a path); in-session the
      // checkpoint is the same shape.
      val base = docs(s, dir)
        .join(embeddings(s, dir), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("text"), col("embedding"))
        .localCheckpoint(true)
      val postings = Search.buildPostings(base, "doc_id", "text")
      val stats = Search.corpusStats(base, "doc_id", "text")
      val qtext = base.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      val lex = Search.bm25TopK(postings, stats, qtext, k = 20,
        excludeSelf = true).select("query_id", "rank", "doc_id")
      val embD = base.select(col("doc_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val dense = Ann.bruteForceTopK(embD, embD.filter(col("doc_id") < 5),
        "doc_id", "embedding", k = 20)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("nn_id").as("doc_id"))
      Search.rrfFuse(Seq(lex, dense), k = 10)
        .orderBy("query_id", "rank")
    }),
    // --- incremental index ingest (oracle-paired): 2/3 of the corpus is
    //     indexed, the remaining third arrives as a batch and merges
    //     (postings UNION + stats fold — no stored row rewritten);
    //     serving the merged index ≡ serving a full rebuild, so the
    //     oracle is the full-corpus BM25 twin ------------------------
    "q_bm25_ingest" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val batch = d.filter(pmod(col("doc_id"), lit(3)) === 0)
      val (p, st) = Search.mergeIndex(
        Search.buildPostings(corpus, "doc_id", "text"),
        Search.corpusStats(corpus, "doc_id", "text"),
        batch, "doc_id", "text")
      Search.bm25Scores(p, st, searchQueryDf(s))
        .orderBy("query_id", "doc_id")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_pii_flag" ->
      s"""SELECT doc_id,
         regexp_matches(text, '$EmailRe') AS has_email,
         regexp_matches(text, '$PhoneRe') AS has_phone,
         regexp_matches(text, '$SsnRe') AS has_ssn,
         regexp_matches(text, '$CpfRe') AS has_cpf,
         (regexp_matches(text, '$EmailRe') OR regexp_matches(text, '$PhoneRe')
          OR regexp_matches(text, '$SsnRe') OR regexp_matches(text, '$CpfRe'))
           AS contem_pii
         FROM documents ORDER BY doc_id""".stripMargin,
    "q_email_extract" ->
      s"""SELECT doc_id,
         coalesce(list_aggregate(regexp_extract_all(text, '$EmailRe'),
           'string_agg', ','), '') AS emails
         FROM documents ORDER BY doc_id""",
    "q_clean_text" ->
      """SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS clean
         FROM documents ORDER BY doc_id""",
    "q_token_count" ->
      """SELECT doc_id,
         len(string_split_regex(text, '\s+')) AS n_ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
           AS n_bpe_tokens
         FROM documents ORDER BY doc_id""",
    // single-row corpus report; integer sums are exact so the avg double
    // is bit-reproducible (sum/count in both engines)
    "q_corpus_stats" ->
      """SELECT count(*) AS n_docs,
         count(DISTINCT md5(text)) AS n_distinct_texts,
         sum(length(text))::BIGINT AS total_chars,
         sum(len(list_filter(string_split(text, ' '),
           w -> len(w) > 0)))::BIGINT AS total_words,
         min(len(list_filter(string_split(text, ' '),
           w -> len(w) > 0)))::BIGINT AS min_words,
         max(len(list_filter(string_split(text, ' '),
           w -> len(w) > 0)))::BIGINT AS max_words,
         avg(len(list_filter(string_split(text, ' '),
           w -> len(w) > 0))) AS avg_words
         FROM documents""",
    "q_ngram_diversity" ->
      """WITH w AS (SELECT list_filter(string_split(lower(text), ' '),
             x -> len(x) > 0) AS ws FROM documents),
         g AS (SELECT n, array_to_string(ws[i:i+n-1], ' ') AS gram
           FROM w, (VALUES (1), (2), (3)) AS v(n),
             unnest(range(1, greatest(len(ws) - n + 2, 1))) AS u(i))
         SELECT n::INTEGER AS n,
           count(DISTINCT gram)::BIGINT AS distinct_grams,
           count(*)::BIGINT AS total_grams,
           count(DISTINCT gram)::DOUBLE / count(*) AS distinct_ratio
         FROM g GROUP BY n ORDER BY n""",
    "q_corpus_stats_by_source" ->
      """SELECT source, count(*) AS n_docs,
         count(DISTINCT md5(text)) AS n_distinct_texts,
         sum(length(text))::BIGINT AS total_chars,
         sum(len(list_filter(string_split(text, ' '),
           w -> len(w) > 0)))::BIGINT AS total_words,
         min(len(list_filter(string_split(text, ' '),
           w -> len(w) > 0)))::BIGINT AS min_words,
         max(len(list_filter(string_split(text, ' '),
           w -> len(w) > 0)))::BIGINT AS max_words,
         avg(len(list_filter(string_split(text, ' '),
           w -> len(w) > 0))) AS avg_words
         FROM documents GROUP BY source ORDER BY source""",
    // zero-merge BPE: every word tokenizes to its code points, so the
    // count is the spaceless character length (DuckDB length() counts
    // code points, same as the Spark-side splitter)
    "q_bpe_base" ->
      """SELECT doc_id,
         length(replace(text, ' ', ''))::BIGINT AS n_tokens
         FROM documents ORDER BY doc_id""",
    "q_dedup_exact" ->
      """SELECT doc_id,
         (row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1)
           AS is_dup
         FROM documents ORDER BY doc_id""",
    "q_word_dist" ->
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE len(word) > 0
         GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 100""",
    // word trigrams via inclusive list slices; range(1, len-1) is empty
    // for texts under 3 words, matching the Spark-side guard
    "q_ngram_top" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
         idx AS (SELECT ws, unnest(range(1, greatest(len(ws) - 1, 1))) AS i
                 FROM w),
         g AS (SELECT array_to_string(ws[i:i+2], ' ') AS gram FROM idx)
         SELECT gram, count(*) AS cnt
         FROM g GROUP BY gram ORDER BY cnt DESC, gram ASC LIMIT 20""",
    "q_eval_confusion" ->
      """SELECT
         CAST(sum(CASE WHEN lang = 'en' AND contains(text, 'window') THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN lang <> 'en' AND contains(text, 'window') THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN lang = 'en' AND NOT contains(text, 'window') THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN lang <> 'en' AND NOT contains(text, 'window') THEN 1 ELSE 0 END) AS BIGINT) AS tn
         FROM documents""",
    "q_quality_stats" ->
      """SELECT doc_id,
         len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS n_words,
         len(text) AS n_chars
         FROM documents ORDER BY doc_id""",
    "q_toxicity" ->
      (s"""SELECT doc_id,
         len(list_intersect(list_filter(string_split(lower(text), ' '),
           w -> len(w) > 0), [""" +
        Toxicity.Lexicon.map(w => s"'$w'").mkString(", ") +
        """])) > 0 AS toxic
         FROM documents ORDER BY doc_id"""),
    "q_event_sessions" ->
      """SELECT user_id, count(*) AS n_events,
         string_agg(event_type, ',' ORDER BY ts, event_id) AS session_seq
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q_eval_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q_window_turns" ->
      """SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS turn_idx
         FROM events ORDER BY user_id, turn_idx""",
    "q_consolidate" ->
      """SELECT user_id, event_id, event_type FROM (
           SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY
               (CASE event_type WHEN 'error' THEN 1 WHEN 'click' THEN 2
                 WHEN 'view' THEN 3 ELSE 99 END) ASC, event_id ASC) AS rn
           FROM events) WHERE rn = 1 ORDER BY user_id""",
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts,
           CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
         g AS (SELECT user_id, event_id, ts, sec,
           CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 28800
             THEN 1 ELSE 0 END AS ns
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, sec,
           CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS BIGINT) AS sess_idx
           FROM g)
         SELECT user_id, sess_idx, count(*) AS n_events,
           min(sec) AS start_s, max(sec) AS end_s
         FROM s GROUP BY user_id, sess_idx ORDER BY user_id, sess_idx""",
    "q_value_hist" ->
      """SELECT CAST(bin AS BIGINT) AS bin, count(*) AS cnt FROM (
           SELECT (CASE
             WHEN value >= 0 AND value < 50 THEN 0
             WHEN value >= 50 AND value < 100 THEN 1
             WHEN value >= 100 AND value < 200 THEN 2
             WHEN value >= 200 AND value < 500 THEN 3
             ELSE -1 END) AS bin
           FROM events) WHERE bin >= 0
         GROUP BY bin ORDER BY bin""",
    "q_props_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events ORDER BY event_id""",
    "q_lenient_bool" ->
      """SELECT event_id,
         lower(trim(['Sim','no','1','TRUE','0','verdadeiro','nope','y']
           [CAST(event_id % 8 AS INT) + 1]))
           IN ('true','1','1.0','sim','yes','s','y','verdadeiro') AS b
         FROM events ORDER BY event_id""",
    // H1 banding thresholds + W1 rank map + W2 priority order inlined as
    // SQL constants (normative values: Review.Config / ReasonRank /
    // PriorityRank); banding applies to the ROUNDED score on both sides
    "q_review_bands" ->
      s"""WITH det AS (
           SELECT doc_id, unnest(regexp_extract_all(text, '$KwARe')) AS valor,
             'kw_infra' AS tipo_pii FROM documents
           UNION ALL
           SELECT doc_id, unnest(regexp_extract_all(text, '$KwBRe')) AS valor,
             'kw_sql' AS tipo_pii FROM documents),
         banded AS (
           SELECT doc_id, tipo_pii, valor,
             round(0.70 + ((doc_id + len(valor)) % 30)/100.0, 2) AS score
           FROM det),
         reasons AS (
           SELECT doc_id, tipo_pii, valor, score,
             CASE WHEN score < 0.80 THEN 'score_baixo'
                  WHEN score < 0.95 THEN 'score_medio' END AS motivo,
             CASE WHEN score < 0.80 THEN 'alta'
                  WHEN score < 0.95 THEN 'baixa' END AS prioridade
           FROM banded WHERE score < 0.95),
         cons AS (
           SELECT doc_id, tipo_pii, valor, score, motivo, prioridade,
             row_number() OVER (PARTITION BY doc_id, lower(valor) ORDER BY
               (CASE motivo WHEN 'score_medio' THEN 5
                 WHEN 'score_baixo' THEN 6 ELSE 99 END) ASC,
               tipo_pii ASC, valor ASC) AS rn
           FROM reasons)
         SELECT doc_id, tipo_pii, valor, score, motivo, prioridade FROM cons
         WHERE rn = 1
         ORDER BY (CASE prioridade WHEN 'alta' THEN 0 WHEN 'media' THEN 1
             WHEN 'baixa' THEN 2 ELSE 9 END) ASC,
           doc_id ASC, tipo_pii ASC, valor ASC""",
    // H4 snippet twin: strpos/substr/length are character-based in DuckDB
    // exactly like instr/substring/length in Spark (and Python str
    // indexing in human_review.py:388-410)
    "q_review_snippet" ->
      s"""WITH det AS (
           SELECT doc_id, text,
             unnest(regexp_extract_all(text, '$KwARe')) AS valor
           FROM documents
           UNION ALL
           SELECT doc_id, text,
             unnest(regexp_extract_all(text, '$KwBRe')) AS valor
           FROM documents
           UNION ALL
           SELECT doc_id, text, 'valor ausente zz' AS valor
           FROM documents WHERE doc_id % 5 = 0),
         d AS (SELECT DISTINCT doc_id, text, valor FROM det),
         pos AS (
           SELECT doc_id, text, valor,
             strpos(lower(text), lower(valor)) AS p,
             length(text) AS len_t, length(valor) AS len_v
           FROM d),
         idx AS (
           SELECT doc_id, text, valor, p, len_t,
             greatest(p - 1 - 100, 0) AS s0,
             least(p - 1 + len_v + 100, len_t) AS e0
           FROM pos)
         SELECT doc_id, valor,
           CASE WHEN p > 0 THEN
             (CASE WHEN s0 > 0 THEN '...' ELSE '' END) ||
             substr(text, CAST(s0 + 1 AS INT), CAST(e0 - s0 AS INT)) ||
             (CASE WHEN e0 < len_t THEN '...' ELSE '' END)
           ELSE
             substr(text, 1, 200) ||
             (CASE WHEN len_t > 200 THEN '...' ELSE '' END)
           END AS trecho
         FROM idx ORDER BY doc_id, valor""",
    // end-to-end review triage twin. The planted context sentence encodes
    // the family flag (doc_id % 6); reasons are enumerated per detection in
    // the reference emission order (slot), consolidation keeps the
    // min-ranked motivo per (doc, lower(valor)) with arrival tiebreak, the
    // snippet runs over the context-augmented clean text, explicacao is the
    // normative Review.Explanations lookup
    "q_review_triage" ->
      s"""WITH base AS (
           SELECT doc_id, text,
             text || (CASE doc_id % 6
               WHEN 0 THEN ' A obra de arte foi restaurada.'
               WHEN 1 THEN ' Ela concluiu o mestrado em março.'
               WHEN 2 THEN ' Foi publicado no jornal da cidade.'
               WHEN 3 THEN ' O prefeito Carlos anunciou a medida.'
               WHEN 4 THEN ' O advogado Bruno apresentou o recurso.'
               ELSE ' Texto escrito por Ana para o curso.' END) AS clean,
             doc_id % 6 AS fam,
             regexp_extract(text, '$KwARe') AS namev,
             regexp_extract_all(text, '$KwBRe') AS kws
           FROM documents),
         dets AS (
           SELECT doc_id, clean, fam, 'nome' AS tipo_pii, namev AS valor,
             0 AS det_idx, TRUE AS is_name
           FROM base WHERE len(namev) > 0
           UNION ALL
           SELECT doc_id, clean, fam, 'kw_sql', unnest(kws),
             (CASE WHEN len(namev) > 0 THEN 1 ELSE 0 END)
               + generate_subscripts(kws, 1) - 1, FALSE
           FROM base
           UNION ALL
           SELECT doc_id, clean, fam, 'nome', 'Portinari',
             (CASE WHEN len(namev) > 0 THEN 1 ELSE 0 END) + len(kws), TRUE
           FROM base WHERE doc_id % 10 = 0),
         scored AS (
           SELECT *, round(0.70 + ((doc_id + len(valor)) % 30)/100.0, 2)
               AS score,
             (lower(valor) = 'portinari') AS known
           FROM dets),
         reasons AS (
           SELECT doc_id, clean, tipo_pii, valor, det_idx, score, 0 AS slot,
             CASE WHEN score < 0.80 THEN 'score_baixo'
                  ELSE 'score_medio' END AS motivo,
             CASE WHEN score < 0.80 THEN 'alta' ELSE 'baixa' END AS prioridade
           FROM scored WHERE score < 0.95
           UNION ALL SELECT doc_id, clean, tipo_pii, valor, det_idx, score, 1,
             'contexto_artistico', 'alta' FROM scored WHERE is_name AND fam = 0
           UNION ALL SELECT doc_id, clean, tipo_pii, valor, det_idx, score, 2,
             'contexto_artistico', 'alta' FROM scored WHERE is_name AND known
           UNION ALL SELECT doc_id, clean, tipo_pii, valor, det_idx, score, 3,
             'contexto_academico', 'media' FROM scored WHERE is_name AND fam = 1
           UNION ALL SELECT doc_id, clean, tipo_pii, valor, det_idx, score, 4,
             'contexto_jornalistico', 'media' FROM scored WHERE is_name AND fam = 2
           UNION ALL SELECT doc_id, clean, tipo_pii, valor, det_idx, score, 5,
             'contexto_cargo_publico', 'baixa' FROM scored WHERE is_name AND fam = 3
           UNION ALL SELECT doc_id, clean, tipo_pii, valor, det_idx, score, 6,
             'contexto_juridico', 'baixa' FROM scored WHERE is_name AND fam = 4
           UNION ALL SELECT doc_id, clean, tipo_pii, valor, det_idx, score, 7,
             'contexto_autoria', 'baixa' FROM scored WHERE is_name AND fam = 5),
         items AS (
           SELECT *, det_idx * 16 +
             (row_number() OVER (PARTITION BY doc_id, det_idx ORDER BY slot)
               - 1) AS arrival
           FROM reasons),
         cons AS (
           SELECT *, row_number() OVER (PARTITION BY doc_id, lower(valor)
             ORDER BY (CASE motivo
               WHEN 'contexto_artistico' THEN 1 WHEN 'contexto_academico' THEN 2
               WHEN 'contexto_juridico' THEN 3 WHEN 'contexto_cargo_publico' THEN 4
               WHEN 'score_medio' THEN 5 WHEN 'score_baixo' THEN 6
               WHEN 'contexto_jornalistico' THEN 7 WHEN 'contexto_autoria' THEN 8
               ELSE 99 END) ASC, arrival ASC) AS rn
           FROM items),
         snip AS (
           SELECT *, strpos(lower(clean), lower(valor)) AS p,
             length(clean) AS len_t, length(valor) AS len_v
           FROM cons WHERE rn = 1),
         pidx AS (
           SELECT *, greatest(p - 1 - 100, 0) AS s0,
             least(p - 1 + len_v + 100, len_t) AS e0
           FROM snip)
         SELECT doc_id::VARCHAR AS conv_id, 0::BIGINT AS turn_idx, prioridade,
           tipo_pii, valor AS valor_detectado, score, motivo,
           replace(CASE WHEN p > 0 THEN
               (CASE WHEN s0 > 0 THEN '...' ELSE '' END) ||
               substr(clean, CAST(s0 + 1 AS INT), CAST(e0 - s0 AS INT)) ||
               (CASE WHEN e0 < len_t THEN '...' ELSE '' END)
             ELSE substr(clean, 1, 200) ||
               (CASE WHEN len_t > 200 THEN '...' ELSE '' END) END,
             chr(10), ' ') AS texto_trecho,
           CASE motivo
             WHEN 'score_baixo' THEN 'Score de confiança do modelo abaixo do threshold. Maior chance de falso positivo.'
             WHEN 'score_medio' THEN 'Score de confiança moderado. Provavelmente correto, mas vale verificar.'
             WHEN 'contexto_artistico' THEN 'Texto contém referências a arte/patrimônio. Nome pode ser de artista, não dado pessoal do solicitante.'
             WHEN 'contexto_academico' THEN 'Texto contém contexto acadêmico. Nome pode ser dado manifestamente público (LGPD Art. 7º, § 4º).'
             WHEN 'contexto_jornalistico' THEN 'Texto contém contexto jornalístico. LGPD não se aplica a fins jornalísticos (Art. 4º, II, a).'
             WHEN 'contexto_cargo_publico' THEN 'Nome de autoridade/cargo público detectado. Dados de agentes públicos são públicos por natureza.'
             WHEN 'contexto_juridico' THEN 'Contexto jurídico detectado (OAB, advogado, juiz). Dados profissionais públicos, não dados pessoais sensíveis.'
             WHEN 'contexto_autoria' THEN 'Contexto de autoria/referência bibliográfica. Nome pode ser de autor citado, não do solicitante.'
             ELSE 'Verificação manual recomendada.' END AS explicacao
         FROM pidx
         ORDER BY (CASE prioridade WHEN 'alta' THEN 0 WHEN 'media' THEN 1
             WHEN 'baixa' THEN 2 ELSE 9 END) ASC,
           conv_id ASC, turn_idx ASC, arrival ASC""",
    "q_jaccard_pairs" ->
      """WITH t AS (SELECT doc_id, source,
           list_distinct(list_filter(string_split(lower(text), ' '),
             w -> len(w) > 0)) AS toks FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
         FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
         ORDER BY id_a, id_b""",
    // global all-pairs twin of the LSH-candidates + exact-verify query:
    // identical output above threshold iff the LSH misses nothing
    "q_neardup_verified" ->
      """WITH t AS (SELECT doc_id,
           list_distinct(list_filter(string_split(lower(text), ' '),
             w -> len(w) > 0)) AS toks FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
         FROM t a JOIN t b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
         ORDER BY id_a, id_b""",
    // word-trigram shingle sets (same strings the Spark verifier builds,
    // incl. the <3-words whole-text fallback); exact set Jaccard ≥ 0.8
    "q_jaccard_kgram" ->
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '),
             x -> len(x) > 0) AS ws FROM documents),
         g AS (
           SELECT doc_id, list_sort(list_distinct(CASE WHEN len(ws) >= 3
             THEN (SELECT list(array_to_string(ws[i:i+2], ' '))
                   FROM unnest(range(1, len(ws)-1)) t(i))
             WHEN len(ws) > 0 THEN [array_to_string(ws, ' ')]
             ELSE [] END)) AS sh
           FROM w)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         FROM g a JOIN g b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
         ORDER BY id_a, id_b""",
    // transitive closure over the same brute pair graph: component =
    // smallest reachable doc_id (UNION-dedup makes the recursion finite)
    "q_neardup_components" ->
      """WITH RECURSIVE
           t AS (SELECT doc_id,
             list_distinct(list_filter(string_split(lower(text), ' '),
               w -> len(w) > 0)) AS toks FROM documents),
           pairs AS (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b
             FROM t a JOIN t b ON a.doc_id < b.doc_id
             WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9),
           edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                     UNION ALL SELECT id_b, id_a FROM pairs),
           reach(id, r) AS (
             SELECT doc_id, doc_id FROM documents
             UNION
             SELECT reach.id, e.dst FROM reach JOIN edges e
               ON reach.r = e.src)
         SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
         FROM reach GROUP BY 1 ORDER BY doc_id""",
    // batch-touching slice of the global brute-force pairs: the
    // incremental path must find every pair with ≥1 member in the batch
    // (doc_id % 3 = 0) and must NOT emit corpus×corpus pairs
    "q_neardup_incremental" ->
      """WITH t AS (SELECT doc_id,
           list_distinct(list_filter(string_split(lower(text), ' '),
             w -> len(w) > 0)) AS toks FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
         FROM t a JOIN t b ON a.doc_id < b.doc_id
         WHERE (a.doc_id % 3 = 0 OR b.doc_id % 3 = 0)
           AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
         ORDER BY id_a, id_b""",
    "q_ann_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
         s AS (SELECT q.vec_id AS query_id, e.vec_id AS nn_id,
                 list_cosine_similarity(q.v, e.v) AS cos
               FROM e JOIN q ON q.vec_id <> e.vec_id)
         SELECT query_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, nn_id ASC) AS rank,
           nn_id, cos
         FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""",
    // brute-force twin of the recall-designed LSH top-k over the same
    // deterministically planted corpus (5 perturbed copies per query):
    // with bands derived for designCos 0.999 at miss 1e-7, the LSH
    // candidate set provably contains every true top-5 neighbor, so the
    // exact re-rank equals this exhaustive top-5
    "q_ann_lsh" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
         planted AS (SELECT vec_id + j*1000000 AS vec_id,
             list_transform(range(1, 65),
               i -> (embedding[i] + sin((vec_id + j*1000000)*i)*(0.002*j))::FLOAT)
               AS embedding
           FROM base, range(1, 6) t(j) WHERE vec_id < 10),
         allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM base
                  UNION ALL SELECT vec_id, embedding::DOUBLE[] FROM planted),
         q AS (SELECT vec_id, v FROM allv WHERE vec_id < 10),
         s AS (SELECT q.vec_id AS query_id, e.vec_id AS nn_id,
                 list_cosine_similarity(q.v, e.v) AS cos
               FROM allv e JOIN q ON q.vec_id <> e.vec_id)
         SELECT query_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, nn_id ASC) AS rank,
           nn_id, cos
         FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""",
    // full-probe IVF degenerates to exact search → the brute twin over
    // the [10, 20) query slice
    "q_ann_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id, v FROM e WHERE vec_id >= 10 AND vec_id < 20),
         s AS (SELECT q.vec_id AS query_id, e.vec_id AS nn_id,
                 list_cosine_similarity(q.v, e.v) AS cos
               FROM e JOIN q ON q.vec_id <> e.vec_id)
         SELECT query_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, nn_id ASC) AS rank,
           nn_id, cos
         FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""",
    // brute-force twin of the PQ compressed-index search over the same
    // planted corpus as q_ann_lsh: ADC shortlist + exact refine provably
    // contains every planted neighbor (margin 0.9996 vs 0.51 background),
    // so the refined top-5 equals this exhaustive top-5
    "q_pq_ann" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
         planted AS (SELECT vec_id + j*1000000 AS vec_id,
             list_transform(range(1, 65),
               i -> (embedding[i] + sin((vec_id + j*1000000)*i)*(0.002*j))::FLOAT)
               AS embedding
           FROM base, range(1, 6) t(j) WHERE vec_id < 10),
         allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM base
                  UNION ALL SELECT vec_id, embedding::DOUBLE[] FROM planted),
         q AS (SELECT vec_id, v FROM allv WHERE vec_id < 10),
         s AS (SELECT q.vec_id AS query_id, e.vec_id AS nn_id,
                 list_cosine_similarity(q.v, e.v) AS cos
               FROM allv e JOIN q ON q.vec_id <> e.vec_id)
         SELECT query_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, nn_id ASC) AS rank,
           nn_id, cos
         FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""",
    // q_pq_serve answers the same question from the STORED codebook/codes
    // tables (identical build config) — same exhaustive twin
    "q_pq_serve" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
         planted AS (SELECT vec_id + j*1000000 AS vec_id,
             list_transform(range(1, 65),
               i -> (embedding[i] + sin((vec_id + j*1000000)*i)*(0.002*j))::FLOAT)
               AS embedding
           FROM base, range(1, 6) t(j) WHERE vec_id < 10),
         allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM base
                  UNION ALL SELECT vec_id, embedding::DOUBLE[] FROM planted),
         q AS (SELECT vec_id, v FROM allv WHERE vec_id < 10),
         s AS (SELECT q.vec_id AS query_id, e.vec_id AS nn_id,
                 list_cosine_similarity(q.v, e.v) AS cos
               FROM allv e JOIN q ON q.vec_id <> e.vec_id)
         SELECT query_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, nn_id ASC) AS rank,
           nn_id, cos
         FROM s QUALIFY rank <= 5 ORDER BY query_id, rank""",
    // brute-force twin of the LSH-banded near-dup query over the same
    // deterministically planted corpus; the float perturbation and the
    // double cosine are bit-reproduced (sin → ::FLOAT absorbs libm ulps)
    "q_cosine_neardup" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
         planted AS (SELECT vec_id + 1000000 AS vec_id,
             list_transform(range(1, 65),
               i -> (embedding[i] + sin((vec_id+1000000)*i)*0.005)::FLOAT)
               AS embedding
           FROM base),
         allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM base
                  UNION ALL SELECT vec_id, embedding::DOUBLE[] FROM planted)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_cosine_similarity(a.v, b.v) AS cos
         FROM allv a JOIN allv b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.95
         ORDER BY id_a, id_b""",
    // batch-touching slice of the planted brute pairs: the incremental
    // path must find every pair with ≥1 member in the batch (planted
    // copies whose base id ≡ 0 mod 3) and suppress corpus×corpus pairs
    "q_cosine_incremental" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
         planted AS (SELECT vec_id + 1000000 AS vec_id,
             list_transform(range(1, 65),
               i -> (embedding[i] + sin((vec_id+1000000)*i)*0.005)::FLOAT)
               AS embedding
           FROM base),
         allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM base
                  UNION ALL SELECT vec_id, embedding::DOUBLE[] FROM planted)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_cosine_similarity(a.v, b.v) AS cos
         FROM allv a JOIN allv b ON a.vec_id < b.vec_id
         WHERE ((a.vec_id >= 1000000 AND (a.vec_id - 1000000) % 3 = 0) OR
                (b.vec_id >= 1000000 AND (b.vec_id - 1000000) % 3 = 0))
           AND list_cosine_similarity(a.v, b.v) >= 0.95
         ORDER BY id_a, id_b""",
    // SemDeDup at nCentroids = 1 (single Voronoi cell): keep/drop is the
    // greedy smallest-id rule over the brute all-pairs cos ≥ 0.99 graph —
    // a vector drops iff it is the LARGER id of some duplicate pair. The
    // planted corpus and double-cosine convention are q_cosine_neardup's.
    "q_semdedup" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
         planted AS (SELECT vec_id + 1000000 AS vec_id,
             list_transform(range(1, 65),
               i -> (embedding[i] + sin((vec_id+1000000)*i)*0.005)::FLOAT)
               AS embedding
           FROM base),
         allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM base
                  UNION ALL SELECT vec_id, embedding::DOUBLE[] FROM planted),
         drops AS (SELECT DISTINCT b.vec_id
           FROM allv a JOIN allv b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.v, b.v) >= 0.99)
         SELECT allv.vec_id AS vec_id, (drops.vec_id IS NULL) AS keep
         FROM allv LEFT JOIN drops ON allv.vec_id = drops.vec_id
         ORDER BY allv.vec_id""",
    // index-build invariants (r5 VERDICT ask #8): each build query emits
    // (table, rows-written) read back from the written parquet, and the
    // twin derives the EXPECTED count from the source tables — one sig
    // row per corpus doc/vector, exactly nCentroids centroid rows,
    // exactly numSub·kCodes codebook rows — so a build that silently
    // drops rows (or never writes) fails the hard gate, not just a spec
    "q_neardup_build" ->
      """SELECT 'sigs' AS "table", count(*)::BIGINT AS "rows"
         FROM documents WHERE doc_id % 3 <> 0""",
    "q_cosine_build" ->
      """SELECT 'sigs' AS "table",
           ((SELECT count(*) FROM embeddings) +
            (SELECT count(*) FROM embeddings WHERE vec_id % 3 <> 0))::BIGINT
           AS "rows"""",
    "q_semdedup_build" ->
      """SELECT 'centroids' AS "table", 16::BIGINT AS "rows"
         UNION ALL
         SELECT 'posting',
           (SELECT count(*) FROM embeddings) +
           (SELECT count(*) FROM embeddings WHERE vec_id % 3 <> 0)
         ORDER BY "table"""",
    "q_pq_build" ->
      """SELECT 'codebook' AS "table", 512::BIGINT AS "rows"
         UNION ALL
         SELECT 'codes',
           (SELECT count(*) FROM embeddings) +
           5 * (SELECT count(*) FROM embeddings WHERE vec_id < 10)
         ORDER BY "table"""",
    // planted-determinism dedup twins: the tagged-copy corpus makes the
    // emitted pair set equal the exact-duplicate pair set (equality join
    // on tagged text); est_jaccard is exactly 1.0 / hamming exactly 0
    "q_minhash_dedup" ->
      """WITH tagged AS (
           SELECT doc_id, array_to_string(list_transform(
             string_split(text, ' '),
             w -> doc_id::VARCHAR || '_' || w), ' ') AS ttext
           FROM documents),
         corpus AS (
           SELECT doc_id, ttext FROM tagged
           UNION ALL
           SELECT doc_id + j * 1000000, ttext
           FROM tagged, range(1, 3) r(j)
           WHERE doc_id % 5 = 0 AND j <= 1 + doc_id % 2)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(1.0 AS DOUBLE) AS est_jaccard
         FROM corpus a JOIN corpus b
           ON a.ttext = b.ttext AND a.doc_id < b.doc_id
         ORDER BY id_a, id_b""",
    // incremental exact dedup over the tagged-copy corpus: a batch row is
    // dup iff its text exists in the corpus slice or in an earlier batch
    // row — the Bloom prefilter is recall-lossless (no false negatives)
    // and the text-verify join kills false positives, so the exact SQL
    // twin is the definition itself
    "q_bloom_dedup" ->
      """WITH tagged AS (
           SELECT doc_id, array_to_string(list_transform(
             string_split(text, ' '),
             w -> doc_id::VARCHAR || '_' || w), ' ') AS ttext
           FROM documents),
         allc AS (
           SELECT doc_id, ttext FROM tagged
           UNION ALL
           SELECT doc_id + j * 1000000, ttext
           FROM tagged, range(1, 3) r(j)
           WHERE doc_id % 5 = 0 AND j <= 1 + doc_id % 2),
         corpus AS (SELECT * FROM allc
                    WHERE doc_id < 1000000 AND doc_id % 3 <> 0),
         batch AS (SELECT * FROM allc
                   WHERE doc_id >= 1000000 OR doc_id % 3 = 0)
         SELECT b.doc_id,
           (EXISTS(SELECT 1 FROM corpus c WHERE c.ttext = b.ttext)
            OR EXISTS(SELECT 1 FROM batch b2
                      WHERE b2.ttext = b.ttext AND b2.doc_id < b.doc_id))
             AS is_dup
         FROM batch b ORDER BY doc_id""",
    "q_simhash_dedup" ->
      """WITH tagged AS (
           SELECT doc_id, array_to_string(list_transform(
             string_split(text, ' '),
             w -> doc_id::VARCHAR || '_' || w), ' ') AS ttext
           FROM documents),
         corpus AS (
           SELECT doc_id, ttext FROM tagged
           UNION ALL
           SELECT doc_id + j * 1000000, ttext
           FROM tagged, range(1, 3) r(j)
           WHERE doc_id % 5 = 0 AND j <= 1 + doc_id % 2)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(0 AS BIGINT) AS hamming
         FROM corpus a JOIN corpus b
           ON a.ttext = b.ttext AND a.doc_id < b.doc_id
         ORDER BY id_a, id_b""",
    // line-level Gopher rules over the same deterministic page corpus:
    // lines = trimmed non-empty split on \n; dup_line_frac = 1 −
    // distinct/total; dup_line_char_frac = surplus chars of repeated
    // lines over total; bullet/ellipsis = prefix/suffix line fractions
    "q_gopher_lines" ->
      """WITH l0 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN '- ' || text ELSE text END AS l1
           FROM documents),
         l AS (
           SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN l1 || '...' ELSE l1 END AS line
           FROM l0),
         c AS (
           SELECT doc_id, line,
             unnest(CASE WHEN doc_id % 7 = 0 THEN [0, 1] ELSE [0] END)
               AS copy
           FROM l),
         g AS (
           SELECT doc_id % 50 AS gid,
             string_agg(line, chr(10) ORDER BY doc_id, copy) AS txt
           FROM c GROUP BY 1),
         lw AS (
           SELECT gid,
             list_filter(list_transform(string_split(txt, chr(10)),
               x -> trim(x)), x -> len(x) > 0) AS ls
           FROM g),
         m AS (
           SELECT gid, ls, len(ls) AS n,
             list_aggregate(list_transform(ls, x -> len(x)), 'sum') AS chars,
             list_aggregate(list_transform(list_distinct(ls), x -> len(x)),
               'sum') AS dchars
           FROM lw)
         SELECT gid,
           CAST(n AS BIGINT) AS n_lines,
           CASE WHEN n > 0
             THEN 1.0 - len(list_distinct(ls))::DOUBLE / n
             ELSE 0.0 END AS dup_line_frac,
           CASE WHEN chars > 0
             THEN (chars - dchars)::DOUBLE / chars
             ELSE 0.0 END AS dup_line_char_frac,
           CASE WHEN n > 0
             THEN len(list_filter(ls, x -> starts_with(x, '- ')
               OR starts_with(x, '* ') OR starts_with(x, '• ')))::DOUBLE / n
             ELSE 0.0 END AS bullet_line_frac,
           CASE WHEN n > 0
             THEN len(list_filter(ls, x -> ends_with(x, '...')
               OR ends_with(x, '…')))::DOUBLE / n
             ELSE 0.0 END AS ellipsis_line_frac
         FROM m ORDER BY gid""",
    // corpus-level line dedup over the same gopher page corpus: per-line
    // occurrence count + first-(gid,idx) argmin via windows (the Spark
    // side's hash-keyed path is spec-locked bit-equal to this string-keyed
    // semantics); keep iff cnt < 4 AND first copy; rebuild ordered by idx
    "q_line_dedup" ->
      """WITH l0 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN '- ' || text ELSE text END AS l1
           FROM documents),
         l AS (
           SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN l1 || '...' ELSE l1 END AS line
           FROM l0),
         c AS (
           SELECT doc_id, line,
             unnest(CASE WHEN doc_id % 7 = 0 THEN [0, 1] ELSE [0] END)
               AS copy
           FROM l),
         g0 AS (
           SELECT doc_id % 50 AS gid,
             string_agg(line, chr(10) ORDER BY doc_id, copy) AS txt
           FROM c GROUP BY 1),
         g AS (
           SELECT gid,
             'Accept all cookies to continue reading.' || chr(10) || txt ||
             CASE WHEN gid % 17 = 0
               THEN chr(10) || 'Subscribe to our newsletter today!'
               ELSE '' END AS txt
           FROM g0),
         lw AS (
           SELECT gid,
             list_filter(list_transform(string_split(txt, chr(10)),
               x -> trim(x)), x -> len(x) > 0) AS ls
           FROM g),
         ln AS (
           SELECT gid, i - 1 AS idx, ls[i] AS line
           FROM lw, unnest(range(1, len(ls) + 1)) t(i)),
         mk AS (
           SELECT gid, idx, line,
             count(*) OVER (PARTITION BY line) AS cnt,
             row_number() OVER (PARTITION BY line ORDER BY gid, idx) AS rn
           FROM ln),
         reb AS (
           SELECT gid, count(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY idx) AS clean_text
           FROM mk WHERE cnt < 4 AND rn = 1 GROUP BY gid),
         tot AS (
           SELECT gid, CAST(len(ls) AS BIGINT) AS n_lines FROM lw)
         SELECT t.gid AS id, coalesce(r.clean_text, '') AS clean_text,
           t.n_lines, CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
         FROM tot t LEFT JOIN reb r ON t.gid = r.gid
         ORDER BY id""",
    // incremental line dedup: the DuckDB twin runs the FULL corpus∪batch
    // dedup (corpus = pages gid<40, batch = gid>=40 at +1000 ids, so
    // corpus occurrences win every keep-first argmin) and slices the
    // batch rows — the equivalence theorem the Spark incremental path is
    // spec-locked to
    "q_line_dedup_incremental" ->
      """WITH l0 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN '- ' || text ELSE text END AS l1
           FROM documents),
         l AS (
           SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN l1 || '...' ELSE l1 END AS line
           FROM l0),
         c AS (
           SELECT doc_id, line,
             unnest(CASE WHEN doc_id % 7 = 0 THEN [0, 1] ELSE [0] END)
               AS copy
           FROM l),
         g0 AS (
           SELECT doc_id % 50 AS gid,
             string_agg(line, chr(10) ORDER BY doc_id, copy) AS txt
           FROM c GROUP BY 1),
         g1 AS (
           SELECT gid,
             'Accept all cookies to continue reading.' || chr(10) || txt ||
             CASE WHEN gid % 21 = 0
               THEN chr(10) || 'Related articles you may also like.'
               ELSE '' END ||
             CASE WHEN gid % 4 = 0 AND gid >= 40
               THEN chr(10) || 'Share this story with your friends.'
               ELSE '' END AS txt
           FROM g0),
         g AS (
           SELECT CASE WHEN gid < 40 THEN gid ELSE gid + 1000 END AS gid,
             txt
           FROM g1),
         lw AS (
           SELECT gid,
             list_filter(list_transform(string_split(txt, chr(10)),
               x -> trim(x)), x -> len(x) > 0) AS ls
           FROM g),
         ln AS (
           SELECT gid, i - 1 AS idx, ls[i] AS line
           FROM lw, unnest(range(1, len(ls) + 1)) t(i)),
         mk AS (
           SELECT gid, idx, line,
             count(*) OVER (PARTITION BY line) AS cnt,
             row_number() OVER (PARTITION BY line ORDER BY gid, idx) AS rn
           FROM ln),
         reb AS (
           SELECT gid, count(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY idx) AS clean_text
           FROM mk WHERE cnt < 4 AND rn = 1 GROUP BY gid),
         tot AS (
           SELECT gid, CAST(len(ls) AS BIGINT) AS n_lines FROM lw)
         SELECT t.gid AS id, coalesce(r.clean_text, '') AS clean_text,
           t.n_lines, CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
         FROM tot t LEFT JOIN reb r ON t.gid = r.gid
         WHERE t.gid >= 1000
         ORDER BY id""",
    // sequence packing: global token-stream cumsum in doc_id order,
    // chunked into 1024-token blocks; empty docs sit at the cursor
    "q_pack" ->
      """WITH tok AS (
           SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'),
               x -> len(x) > 0)) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS gs
           FROM tok)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(gs AS BIGINT) AS global_start,
           CAST(gs // 1024 AS BIGINT) AS first_block,
           CAST(CASE WHEN n_tokens > 0
             THEN (gs + n_tokens - 1) // 1024
             ELSE gs // 1024 END AS BIGINT) AS last_block,
           CAST(gs % 1024 AS BIGINT) AS offset_in_first
         FROM c ORDER BY doc_id""",
    // corpus mixing: greedy rank-prefix budget sampling; rank = Knuth
    // multiplicative hash (id * 2654435761 mod 2^32), kept while the
    // running token total within the source stays <= the budget
    "q_corpus_mix" ->
      """WITH tok AS (
           SELECT doc_id, source,
             len(list_filter(string_split_regex(text, '\s+'),
               x -> len(x) > 0)) AS n_tokens,
             (((doc_id % 4294967296) // 65536) * 2041643008
               + ((doc_id % 4294967296) % 65536) * 2654435761) % 4294967296 AS rank
           FROM documents),
         tot AS (SELECT source, sum(n_tokens) AS t FROM tok GROUP BY source),
         b AS (
           SELECT source, CAST(CASE WHEN source = 'src0' THEN t
             ELSE (t * 2) // 5 END AS BIGINT) AS budget
           FROM tot),
         c AS (
           SELECT tok.*,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY rank, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
           FROM tok)
         SELECT c.doc_id, c.source, CAST(c.n_tokens AS BIGINT) AS n_tokens,
           CAST(c.rank AS BIGINT) AS rank,
           CAST(c.cum_tokens AS BIGINT) AS cum_tokens,
           b.budget, c.cum_tokens <= b.budget AS kept
         FROM c JOIN b USING (source)
         ORDER BY doc_id""",
    // epoch upsampling: k = floor(epochs) whole copies per doc + copy k
    // for the greedy rank prefix within floor(frac * source_total) tokens
    "q_corpus_upsample" ->
      """WITH tok AS (
           SELECT doc_id, source,
             len(list_filter(string_split_regex(text, '\s+'),
               x -> len(x) > 0)) AS n_tokens,
             (((doc_id % 4294967296) // 65536) * 2041643008
               + ((doc_id % 4294967296) % 65536) * 2654435761) % 4294967296 AS rank,
             CASE WHEN source = 'src0' THEN 2.5 ELSE 0.4 END AS ep
           FROM documents),
         whole AS (
           SELECT doc_id, CAST(c AS BIGINT) AS copy, source, n_tokens
           FROM tok, unnest(range(0, CAST(floor(ep) AS BIGINT))) t(c)),
         cw AS (
           SELECT tok.*,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY rank, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n_tokens) OVER (PARTITION BY source) AS t
           FROM tok),
         fr AS (
           SELECT doc_id, CAST(floor(ep) AS BIGINT) AS copy, source,
             n_tokens
           FROM cw WHERE cum <= floor((ep - floor(ep)) * t))
         SELECT doc_id, copy, source, CAST(n_tokens AS BIGINT) AS n_tokens
         FROM (SELECT * FROM whole UNION ALL SELECT * FROM fr)
         ORDER BY doc_id, copy""",
    // ExactSubstr repeated-span scrub: a code point (1-based idx) is cut
    // iff some corpus-duplicated 50-char window starts in [idx-49, idx];
    // rebuild concatenates survivors in order (Spark splices 0-based code
    // point positions — same coverage)
    "q_substr_dedup" ->
      """WITH w AS (
           SELECT doc_id, i, substr(text, i, 50) AS s
           FROM documents, unnest(range(1, len(text) - 48)) t(i)
           WHERE len(text) >= 50),
         dup AS (SELECT s FROM w GROUP BY s HAVING count(*) >= 2),
         st AS (
           SELECT doc_id, list(i) AS ss, count(*) AS nd
           FROM w WHERE s IN (SELECT s FROM dup) GROUP BY doc_id),
         ch AS (
           SELECT d.doc_id, idx, substr(d.text, idx, 1) AS c,
             len(list_filter(coalesce(st.ss, []),
               s -> s <= idx AND idx < s + 50)) > 0 AS cov
           FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id,
             unnest(range(1, len(d.text) + 1)) t(idx)),
         reb AS (
           SELECT doc_id,
             coalesce(string_agg(CASE WHEN NOT cov THEN c END,
               '' ORDER BY idx), '') AS clean_text,
             sum(CASE WHEN cov THEN 1 ELSE 0 END) AS n_removed
           FROM ch GROUP BY doc_id)
         SELECT d.doc_id AS id,
           coalesce(r.clean_text, '') AS clean_text,
           CAST(greatest(len(d.text) - 49, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(st.nd, 0) AS BIGINT) AS n_dup_windows,
           CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
           coalesce(st.nd, 0) > 0 AS deduped
         FROM documents d
         LEFT JOIN reb r ON d.doc_id = r.doc_id
         LEFT JOIN st ON d.doc_id = st.doc_id
         ORDER BY id""",
    // incremental span scrub: the %3 slices PARTITION documents, so
    // corpus∪batch = the whole table — full-table dup detection sliced to
    // the batch (removal has no keep-first, so the slice is exact)
    "q_substr_incremental" ->
      """WITH w AS (
           SELECT doc_id, i, substr(text, i, 50) AS s
           FROM documents, unnest(range(1, len(text) - 48)) t(i)
           WHERE len(text) >= 50),
         dup AS (SELECT s FROM w GROUP BY s HAVING count(*) >= 2),
         st AS (
           SELECT doc_id, list(i) AS ss, count(*) AS nd
           FROM w WHERE s IN (SELECT s FROM dup) GROUP BY doc_id),
         ch AS (
           SELECT d.doc_id, idx, substr(d.text, idx, 1) AS c,
             len(list_filter(coalesce(st.ss, []),
               s -> s <= idx AND idx < s + 50)) > 0 AS cov
           FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id,
             unnest(range(1, len(d.text) + 1)) t(idx)
           WHERE d.doc_id % 3 = 0),
         reb AS (
           SELECT doc_id,
             coalesce(string_agg(CASE WHEN NOT cov THEN c END,
               '' ORDER BY idx), '') AS clean_text,
             sum(CASE WHEN cov THEN 1 ELSE 0 END) AS n_removed
           FROM ch GROUP BY doc_id)
         SELECT d.doc_id AS id,
           coalesce(r.clean_text, '') AS clean_text,
           CAST(greatest(len(d.text) - 49, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(st.nd, 0) AS BIGINT) AS n_dup_windows,
           CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
           coalesce(st.nd, 0) > 0 AS deduped
         FROM documents d
         LEFT JOIN reb r ON d.doc_id = r.doc_id
         LEFT JOIN st ON d.doc_id = st.doc_id
         WHERE d.doc_id % 3 = 0
         ORDER BY id""",
    // C4 line filter over a planted page corpus: same line unit, kept iff
    // terminal punct + >=5 words + no 'javascript'; page verdict needs >=3
    // kept lines and a clean page (no lorem ipsum / curly brace)
    "q_c4_filter" ->
      """WITH a1 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' etc'
               ELSE text || '.' END AS a
           FROM documents),
         a2 AS (
           SELECT doc_id, CASE WHEN doc_id % 5 = 0
             THEN 'javascript ' || a ELSE a END AS a FROM a1),
         a3 AS (
           SELECT doc_id, CASE WHEN doc_id % 7 = 0
             THEN 'Too short.' ELSE a END AS a FROM a2),
         a4 AS (
           SELECT doc_id, CASE WHEN doc_id % 17 = 0
             THEN a || ' lorem ipsum' ELSE a END AS a FROM a3),
         a5 AS (
           SELECT doc_id, CASE WHEN doc_id % 19 = 0
             THEN a || ' {' ELSE a END AS a FROM a4),
         g AS (
           SELECT doc_id % 40 AS gid,
             string_agg(a, chr(10) ORDER BY doc_id) AS txt
           FROM a5 GROUP BY 1),
         lw AS (
           SELECT gid, txt,
             list_filter(list_transform(string_split(txt, chr(10)),
               x -> trim(x)), x -> len(x) > 0) AS ls
           FROM g),
         k AS (
           SELECT gid, txt, ls,
             list_filter(ls, l ->
               (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?')
                 OR ends_with(l, '"'))
               AND len(list_filter(string_split(l, ' '),
                 w -> len(w) > 0)) >= 5
               AND NOT contains(lower(l), 'javascript')) AS ks
           FROM lw)
         SELECT gid,
           coalesce(array_to_string(ks, chr(10)), '') AS c4_text,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(ks) AS BIGINT) AS n_kept,
           (len(ks) >= 3 AND NOT contains(lower(txt), 'lorem ipsum')
             AND NOT contains(txt, '{')) AS c4_keep
         FROM k ORDER BY gid""",
    // C4 pre-pass composition: line rules (incl. the planted banner /
    // newsletter boilerplate, which passes them), then corpus line dedup
    // (cnt<4 + keep-first windows) over the kept lines, then the page
    // verdict AND survivor existence
    "q_clean_pages" ->
      """WITH a1 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' etc'
               ELSE text || '.' END AS a
           FROM documents),
         a2 AS (
           SELECT doc_id, CASE WHEN doc_id % 5 = 0
             THEN 'javascript ' || a ELSE a END AS a FROM a1),
         a3 AS (
           SELECT doc_id, CASE WHEN doc_id % 7 = 0
             THEN 'Too short.' ELSE a END AS a FROM a2),
         a4 AS (
           SELECT doc_id, CASE WHEN doc_id % 17 = 0
             THEN a || ' lorem ipsum' ELSE a END AS a FROM a3),
         a5 AS (
           SELECT doc_id, CASE WHEN doc_id % 19 = 0
             THEN a || ' {' ELSE a END AS a FROM a4),
         g0 AS (
           SELECT doc_id % 40 AS gid,
             string_agg(a, chr(10) ORDER BY doc_id) AS txt
           FROM a5 GROUP BY 1),
         g AS (
           SELECT gid,
             'Accept all cookies to continue reading.' || chr(10) || txt ||
             CASE WHEN gid % 17 = 0
               THEN chr(10) || 'Subscribe to our newsletter today!'
               ELSE '' END AS txt
           FROM g0),
         lw AS (
           SELECT gid, txt,
             list_filter(list_transform(string_split(txt, chr(10)),
               x -> trim(x)), x -> len(x) > 0) AS ls
           FROM g),
         k AS (
           SELECT gid, txt, ls,
             list_filter(ls, l ->
               (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?')
                 OR ends_with(l, '"'))
               AND len(list_filter(string_split(l, ' '),
                 w -> len(w) > 0)) >= 5
               AND NOT contains(lower(l), 'javascript')) AS ks
           FROM lw),
         u AS (
           SELECT gid, i - 1 AS idx, ks[i] AS line
           FROM k, unnest(range(1, len(ks) + 1)) t(i)),
         mk AS (
           SELECT gid, idx, line,
             count(*) OVER (PARTITION BY line) AS cnt,
             row_number() OVER (PARTITION BY line ORDER BY gid, idx) AS rn
           FROM u),
         reb AS (
           SELECT gid, count(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY idx) AS text
           FROM mk WHERE cnt < 4 AND rn = 1 GROUP BY gid),
         ver AS (
           SELECT gid, CAST(len(ls) AS BIGINT) AS n_lines,
             CAST(len(ks) AS BIGINT) AS n_kept_c4,
             (len(ks) >= 3 AND NOT contains(lower(txt), 'lorem ipsum')
               AND NOT contains(txt, '{')) AS c4k
           FROM k)
         SELECT v.gid, coalesce(r.text, '') AS text, v.n_lines,
           v.n_kept_c4, CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           (v.c4k AND coalesce(r.n_kept, 0) > 0) AS page_keep
         FROM ver v LEFT JOIN reb r ON v.gid = r.gid
         ORDER BY v.gid""",
    // benchmark decontamination: distinct word trigrams per doc, benchmark
    // set = grams of every 29th doc; n_contaminated = distinct grams of
    // the doc that appear in the benchmark set (same normative gram
    // definition as Decontam.gramsCol — <3-word docs have NO grams)
    "q_decontam" ->
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '),
             x -> len(x) > 0) AS ws FROM documents),
         g AS (
           SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
             THEN (SELECT list(array_to_string(ws[i:i+2], ' '))
                   FROM unnest(range(1, len(ws)-1)) t(i))
             ELSE [] END) AS gs
           FROM w),
         bench AS (
           SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 29 = 0),
         m AS (SELECT doc_id, unnest(gs) AS gram FROM g),
         cnt AS (
           SELECT m.doc_id, count(*) AS n_contaminated
           FROM m JOIN bench USING (gram) GROUP BY 1)
         SELECT d.doc_id AS doc_id,
           CAST(coalesce(cnt.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           coalesce(cnt.n_contaminated, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
         ORDER BY d.doc_id""",
    // contaminated-span scrub: a word (1-based idx) is removed iff some
    // matching trigram window starts in [idx-2, idx]; rebuild preserves
    // original case and order, matching runs on the lowercased twin
    "q_decontam_scrub" ->
      """WITH w AS (
           SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> len(x) > 0) AS ows,
             list_filter(string_split(lower(text), ' '),
               x -> len(x) > 0) AS ws
           FROM documents),
         g AS (
           SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
             THEN (SELECT list(array_to_string(ws[i:i+2], ' '))
                   FROM unnest(range(1, len(ws)-1)) t(i))
             ELSE [] END) AS gs
           FROM w),
         bench AS (
           SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 29 = 0),
         starts AS (
           SELECT w.doc_id, i AS s
           FROM w, unnest(range(1, len(ws) - 1)) t(i)
           WHERE array_to_string(ws[i:i+2], ' ') IN
             (SELECT gram FROM bench)),
         sl AS (
           SELECT doc_id, list(s) AS ss FROM starts GROUP BY doc_id),
         occ AS (
           SELECT w.doc_id, idx, ows[idx] AS word,
             len(list_filter(coalesce(sl.ss, []),
               s -> s <= idx AND idx < s + 3)) > 0 AS dropped
           FROM w LEFT JOIN sl ON w.doc_id = sl.doc_id,
             unnest(range(1, len(ows) + 1)) t(idx)),
         reb AS (
           SELECT doc_id,
             coalesce(string_agg(CASE WHEN NOT dropped THEN word END,
               ' ' ORDER BY idx), '') AS clean_text,
             sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS n_removed,
             count(*) AS n_words
           FROM occ GROUP BY doc_id)
         SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
           CAST(coalesce(r.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
           coalesce(r.n_removed, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN reb r ON d.doc_id = r.doc_id
         ORDER BY d.doc_id""",
    // NOTE (shared convention with q_clean_text / all clean-based oracles):
    // DuckDB cannot do NFKC or control-char stripping, so the oracle's
    // clean step is whitespace-collapse only — exact-equal because the
    // driver documents fixtures contain no NFKC-active/control chars
    // (verified by scan); a regenerated corpus with such chars would need
    // the oracle revisited
    "q_quality_score" ->
      """WITH c AS (SELECT doc_id,
           trim(regexp_replace(text, '\s+', ' ', 'g')) AS clean FROM documents),
         w AS (SELECT doc_id, clean,
           list_filter(string_split(clean, ' '), x -> len(x) > 0) AS ws FROM c),
         m AS (SELECT doc_id,
                 len(ws) AS n_words,
                 len(list_filter(ws, x -> regexp_matches(x, '\p{L}')))
                   AS alpha_words,
                 len(regexp_replace(clean, '[\p{L}\p{N} ]', '', 'g'))
                   AS n_symbols,
                 CASE WHEN len(ws) >= 2 THEN
                   list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
                 ELSE [] END AS g2
               FROM w)
         SELECT doc_id,
           round(
             greatest(least(least(n_words::DOUBLE / 5.0, 1.0), 1.0), 0.0)
             * greatest(least(CASE WHEN n_words > 0
                 THEN alpha_words::DOUBLE / n_words ELSE 0.0 END, 1.0), 0.0)
             * greatest(least(1.0 - (CASE WHEN n_words > 0
                 THEN n_symbols::DOUBLE / n_words ELSE 0.0 END), 1.0), 0.0)
             * greatest(least(1.0 - (CASE WHEN len(g2) > 0
                 THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2)
                 ELSE 0.0 END), 1.0), 0.0)
           , 4) AS score
         FROM m ORDER BY doc_id""",
    // char-weighted n-gram repetition: identical normative definitions as
    // Quality.repetitionStats (top tie-break = ORDER BY cnt DESC,
    // char-mass DESC; dup frac over total gram chars); integer/long
    // divisions in double are bit-identical across engines, so the
    // threshold booleans match exactly
    "q_gopher_repetition" ->
      (s"""WITH w AS (
           SELECT doc_id, len(text) AS n_chars,
             list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws,
             CASE WHEN len(list_filter(string_split(text, ' '),
                 x -> len(x) > 0)) > 0
               THEN len(list_filter(string_split(text, ' '),
                 x -> list_contains([""" +
        Quality.Stopwords.map(w => s"'$w'").mkString(", ") +
        s"""], lower(x))))::DOUBLE
                 / len(list_filter(string_split(text, ' '), x -> len(x) > 0))
               ELSE 0.0 END AS sw
           FROM documents),
         g AS (
           SELECT doc_id, 2 AS n, array_to_string(ws[i:i+1], ' ') AS gram
           FROM w CROSS JOIN LATERAL
             (SELECT unnest(range(1, len(ws))) AS i) idx
           UNION ALL
           SELECT doc_id, 3 AS n, array_to_string(ws[i:i+2], ' ') AS gram
           FROM w CROSS JOIN LATERAL
             (SELECT unnest(range(1, len(ws)-1)) AS i) idx),
         pg AS (
           SELECT doc_id, n, gram, count(*) AS cnt,
             count(*)*len(gram) AS gchars
           FROM g GROUP BY 1, 2, 3),
         top AS (
           SELECT doc_id, n, gchars AS top_chars FROM (
             SELECT doc_id, n, gchars,
               row_number() OVER (PARTITION BY doc_id, n
                 ORDER BY cnt DESC, gchars DESC) AS rn
             FROM pg) WHERE rn = 1),
         agg AS (
           SELECT doc_id, n,
             sum(CASE WHEN cnt > 1 THEN gchars ELSE 0 END) AS dup_chars,
             sum(gchars) AS tot_chars
           FROM pg GROUP BY 1, 2),
         r AS (
           SELECT w.doc_id,
             coalesce(max(CASE WHEN agg.n=2
               THEN top.top_chars::DOUBLE / w.n_chars END), 0.0)
               AS top2gram_char_frac,
             coalesce(max(CASE WHEN agg.n=2
               THEN agg.dup_chars::DOUBLE / agg.tot_chars END), 0.0)
               AS dup2gram_char_frac,
             coalesce(max(CASE WHEN agg.n=3
               THEN top.top_chars::DOUBLE / w.n_chars END), 0.0)
               AS top3gram_char_frac,
             coalesce(max(CASE WHEN agg.n=3
               THEN agg.dup_chars::DOUBLE / agg.tot_chars END), 0.0)
               AS dup3gram_char_frac,
             max(w.sw) AS stopword_frac
           FROM w LEFT JOIN agg ON w.doc_id = agg.doc_id
                  LEFT JOIN top ON agg.doc_id = top.doc_id AND agg.n = top.n
           GROUP BY 1)
         SELECT doc_id, top2gram_char_frac, dup2gram_char_frac,
           top3gram_char_frac, dup3gram_char_frac, stopword_frac,
           (top2gram_char_frac <= 0.10 AND dup2gram_char_frac <= 0.10
            AND stopword_frac >= 0.02) AS gopher_keep
         FROM r ORDER BY doc_id"""),
    // BM25: tf/df/dl/N exact integers, avgdl = one correctly-rounded
    // division of exact longs, arithmetic parenthesized EXACTLY as the
    // Spark side (contrib = (idf · (tf·(k1+1))) / (tf + k1·((1−b) +
    // (b·dl)/avgdl))); the FLOAT cast absorbs ln-library ULPs and
    // double-sum reassociation. Query terms inlined as distinct
    // lowercased VALUES — the literal twin of searchQueryDf.
    "q_bm25_score" ->
      (SearchOracleCte +
        """SELECT query_id, doc_id, score FROM scored
         ORDER BY query_id, doc_id"""),
    // ingest merge ≡ full rebuild over the reunited corpus, so the twin
    // is the same full-corpus BM25
    "q_bm25_ingest" ->
      (SearchOracleCte +
        """SELECT query_id, doc_id, score FROM scored
         ORDER BY query_id, doc_id"""),
    "q_bm25_topk" ->
      (SearchOracleCte +
        """, ranked AS (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id)::BIGINT AS rank
           FROM scored)
         SELECT query_id, rank, doc_id, score FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank"""),
    "q_tfidf_keywords" ->
      """WITH toks AS (
           SELECT doc_id, t.term
           FROM documents, unnest(list_filter(string_split(lower(text), ' '),
             w -> len(w) > 0)) AS t(term)),
         post AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
         st AS (SELECT count(*)::BIGINT AS n FROM documents),
         dfr AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
         scored AS (
           SELECT doc_id, term,
             (tf * ln((SELECT n FROM st)::DOUBLE / df))::FLOAT AS tfidf
           FROM post JOIN dfr USING (term)),
         ranked AS (
           SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, term)::BIGINT AS rank
           FROM scored)
         SELECT doc_id, rank, term, tfidf FROM ranked
         WHERE rank <= 3 ORDER BY doc_id, rank""",
    // Trainable trigram LM: grams are CODE-POINT substr windows (Spark
    // substring ≡ DuckDB substr); counts and the charset size V exact;
    // add-α arithmetic parenthesized exactly as LmPplExpr
    // ((c3 + 0.1) / (c2 + 0.1·V)); exp(−mean ln p) FLOAT-cast.
    "q_lm_fit" ->
      """WITH tr AS (SELECT doc_id, lower(text) AS t,
             len(lower(text))::BIGINT AS l FROM documents),
         train AS (SELECT t, l FROM tr WHERE doc_id % 10 = 0),
         g AS (SELECT substr(t, i::INTEGER, 3) AS gram
           FROM train, unnest(range(1, greatest(l - 1, 1))) AS u(i))
         SELECT gram, count(*) AS cnt FROM g GROUP BY gram ORDER BY gram""",
    "q_lm_ppl" ->
      """WITH tr AS (SELECT doc_id, lower(text) AS t,
             len(lower(text))::BIGINT AS l FROM documents),
         train AS (SELECT t, l FROM tr WHERE doc_id % 10 = 0),
         c3 AS (SELECT substr(t, i::INTEGER, 3) AS gram, count(*) AS cnt
           FROM train, unnest(range(1, greatest(l - 1, 1))) AS u(i)
           GROUP BY 1),
         c2 AS (SELECT substr(gram, 1, 2) AS ctx, sum(cnt)::BIGINT AS cnt2
           FROM c3 GROUP BY 1),
         v AS (SELECT count(DISTINCT substr(t, i::INTEGER, 1))::BIGINT AS v
           FROM train, unnest(range(1, l + 1)) AS u(i)),
         g AS (SELECT doc_id, substr(t, i::INTEGER, 3) AS gram
           FROM tr, unnest(range(1, greatest(l - 1, 1))) AS u(i)),
         sc AS (SELECT g.doc_id,
             ln((coalesce(c3.cnt, 0) + 0.1) /
                (coalesce(c2.cnt2, 0) + 0.1 * (SELECT v FROM v))) AS lp
           FROM g LEFT JOIN c3 USING (gram)
                  LEFT JOIN c2 ON substr(g.gram, 1, 2) = c2.ctx)
         SELECT d.doc_id, count(sc.lp)::BIGINT AS n_grams,
           CASE WHEN count(sc.lp) > 0
             THEN exp(-(sum(sc.lp) / count(sc.lp)))::FLOAT END AS ppl
         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
         GROUP BY d.doc_id ORDER BY d.doc_id""",
    // DSIR: word 1+2-gram counts exact; add-α log-ratio arithmetic
    // parenthesized exactly as Dsir.fit ((c + 0.1) / (tot + 0.1·V));
    // Gumbel key inverts the Knuth docRank uniform (pure integer
    // arithmetic, bit-exact — the q_corpus_mix precedent); FLOAT casts
    // absorb ln-ULP + sum-order noise.
    "q_dsir_weights" ->
      (DsirOracleCte +
        """SELECT d.doc_id, count(sc.r)::BIGINT AS n_feats,
           coalesce(sum(sc.r), 0.0)::FLOAT AS logw
         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
         GROUP BY 1 ORDER BY 1"""),
    "q_dsir_select" ->
      (DsirOracleCte +
        """, w AS (SELECT d.doc_id, coalesce(sum(sc.r), 0.0) AS logw
           FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
           GROUP BY 1),
         keyed AS (SELECT doc_id,
             (logw - ln(-ln((((((doc_id % 4294967296) // 65536) * 2041643008
               + ((doc_id % 4294967296) % 65536) * 2654435761) % 4294967296) + 0.5)
               / 4294967296.0)))::FLOAT AS key
           FROM w),
         topk AS (SELECT doc_id, key,
             row_number() OVER (ORDER BY key DESC, doc_id)::BIGINT AS rn
           FROM keyed)
         SELECT doc_id, key FROM topk WHERE rn <= 100 ORDER BY doc_id"""),
    "q_html_extract" ->
      """WITH h AS (SELECT doc_id,
           '<html><head><title>Doc ' || doc_id ||
           '</title><style>p{color:red}</style>' ||
           '<script>if(a<b){x("</p>")}</script></head>' ||
           '<body><!-- c --><h1>Doc ' || doc_id ||
           '</h1><p>' || text ||
           ' &amp; tail</p><div>fin&nbsp;2</div></body></html>' AS t
           FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(t,
           '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
         s2 AS (SELECT doc_id, regexp_replace(t,
           '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
         s3 AS (SELECT doc_id, regexp_replace(t,
           '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
         s4 AS (SELECT doc_id, regexp_replace(t,
           '(?i)</?(p|div|li|tr|h[1-6]|br)[^>]*>', chr(10), 'g') AS t
           FROM s3),
         s5 AS (SELECT doc_id, regexp_replace(t,
           '(?s)<[^>]*>', ' ', 'g') AS t FROM s4),
         s6 AS (SELECT doc_id,
           replace(replace(replace(replace(replace(replace(t,
             '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
             '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t FROM s5),
         s7 AS (SELECT doc_id, regexp_replace(t,
           '[ \t\r]+', ' ', 'g') AS t FROM s6)
         SELECT doc_id, array_to_string(
           list_filter(list_transform(string_split(t, chr(10)),
             l -> trim(l)), l -> len(l) > 0), chr(10)) AS clean
         FROM s7 ORDER BY doc_id""",
    "q_leak_report" ->
      """WITH w AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
             x -> len(x) > 0) AS ws FROM documents),
         g AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
           FROM (SELECT doc_id, ws,
               unnest(range(1, greatest(len(ws) - 1, 1))) AS i FROM w)),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 29 = 0),
         m AS (SELECT g.doc_id, g.gram FROM g JOIN bench USING (gram))
         SELECT gram, count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occurrences
         FROM m GROUP BY gram ORDER BY n_docs DESC, gram ASC""",
    // Split cuts computed with the SAME double ops as Mix.split's
    // scanLeft (0.8, then 0.8 + 0.1) so the floor(·2^32) thresholds are
    // bit-identical; the rank is the Knuth integer hash.
    "q_corpus_split" ->
      """WITH r AS (SELECT doc_id,
           (((doc_id % 4294967296) // 65536) * 2041643008
               + ((doc_id % 4294967296) % 65536) * 2654435761) % 4294967296 AS rank FROM documents)
         SELECT doc_id,
           CASE WHEN rank < floor(0.8 * 4294967296.0)::BIGINT THEN 'train'
                WHEN rank < floor((0.8 + 0.1) * 4294967296.0)::BIGINT
                  THEN 'val'
                ELSE 'test' END AS split
         FROM r ORDER BY doc_id""",
    // Embedding decontam: same planted construction + DOUBLE[] cosine
    // twin as q_cosine_neardup; max over doubles is order-independent so
    // the whole row is bit-exact.
    "q_decontam_cos" ->
      """WITH bench AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id % 20 = 0),
         corpus0 AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id % 20 <> 0),
         planted AS (SELECT vec_id + 1000000 AS vec_id,
             list_transform(range(1, 65),
               i -> (embedding[i] + sin((vec_id+1000000)*i)*0.005)::FLOAT)
               AS embedding
           FROM bench),
         corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM corpus0
                    UNION ALL
                    SELECT vec_id, embedding::DOUBLE[] FROM planted),
         b AS (SELECT embedding::DOUBLE[] AS bv FROM bench)
         SELECT c.vec_id,
           max(list_cosine_similarity(c.v, b.bv)) AS max_cos,
           max(list_cosine_similarity(c.v, b.bv)) >= 0.8 AS contaminated
         FROM corpus c, b GROUP BY c.vec_id ORDER BY vec_id""",
    // Hybrid RRF: BM25 arithmetic as q_bm25_score (self-excluded AFTER
    // df); cosine via list_cosine_similarity over DOUBLE[] (bit-identical
    // to the Spark fold); RRF = 1/(60+rank) integer-rank arithmetic.
    "q_hybrid_rrf" ->
      """WITH base AS (SELECT d.doc_id, lower(d.text) AS t,
             e.embedding::DOUBLE[] AS emb
           FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
         toks AS (SELECT doc_id, tt.term FROM base,
           unnest(list_filter(string_split(t, ' '), w -> len(w) > 0))
             AS tt(term)),
         post AS (SELECT term, doc_id, count(*) AS tf FROM toks
           GROUP BY 1, 2),
         dl AS (SELECT doc_id, len(list_filter(string_split(t, ' '),
             w -> len(w) > 0))::BIGINT AS dl FROM base),
         st AS (SELECT count(*)::BIGINT AS n,
           sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
         q AS (SELECT doc_id AS query_id,
             unnest(list_distinct(list_filter(string_split(t, ' '),
               w -> len(w) > 0))) AS term
           FROM base WHERE doc_id < 5),
         m AS (SELECT q.query_id, q.term, p.doc_id, p.tf, dl.dl
           FROM q JOIN post p USING (term) JOIN dl USING (doc_id)),
         dfr AS (SELECT term, count(DISTINCT doc_id) AS df FROM m
           GROUP BY 1),
         bs AS (SELECT query_id, doc_id,
             sum(ln(1 + ((SELECT n FROM st) - dfr.df + 0.5) / (dfr.df + 0.5))
               * (m.tf * (1.2 + 1.0))
               / (m.tf + 1.2 * ((1 - 0.75)
                   + 0.75 * m.dl / (SELECT avgdl FROM st))))::FLOAT AS score
           FROM m JOIN dfr USING (term)
           WHERE m.doc_id <> m.query_id GROUP BY 1, 2),
         br AS (SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id)::BIGINT AS rank
           FROM bs),
         cs AS (SELECT qv.doc_id AS query_id, cv.doc_id,
             list_cosine_similarity(qv.emb, cv.emb) AS cos
           FROM base qv JOIN base cv
             ON qv.doc_id < 5 AND cv.doc_id <> qv.doc_id),
         cr AS (SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, doc_id)::BIGINT AS rank
           FROM cs),
         u AS (SELECT query_id, doc_id, rank FROM br WHERE rank <= 20
               UNION ALL
               SELECT query_id, doc_id, rank FROM cr WHERE rank <= 20),
         fs AS (SELECT query_id, doc_id,
             sum(1.0 / (60.0 + rank))::FLOAT AS rrf FROM u GROUP BY 1, 2),
         ranked AS (SELECT query_id, doc_id, rrf,
             row_number() OVER (PARTITION BY query_id
               ORDER BY rrf DESC, doc_id)::BIGINT AS rank
           FROM fs)
         SELECT query_id, rank, doc_id, rrf FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank"""
  )

  /** Shared CTE prefix of the DSIR oracles (tokenize → word 1+2-gram
    * features → ref/raw counts → joined vocab → per-feature log-ratio →
    * per-doc-occurrence scores).
    */
  private val DsirOracleCte =
    """WITH d AS (SELECT doc_id,
         list_filter(string_split(lower(text), ' '), w -> len(w) > 0) AS ws
       FROM documents),
       f1 AS (SELECT doc_id, unnest(ws) AS f FROM d),
       f2 AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS f
         FROM (SELECT doc_id, ws,
             unnest(range(1, greatest(len(ws), 1))) AS i FROM d)),
       feats AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2),
       cwt AS (SELECT f, count(*)::BIGINT AS cw FROM feats GROUP BY 1),
       crt AS (SELECT f, count(*)::BIGINT AS cr FROM feats
         WHERE doc_id % 10 = 0 GROUP BY 1),
       j AS (SELECT cwt.f, coalesce(crt.cr, 0)::BIGINT AS cr, cwt.cw
         FROM cwt LEFT JOIN crt USING (f)),
       tot AS (SELECT sum(cr)::BIGINT AS tr, sum(cw)::BIGINT AS tw,
         count(*)::BIGINT AS v FROM j),
       lr AS (SELECT f,
           ln((cr + 0.1) / ((SELECT tr FROM tot) + 0.1 * (SELECT v FROM tot)))
         - ln((cw + 0.1) / ((SELECT tw FROM tot) + 0.1 * (SELECT v FROM tot)))
           AS r
         FROM j),
       sc AS (SELECT feats.doc_id, lr.r FROM feats JOIN lr USING (f))
    """

  /** Shared CTE prefix of the BM25 oracles (tokenize → postings → doc
    * lengths → corpus stats → query terms → matched postings → df →
    * scores).
    */
  private val SearchOracleCte =
    """WITH toks AS (
         SELECT doc_id, t.term
         FROM documents, unnest(list_filter(string_split(lower(text), ' '),
           w -> len(w) > 0)) AS t(term)),
       post AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
       dl AS (SELECT doc_id,
           len(list_filter(string_split(lower(text), ' '),
             w -> len(w) > 0))::BIGINT AS dl
         FROM documents),
       st AS (SELECT count(*)::BIGINT AS n,
           sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
       q AS (SELECT query_id::BIGINT AS query_id, term FROM (VALUES
           (0, 'spark'), (0, 'window'), (0, 'query'),
           (1, 'dup'),
           (2, 'hash'), (2, 'join'), (2, 'fast'), (2, 'merge'),
           (3, 'zebra'), (3, 'dup'),
           (4, 'the'), (4, 'a')) AS v(query_id, term)),
       m AS (SELECT q.query_id, q.term, p.doc_id, p.tf, dl.dl
         FROM q JOIN post p USING (term) JOIN dl USING (doc_id)),
       dfr AS (SELECT term, count(DISTINCT doc_id) AS df FROM m GROUP BY 1),
       scored AS (
         SELECT query_id, doc_id,
           sum(ln(1 + ((SELECT n FROM st) - dfr.df + 0.5) / (dfr.df + 0.5))
             * (m.tf * (1.2 + 1.0))
             / (m.tf + 1.2 * ((1 - 0.75)
                 + 0.75 * m.dl / (SELECT avgdl FROM st))))::FLOAT AS score
         FROM m JOIN dfr USING (term) GROUP BY 1, 2)
    """
}
