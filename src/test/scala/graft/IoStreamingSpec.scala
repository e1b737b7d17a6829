package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite
import vigil.{Decide, Review, SaltedDecide, Synth}
import vigil.io.{Sinks, Sources}
import vigil.streaming.StreamPipeline

/** Sources (S2-S5), sinks (S6-S10) and the Structured Streaming path. */
class IoStreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private val cfg = Decide.Default.copy(targetLang = "pt")

  /** Horizons longer than any fixture's event-time span: no turn falls
    * below the watermark and no conversation is evicted, so the last update
    * per conversation decides all of its turns. */
  private val LongWatermark = "36500 days"
  private val LongIdleGapMs = 36500L * 24 * 3600 * 1000

  /** A memory-sink scoring stream of `turns` under `queryName`. */
  private def startMemoryScoring(turns: DataFrame, queryName: String): StreamingQuery =
    Decide.scoreTurns(turns, cfg)
      .select("conv_id", "turn_idx", "contem_pii", "scrubbed_text", "lang",
        "quality_pass", "toxic", "keep_turn")
      .writeStream.format("memory").queryName(queryName)
      .outputMode(OutputMode.Append).start()

  /** The last update per conversation of a [[StreamPipeline.convDecisionsStream]]
    * output: n_turns only grows while a conversation's state lives. */
  private def lastDecisions(updates: DataFrame): DataFrame =
    updates.groupBy("conv_id")
      .agg(max(struct(col("n_turns"), col("majority_lang"),
        col("pii_density"), col("drop_conversation"))).as("l"))
      .select(col("conv_id"), col("l.n_turns"), col("l.majority_lang"),
        col("l.pii_density"), col("l.drop_conversation"))

  /** Minimal real xlsx (zip of XML) — what openpyxl/Excel emit, reduced to
    * the entries the reader touches plus a content-types decoy it must
    * skip.
    */
  private def writeXlsx(path: String, shared: Seq[String],
      sheetXml: String): Unit = {
    val zout = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(path))
    def entry(name: String, body: String): Unit = {
      zout.putNextEntry(new java.util.zip.ZipEntry(name))
      zout.write(body.getBytes("UTF-8"))
      zout.closeEntry()
    }
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="x"/>""")
    if (shared.nonEmpty)
      entry("xl/sharedStrings.xml",
        s"""<?xml version="1.0"?><sst count="${shared.size}">""" +
          shared.map(s => s"<si><t>$s</t></si>").mkString + "</sst>")
    entry("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet><sheetData>$sheetXml</sheetData></worksheet>""")
    zout.close()
  }

  test("xlsx source: shared/inline/number/bool cells, missing cells, glob") {
    assert(vigil.io.Xlsx.colIndex("A1") == 0)
    assert(vigil.io.Xlsx.colIndex("Z9") == 25)
    assert(vigil.io.Xlsx.colIndex("AA3") == 26)
    assert(vigil.io.Xlsx.colIndex("BC12") == 54)

    val dir = Files.createTempDirectory("vigil_xlsx").toString
    // shared strings for header + one value; B2 inline, C2 number, D2
    // bool, E2 MISSING (padded null), one rich-text shared string
    writeXlsx(s"$dir/a.xlsx",
      Seq("ID", "Texto", "Num", "Flag", "Extra", "solicito dados"),
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>""" +
        """<c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>3</v></c>""" +
        """<c r="E1" t="s"><v>4</v></c></row>""" +
        """<row r="2"><c r="A2"><v>7</v></c>""" +
        """<c r="B2" t="inlineStr"><is><t>texto inline</t></is></c>""" +
        """<c r="C2"><v>3.25</v></c><c r="D2" t="b"><v>1</v></c></row>""" +
        """<row r="3"><c r="A3"><v>8</v></c><c r="B3" t="s"><v>5</v></c>""" +
        """<c r="C3"><v>42</v></c><c r="D3" t="b"><v>0</v></c>""" +
        """<c r="E3" t="str"><v>form</v></c></row>""")
    val df = Sources.xlsx(spark, s"$dir/a.xlsx", "Texto")
    assert(df.columns.toSeq == Seq("ID", "Texto", "Num", "Flag", "Extra"))
    val rows = df.orderBy("ID").collect()
    assert(rows.length == 2)
    assert(rows(0).toSeq == Seq("7", "texto inline", "3.25", "true", null))
    assert(rows(1).toSeq == Seq("8", "solicito dados", "42", "false", "form"))

    // second file, same header: glob unions in parallel (one task each)
    writeXlsx(s"$dir/b.xlsx", Seq("ID", "Texto", "Num", "Flag", "Extra"),
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>""" +
        """<c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>3</v></c>""" +
        """<c r="E1" t="s"><v>4</v></c></row>""" +
        """<row r="2"><c r="A2"><v>9</v></c>""" +
        """<c r="B2" t="inlineStr"><is><t>outro</t></is></c></row>""")
    assert(Sources.xlsx(spark, s"$dir/*.xlsx", "Texto").count() == 3)

    intercept[IllegalArgumentException] {
      Sources.xlsx(spark, s"$dir/a.xlsx", "Missing")
    }
    intercept[IllegalArgumentException] {
      Sources.xlsx(spark, s"$dir/nope.xlsx", "Texto")
    }

    // the streaming header-only parse must produce exactly parse()'s header
    val hPath = new org.apache.hadoop.fs.Path(s"$dir/a.xlsx")
    val hfs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val streamed = vigil.io.Xlsx.parseHeader(() => hfs.open(hPath))
    val full = {
      val in = new java.io.FileInputStream(s"$dir/a.xlsx")
      try vigil.io.Xlsx.parse(in)._1 finally in.close()
    }
    assert(streamed == full && streamed == Vector("ID", "Texto", "Num", "Flag", "Extra"))

    // a glob file with a REORDERED header must fail loudly, not bind rows
    // positionally to the wrong columns
    val dir2 = Files.createTempDirectory("vigil_xlsx_mismatch").toString
    writeXlsx(s"$dir2/a.xlsx", Seq("ID", "Texto"),
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>""" +
        """<row r="2"><c r="A2"><v>1</v></c>""" +
        """<c r="B2" t="inlineStr"><is><t>ok</t></is></c></row>""")
    writeXlsx(s"$dir2/b.xlsx", Seq("Texto", "ID"),
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>""" +
        """<row r="2"><c r="A2" t="inlineStr"><is><t>swapped</t></is></c>""" +
        """<c r="B2"><v>2</v></c></row>""")
    val ex = intercept[Exception] {
      Sources.xlsx(spark, s"$dir2/*.xlsx", "Texto").count()
    }
    val messages = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(messages.contains("header mismatch"),
      s"expected a header-mismatch failure, got: $messages")
  }

  test("xlsx edge cases: ref-less header cells, dir-only glob, null header") {
    def is(s: String) = s"""t="inlineStr"><is><t>$s</t></is>"""
    // header mixing explicit refs (out of order, skipping columns) with
    // ref-less cells: the ref-less fallback must resolve to the PADDED
    // width (parseSheet's row.length), not the raw cell count — else the
    // driver-side header disagrees with the executor-side parse of the
    // very same row and the source rejects its own first file
    val dir = Files.createTempDirectory("vigil_xlsx_refless").toString
    writeXlsx(s"$dir/mix.xlsx", Seq.empty,
      s"""<row r="1"><c ${is("a")}</c><c r="C1" ${is("c")}</c>""" +
        s"""<c ${is("d")}</c><c r="B1" ${is("b")}</c></row>""" +
        """<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c>""" +
        """<c r="C2"><v>3</v></c><c r="D2"><v>4</v></c></row>""")
    val df = Sources.xlsx(spark, s"$dir/mix.xlsx", "a")
    assert(df.columns.toSeq == Seq("a", "b", "c", "d"))
    assert(df.collect().head.toSeq == Seq("1", "2", "3", "4"))

    // a glob that matches ONLY directories → the friendly not-found error,
    // not minBy's UnsupportedOperationException
    val dir2 = Files.createTempDirectory("vigil_xlsx_dirglob").toString
    Files.createDirectory(java.nio.file.Paths.get(s"$dir2/sub.xlsx"))
    val ex = intercept[IllegalArgumentException] {
      Sources.xlsx(spark, s"$dir2/*.xlsx", "Texto")
    }
    assert(ex.getMessage.contains("Arquivo não encontrado"))

    // a header cell resolving to null (column B skipped in row 1) must
    // fail with the friendly header error, not a null StructField name
    val dir3 = Files.createTempDirectory("vigil_xlsx_nullhdr").toString
    writeXlsx(s"$dir3/gap.xlsx", Seq.empty,
      s"""<row r="1"><c r="A1" ${is("ID")}</c><c r="C1" ${is("Texto")}</c></row>""" +
        """<row r="2"><c r="A2"><v>1</v></c><c r="C2"><v>x</v></c></row>""")
    val ex2 = intercept[IllegalArgumentException] {
      Sources.xlsx(spark, s"$dir3/gap.xlsx", "Texto")
    }
    assert(ex2.getMessage.contains("cabeçalho"))
  }

  test("csv source + encoding fallback + text-column validation") {
    val dir = Files.createTempDirectory("vigil_src").toString
    // a latin-1 file: 'coração' encoded ISO-8859-1 is invalid UTF-8
    val latin = s"$dir/latin.csv"
    val w = new java.io.FileOutputStream(latin)
    w.write("ID,Texto\n1,coração\n".getBytes("ISO-8859-1"))
    w.close()
    val df = Sources.csv(spark, latin, "Texto")
    assert(df.select("Texto").collect().head.getString(0) == "coração")
    val utf = s"$dir/utf.csv"
    Files.writeString(java.nio.file.Paths.get(utf), "ID,Texto\n1,ação\n")
    assert(Sources.csv(spark, utf, "Texto")
      .select("Texto").collect().head.getString(0) == "ação")
    intercept[IllegalArgumentException] {
      Sources.csv(spark, utf, "Missing")
    }
  }

  test("json source: lines, array, and keyed-object shapes") {
    val dir = Files.createTempDirectory("vigil_json").toString
    def p(s: String) = java.nio.file.Paths.get(s)
    Files.writeString(p(s"$dir/lines.json"),
      """{"ID": 1, "Texto": "a"}""" + "\n" + """{"ID": 2, "Texto": "b"}""" + "\n")
    assert(Sources.json(spark, s"$dir/lines.json", "Texto").count() == 2)
    Files.writeString(p(s"$dir/array.json"),
      """[{"ID": 1, "Texto": "a"}, {"ID": 2, "Texto": "b"}]""")
    assert(Sources.json(spark, s"$dir/array.json", "Texto").count() == 2)
    Files.writeString(p(s"$dir/keyed.json"),
      """{"registros": [{"ID": 1, "Texto": "a"}], "outro": 1}""")
    assert(Sources.json(spark, s"$dir/keyed.json", "Texto").count() == 1)
    Files.writeString(p(s"$dir/bad.json"), """{"unknown_key": []}""")
    intercept[IllegalArgumentException] {
      Sources.json(spark, s"$dir/bad.json", "Texto")
    }
  }

  test("result sinks: csv columns + nested json document with stats") {
    val scored = SaltedDecide.decide(Synth.corpusDF(spark, 40), cfg)
    val dir = Files.createTempDirectory("vigil_sink").toString
    Sinks.resultsCsv(scored, s"$dir/csv")
    val back = spark.read.option("header", "true").csv(s"$dir/csv")
    assert(back.columns.contains("contem_pii") &&
      back.columns.contains("tipos_detectados") &&
      back.columns.contains("confianca"))
    assert(back.count() == scored.count())

    Sinks.resultsJson(spark, scored, s"$dir/json", "synth",
      timestamp = "2026-01-01T00:00:00")
    val res = spark.read.json(s"$dir/json/resultados")
    assert(res.count() == scored.count())
    val meta = spark.read.option("multiLine", "true")
      .json(s"$dir/json/metadata.json")
    val m = meta.select("metadata.total_registros", "metadata.total_com_pii")
      .collect()(0)
    assert(m.getLong(0) == scored.count())
    assert(m.getLong(1) ==
      scored.filter(col("contem_pii")).count())
    // reference metadata contract (main.py:246-256): timestamp + configuracao
    val m2 = meta.select("metadata.timestamp",
      "metadata.configuracao.ner_habilitado").collect()(0)
    assert(m2.getString(0) == "2026-01-01T00:00:00")
    assert(!m2.getBoolean(1), "NER is contractually disabled")
    val pct = meta.select("estatisticas.percentual_com_pii")
      .collect()(0).getDouble(0)
    assert(pct == math.rint(pct * 10) / 10, "percentual rounded to 1 decimal")
  }

  test("review sinks: header contract, %.2f, priority sort, empty short-circuit") {
    val scored = Decide.scoreTurns(Synth.corpusDF(spark, 80), cfg)
    val review = Review.reviewTable(scored)
    assert(review.count() > 0)
    val dir = Files.createTempDirectory("vigil_rev").toString
    assert(Sinks.reviewCsv(review, s"$dir/csv"))
    val back = spark.read.option("header", "true").csv(s"$dir/csv")
    assert(back.columns.toSeq == Seq("ID", "Prioridade", "Tipo PII",
      "Valor Detectado", "Score", "Motivo", "Texto (Trecho)", "Explicacao"))
    assert(back.filter(!col("Score").rlike("^\\d+\\.\\d{2}$")).count() == 0,
      "scores must be %.2f formatted")
    // S10: empty review → no directory created
    val none = review.filter(lit(false))
    assert(!Sinks.reviewCsv(none, s"$dir/empty"))
    assert(!new java.io.File(s"$dir/empty").exists())
  }

  test("streaming: stateless scoring matches batch; stateful conv decisions") {
    val dir = Files.createTempDirectory("vigil_stream").toString
    val corpus = Synth.corpusDF(spark, 30)
    corpus.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema(corpus.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = startMemoryScoring(stream, "scored_stream")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("scored_stream")
    val batch = Decide.scoreTurns(corpus, cfg)
      .select("conv_id", "turn_idx", "contem_pii", "scrubbed_text", "lang",
        "quality_pass", "toxic", "keep_turn")
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streaming scoring must be row-identical to the batch path")

    // stateful conversation decisions over the same stream
    val q2 = StreamPipeline
      .convDecisionsStream(Decide.scoreTurns(stream, cfg), cfg,
        LongWatermark, LongIdleGapMs)
      .writeStream.format("memory").queryName("conv_stream")
      .outputMode(OutputMode.Update).start()
    q2.processAllAvailable()
    q2.stop()
    val convStream = lastDecisions(spark.table("conv_stream"))
    val convBatch = SaltedDecide.convDecisions(Decide.scoreTurns(corpus, cfg), cfg)
      .select("conv_id", "n_turns", "majority_lang", "pii_density",
        "drop_conversation")
    assert(convStream.count() == convBatch.count())
    assert(convStream.except(convBatch).isEmpty &&
      convBatch.except(convStream).isEmpty,
      "final streamed conversation decisions must equal the batch decisions")
  }

  test("streaming windowed agg: watermark closes windows once and drops late rows") {
    val srcDir = Files.createTempDirectory("vigil_wm_src").toString
    def turn(ts: String, text: String) =
      vigil.Turn("c1", 0, "user", text, "", java.sql.Timestamp.valueOf(ts))
    def write(rows: Seq[vigil.Turn]): Unit = {
      import spark.implicits._
      rows.toDF().coalesce(1).write.mode("append").parquet(srcDir)
    }
    val pii = "Meu CPF é 123.456.789-00"
    val ok = "gostaria de saber os prazos do processo"
    val batchA = Seq(
      turn("2026-01-01 10:00:30", pii), turn("2026-01-01 10:01:00", ok),
      turn("2026-01-01 10:06:00", ok), turn("2026-01-01 10:18:00", pii))
    val batchB = Seq(turn("2026-01-01 11:30:00", ok))
    // late: 10:30 is far behind the watermark once 11:30 has been seen
    val batchC = Seq(turn("2026-01-01 12:30:00", ok),
      turn("2026-01-01 10:30:00", pii))
    val batchD = Seq(turn("2026-01-01 13:30:00", ok))
    write(batchA)

    val schema = { import spark.implicits._; batchA.toDF().schema }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = StreamPipeline
      .piiRateWindows(Decide.scoreTurns(stream, cfg))
      .writeStream.format("memory").queryName("wm_windows")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    Seq(batchB, batchC, batchD).foreach { b =>
      write(b); q.processAllAvailable()
    }
    q.stop()

    val got = spark.table("wm_windows")
      .select(col("w_start").cast("long"), col("n_turns"), col("pii_rate"),
        col("n_toxic"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    // expected: all windows closed by the final watermark (13:30 - 10min =
    // 13:20, applied in the trailing no-data micro-batch the engine runs
    // after a watermark advance): A's and B's windows plus C's on-time
    // 12:30 window; D's 13:30 window stays open. The late 10:30 row must
    // NOT appear anywhere.
    import spark.implicits._
    val onTime = (batchA ++ batchB ++ batchC.take(1)).toDF()
    val expected = StreamPipeline
      .piiRateWindows(vigil.Decide.scoreTurns(onTime, cfg))
      .select(col("w_start").cast("long"), col("n_turns"), col("pii_rate"),
        col("n_toxic"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(got == expected,
      s"windowed agg mismatch:\n got=$got\n exp=$expected")
    val lateWindowStart =
      java.sql.Timestamp.valueOf("2026-01-01 10:30:00").getTime / 1000
    assert(!got.exists(_._1 == lateWindowStart),
      "the late row's window must have been dropped by the watermark")
  }

  test("streaming restart: mapGroupsWithState state survives checkpoint recovery") {
    val srcDir = Files.createTempDirectory("vigil_ckpt_src").toString
    val outDir = Files.createTempDirectory("vigil_ckpt_out").toString
    val ckptDir = Files.createTempDirectory("vigil_ckpt").toString
    val corpus = Synth.corpusDF(spark, 25)
    // half 1 arrives before the first run; half 2 after the "crash"
    corpus.filter(col("turn_idx") < 2).write.mode("overwrite").parquet(srcDir)

    def startQuery() = StreamPipeline
      .convDecisionsStream(
        Decide.scoreTurns(
          spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", "2").parquet(srcDir), cfg), cfg,
        LongWatermark, LongIdleGapMs)
      .writeStream
      // foreachBatch parquet-append: a fault-tolerant sink (memory sink
      // cannot recover), so the query restarts from the checkpoint
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").parquet(outDir); ()
      }
      .option("checkpointLocation", ckptDir)
      .outputMode(OutputMode.Update).start()

    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // "crash" after half 1 is committed

    corpus.filter(col("turn_idx") >= 2).write.mode("append").parquet(srcDir)
    val q2 = startQuery() // restart from the same checkpoint
    q2.processAllAvailable()
    q2.stop()

    // last update per conversation must reflect ALL turns — if state were
    // lost on restart, n_turns for continued conversations would count
    // only the post-restart half
    val last = lastDecisions(spark.read.parquet(outDir))
    val batch = SaltedDecide.convDecisions(Decide.scoreTurns(corpus, cfg), cfg)
      .select("conv_id", "n_turns", "majority_lang", "pii_density",
        "drop_conversation")
    assert(last.count() == batch.count())
    assert(last.except(batch).isEmpty && batch.except(last).isEmpty,
      "post-restart conversation decisions must equal the batch decisions")
  }

  test("streaming eviction: idle conversation state is dropped and re-keyed fresh") {
    val srcDir = Files.createTempDirectory("vigil_evict_src").toString
    def turn(ts: String, text: String) =
      vigil.Turn("a", 0, "user", text, "", java.sql.Timestamp.valueOf(ts))
    def write(rows: Seq[vigil.Turn]): Unit = {
      import spark.implicits._
      rows.toDF().coalesce(1).write.mode("append").parquet(srcDir)
    }
    val ok = "gostaria de saber os prazos do processo"
    // A: conversation 'a' gets 2 turns at ~10:00
    write(Seq(turn("2026-01-01 10:00:00", ok), turn("2026-01-01 10:01:00", ok)))

    val schema = { import spark.implicits._; Seq(turn("2026-01-01 10:00:00", ok)).toDF().schema }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = StreamPipeline
      .convDecisionsStream(Decide.scoreTurns(stream, cfg), cfg,
        watermarkDelay = "10 minutes", idleGapMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("evict_stream")
      .outputMode(OutputMode.Update).start()
    q.processAllAvailable()
    // B: unrelated conversation far in the future advances the watermark to
    // 11:50 — past 'a''s idle horizon (10:01 + 30min), so 'a' is finalized
    // and evicted in the trailing no-data micro-batch
    write(Seq(turn("2026-01-01 12:00:00", ok).copy(conv_id = "b")))
    q.processAllAvailable()
    // C: a new turn for 'a' ABOVE the watermark must re-key with FRESH
    // state (n_turns restarts at 1, not 3)
    write(Seq(turn("2026-01-01 11:55:00", ok)))
    q.processAllAvailable()
    q.stop()

    val aCounts = spark.table("evict_stream")
      .filter(col("conv_id") === "a")
      .select("n_turns").collect().map(_.getLong(0)).toSeq.sorted
    assert(aCounts.contains(1L),
      s"re-keyed arrival must restart from fresh state, got updates $aCounts")
    assert(!aCounts.contains(3L),
      s"evicted state must not be folded into the late re-key, got $aCounts")
    assert(aCounts.count(_ == 2L) >= 2,
      s"the timeout must re-emit the final decision on eviction, got $aCounts")
  }

  test("streaming dedup: replayed keys within the watermark emit once") {
    val srcDir = Files.createTempDirectory("vigil_sdedup_src").toString
    def turn(id: Int, ts: String) =
      vigil.Turn("c", id, "user", s"texto $id", "",
        java.sql.Timestamp.valueOf(ts))
    def write(rows: Seq[vigil.Turn]): Unit = {
      import spark.implicits._
      rows.toDF().coalesce(1).write.mode("append").parquet(srcDir)
    }
    write(Seq(turn(1, "2026-01-01 10:00:00"), turn(2, "2026-01-01 10:00:30")))

    val schema = { import spark.implicits._
      Seq(turn(1, "2026-01-01 10:00:00")).toDF().schema }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = StreamPipeline
      .dedupStream(stream, Seq("conv_id", "turn_idx"),
        watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sdedup_stream")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    // an at-least-once producer replays turn 1 (same key) in a later
    // micro-batch, within the watermark horizon → suppressed; turn 3 is new
    write(Seq(turn(1, "2026-01-01 10:00:00"), turn(3, "2026-01-01 10:01:00")))
    q.processAllAvailable()
    write(Seq(turn(2, "2026-01-01 10:00:30"))) // second replay, still inside
    q.processAllAvailable()
    q.stop()

    val ids = spark.table("sdedup_stream")
      .select("turn_idx").collect().map(_.getInt(0)).toSeq.sorted
    assert(ids == Seq(1, 2, 3),
      s"each key must be emitted exactly once within the horizon, got $ids")
  }

  // planted J ∈ [0.9, 1): B replaces 2 of A's 40 distinct words →
  // token-set J = 38/42 ≈ 0.905 — above the batch drop threshold 0.9
  // but NOT signature-equal, the exact r4-verdict gap band
  private val aWords = (1 to 40).map(i => s"word$i")
  private val bWords = aWords.dropRight(2) ++ Seq("fresh", "tokens")
  private def gapTurn(id: Int, ts: String, text: String) =
    vigil.Turn("c", id, "user", text, "", java.sql.Timestamp.valueOf(ts))
  /** Two micro-batches: A and an unrelated doc, then B and another. */
  private val gapBatches = Seq(
    Seq(gapTurn(1, "2026-01-01 10:00:00", aWords.mkString(" ")),
      gapTurn(2, "2026-01-01 10:00:10", "totally different other content")),
    Seq(gapTurn(3, "2026-01-01 10:01:00", bWords.mkString(" ")),
      gapTurn(4, "2026-01-01 10:01:10", "yet more unrelated material here")))

  /** Streams `batches` through the query `mk` starts, one file and one
    * micro-batch each. */
  private def runStream(mk: DataFrame => StreamingQuery,
      batches: Seq[Seq[vigil.Turn]]): Unit = {
    val srcDir = Files.createTempDirectory("vigil_gap_src").toString
    def write(rows: Seq[vigil.Turn]): Unit =
      rows.toDF().coalesce(1).write.mode("append").parquet(srcDir)
    write(batches.head)
    val schema = batches.head.toDF().schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = mk(stream)
    q.processAllAvailable()
    batches.tail.foreach { b => write(b); q.processAllAvailable() }
    q.stop()
  }

  /** The ids the exact near-dup face emits over the gap batches, the
    * second one replayed, with its stored tables under `base`. */
  private def neardupExactKept(base: String): Seq[Int] = {
    val buf = scala.collection.mutable.ArrayBuffer[Int]()
    runStream(s => StreamPipeline
      .neardupStreamExact(s, "text", "turn_idx", base)(
        (kept, _) => buf.synchronized {
          buf ++= kept.select("turn_idx").collect().map(_.getInt(0))
        }).start(), gapBatches :+ gapBatches.last)
    buf.sorted.toSeq
  }

  test("streaming near-dup gap quantified: J∈[0.9,1) survives sig-equality but not the exact face") {
    val jAB = {
      val (sa, sb) = (aWords.toSet, bWords.toSet)
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    assert(jAB >= 0.9 && jAB < 1.0, s"planted J must be in [0.9,1): $jAB")
    // the gap is real: the signatures of A and B differ, so suppression
    // keyed on signature equality cannot drop B
    val sigs = vigil.dedup.Dedup.computeSignatures(
      gapBatches.flatten.toDF(), "text", "turn_idx",
      bands = 24, rowsPerBand = 6, shingleK = 1)
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](2)).toMap
    assert(sigs(1) != sigs(3), "planted pair must NOT be signature-equal")

    // the exact micro-batch face: doc 3 dropped at J ≥ 0.9, and a
    // replayed batch emits nothing (id anti-join vs the stored corpus)
    val base = Files.createTempDirectory("vigil_gap_store").toString
    val kept = neardupExactKept(base)
    assert(kept == Seq(1, 2, 4),
      s"exact face must drop the J=$jAB re-post and ignore the replay: " +
        kept.mkString(","))
    // stored corpus = exactly the kept set (the batch family's tables)
    val stored = spark.read.parquet(s"$base/corpus")
      .select("turn_idx").collect().map(_.getInt(0)).toSeq.sorted
    assert(stored == Seq(1, 2, 4), s"stored corpus: $stored")
    // and the signature table is row-consistent with it (the append-path
    // cache refresh would otherwise silently lose batch rows here)
    val storedSigs = spark.read.parquet(s"$base/sigs")
      .select("id").collect().map(_.getInt(0)).toSeq.sorted
    assert(storedSigs == Seq(1, 2, 4), s"stored sigs: $storedSigs")
  }

  test("exact near-dup face finds its stored state under a file: URI base") {
    // a `file:` URI names no local path, so stored state must be found
    // through the path's FileSystem; missing it, every batch would run as
    // the first one — the re-post and the replay would both be kept
    val base = Files.createTempDirectory("vigil_gap_uri").toUri.toString
    assert(base.startsWith("file:"), base)
    val kept = neardupExactKept(base)
    assert(kept == Seq(1, 2, 4), s"kept under $base: ${kept.mkString(",")}")
  }

  test("exact streaming doc filter: audit frame per batch equals the batch cascade on the union") {
    val keeper =
      "the quick brown fox jumps over a lazy dog while the sun rises in " +
      "the east and workers walk to the office for another busy day of " +
      "work as the city wakes up and birds sing in the old green park"
    val keeper2 =
      "a group of young students reads many books in the big city library " +
      "and the teacher shows hard ideas with simple clear examples so " +
      "that all of them can learn more every single day of the school year"
    val keeperWords = keeper.split(" ")
    val reordered = (keeperWords.drop(9) ++ keeperWords.take(9)).mkString(" ")
    val toxWord = vigil.Toxicity.Lexicon.head
    def doc(id: Int, ts: String, text: String) =
      vigil.Turn("c", id, "user", text, "", java.sql.Timestamp.valueOf(ts))
    val all = Seq(
      Seq(
        doc(1, "2026-01-01 10:00:00", keeper),
        doc(2, "2026-01-01 10:00:05", "Solicito acesso aos documentos " +
          "referentes ao processo da obra na quadra norte conforme " +
          "previsto pela lei de transparência")),
      Seq(
        doc(5, "2026-01-01 10:01:05", s"$keeper you $toxWord again this " +
          "very morning"),
        doc(6, "2026-01-01 10:01:10", keeper)), // exact re-post of 1
      Seq(
        doc(7, "2026-01-01 10:02:00", reordered), // J=1 but not byte-equal
        doc(8, "2026-01-01 10:02:05", keeper2)))

    val srcDir = Files.createTempDirectory("vigil_sdfx_src").toString
    def write(rows: Seq[vigil.Turn]): Unit =
      rows.toDF().coalesce(1).write.mode("append").parquet(srcDir)
    write(all.head)
    val schema = all.head.toDF().schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val base = Files.createTempDirectory("vigil_sdfx_store").toString
    val audit = scala.collection.mutable.Map[Int, (Boolean, Option[String])]()
    val q = StreamPipeline.docFilterStreamExact(
      stream, base, idCol = "turn_idx", textCol = "text")(
      (out, _) => audit.synchronized {
        out.select("turn_idx", "keep", "drop_reason").collect().foreach(r =>
          audit(r.getInt(0)) = (r.getBoolean(1), Option(r.getString(2))))
      }).start()
    q.processAllAvailable()
    all.tail.foreach { b => write(b); q.processAllAvailable() }
    q.stop()

    // the streamed audit must equal the one-shot batch cascade over the
    // union (arrival order = id order here, so the batch smallest-id
    // canonical matches the earlier-batch-wins stream policy); doc 7 is
    // the key row — near_duplicate at exact J = 1 despite differing bytes
    // and differing signatures are NOT required (token-set equality)
    val union = all.flatten.toDF()
    val batchAudit = vigil.DocFilter.filterDocs(union, "turn_idx", "text")
      .select("turn_idx", "keep", "drop_reason").collect()
      .map(r => r.getInt(0) -> ((r.getBoolean(1), Option(r.getString(2)))))
      .toMap
    assert(audit.toMap == batchAudit,
      s"streamed audit $audit must equal batch $batchAudit")
    assert(audit(6) == ((false, Some("exact_duplicate"))), audit.toString)
    assert(audit(7) == ((false, Some("near_duplicate"))), audit.toString)
    assert(audit(1)._1 && audit(8)._1, audit.toString)
  }
}
