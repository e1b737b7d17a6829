package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import vigil.{Quality, Synth, Toxicity}

/** TurnStatsExpr must be bit-identical to the normative pure-column
  * quality/toxicity algebra on the full fixture corpus plus edge strings.
  */
class QualityExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  test("fused expression equals the column algebra on corpus + edges") {
    val corpusTexts = Synth.corpus(150, 42L, 30).map(_.text)
    val edges = Seq("", " ", "a", "x y", "🙂 🚀 emoji words", "ação çñß",
      "① um", "UPPER lower MiXeD", "$$$ ### !!!", "a " * 200,
      "word", "idiota!!!", "...damn...", "ⅣⅤ numerals Ⅸ",
      "tab\ttab", "multi  space   runs")
    val df = (corpusTexts ++ edges).zipWithIndex
      .map { case (t, i) => (i.toLong, vigil.TextClean.clean(t)) }
      .toDF("id", "clean")
      .withColumn("__words", Quality.words(col("clean")))

    val colAlgebra = Quality.metricsFromWords(col("clean"), col("__words"))
      .foldLeft(df) { case (d, (n, c)) => d.withColumn(n + "_col", c) }
      .withColumn("toxic_col", Toxicity.isToxic(col("clean")))
      .withColumn("qs", vigil.functions.turn_stats(col("clean")))

    val checks = Seq("n_words", "n_chars", "mean_word_len", "max_word_len",
      "alpha_word_frac", "symbol_word_ratio", "dup_2gram_frac")
    val mismatchCond = checks
      .map(f => col(s"qs.$f").cast("double") =!= col(f + "_col").cast("double"))
      .reduce(_ || _) || (col("qs.toxic") =!= col("toxic_col"))
    val bad = colAlgebra.filter(mismatchCond)
      .select(col("id"), col("clean"), col("qs"),
        struct(checks.map(f => col(f + "_col")) :+ col("toxic_col"): _*))
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  test("fused turn_score equals composed pii_analyze + lang_score + turn_stats") {
    import vigil.{functions => vf}
    val corpus = Synth.corpusDF(spark, 150).select("text")
      .union(Seq("", " ", "Meu CPF é 123.456.789-00, idiota",
        "json {\"k\": [1,2,3]} ### $$$", "ünïcödé tëxt høre æøå",
        "Email a@b.com, depois c@d.com; CPF 123.456.789-00 e de novo a@b.com",
        "cartão 4111 1111 1111 1111 sem dado pessoal")
        .toDF("text"))
    // the keep/drop summary as the higher-order-function algebra over
    // detalhes it replaced in Decide.scoreTurns
    val reais = filter(col("pii.detalhes"),
      d => d.getField("tipo").isin(vigil.PiiTypes.Real.toSeq: _*))
    val composed = corpus
      .withColumn("pii", vf.pii_analyze(col("text")))
      .withColumn("ls", vf.lang_score(col("pii.clean")))
      .withColumn("qs", vf.turn_stats(col("pii.clean")))
      .select(struct(
        col("pii.clean"), col("pii.detalhes"), col("pii.sinais"),
        col("pii.scrubbed"), col("ls.lang"), col("ls.lang_conf"),
        col("ls.perplexity"), col("qs.n_words"), col("qs.n_chars"),
        col("qs.mean_word_len"), col("qs.max_word_len"),
        col("qs.alpha_word_frac"), col("qs.symbol_word_ratio"),
        col("qs.dup_2gram_frac"), col("qs.toxic"),
        (size(reais) > 0).as("contem_pii"),
        array_distinct(transform(reais, d => d.getField("tipo"))).as("tipos_detectados"),
        array_max(transform(reais, d => d.getField("confianca"))).as("confianca_max"),
        exists(col("pii.detalhes"),
          d => d.getField("tipo").isin(vigil.PiiTypes.Extended.toSeq: _*))
          .as("has_extended_pii")).as("s"))
    val fused = corpus.select(vf.turn_score(col("text")).as("s"))
    val a = composed.collect().map(_.toString)
    val fusedRows = fused.collect()
    val b = fusedRows.map(_.toString)
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x != $y") }
    // the corpus reaches every branch of the summary fold
    val s = fusedRows.map(_.getStruct(0))
    assert(s.exists(r => r.getAs[Boolean]("contem_pii")) &&
      s.exists(r => r.getAs[scala.collection.Seq[String]]("tipos_detectados").size >= 2) &&
      s.exists(r => r.getAs[Boolean]("has_extended_pii") && !r.getAs[Boolean]("contem_pii")))
  }

  /** Local brute-force twin of Quality.repetitionStats' normative defs. */
  private def bruteRepetition(text: String, n: Int): (Double, Double) = {
    val ws = text.split(" ").filter(_.nonEmpty)
    if (ws.length < n) (0.0, 0.0)
    else {
      val grams = ws.sliding(n).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).map { case (g, o) => (g, o.size.toLong) }
      val top = counts.iterator.map { case (g, c) => (c, c * g.length) }.max
      val dup = counts.collect { case (g, c) if c > 1 => c * g.length }.sum
      val tot = counts.map { case (g, c) => c * g.length }.sum
      (top._2.toDouble / text.length, dup.toDouble / tot)
    }
  }

  test("repetitionStats matches hand-computed and brute values; verdict splits") {
    // hand-computed: "x y x y z" → 2-grams {x y:2, y x:1, y z:1}
    //   top2 = 2*3/9, dup2 = 6/12; 3-grams all unique → top3 = 5/9, dup3 = 0
    val hand = Seq(
      (0L, "x y x y z"), (1L, "solo"), (2L, ""), (3L, "a a a a"),
      (4L, "the cat sat on the mat and the cat ran"))
      .toDF("doc_id", "text")
    val r = Quality.repetitionStats(hand, "text", "doc_id", Seq(2, 3))
      .orderBy("doc_id").collect()
    assert(r.length == 5)
    val row0 = r(0)
    assert(row0.getDouble(1) == 6.0 / 9 && row0.getDouble(2) == 6.0 / 12)
    assert(row0.getDouble(3) == 5.0 / 9 && row0.getDouble(4) == 0.0)
    assert((1 to 4).forall(i => r(1).getDouble(i) == 0.0)) // 1 word: no grams
    assert((1 to 4).forall(i => r(2).getDouble(i) == 0.0)) // empty text
    // "a a a a": top2 "a a" cnt 3, chars 9, text len 7 → frac > 1 (documented)
    assert(r(3).getDouble(1) == 9.0 / 7 && r(3).getDouble(2) == 1.0)

    // brute-force twin over the synth corpus (+ the hand rows)
    val texts = Synth.corpus(120, 7L, 40).map(_.text.replace('\n', ' ')) ++
      hand.collect().map(_.getString(1))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Quality.repetitionStats(df, "text", "doc_id", Seq(2, 3))
      .orderBy("doc_id").collect()
    texts.zipWithIndex.foreach { case (t, i) =>
      val (t2, d2) = bruteRepetition(t, 2)
      val (t3, d3) = bruteRepetition(t, 3)
      val g = got(i)
      assert(g.getDouble(1) == t2 && g.getDouble(2) == d2 &&
        g.getDouble(3) == t3 && g.getDouble(4) == d3,
        s"doc $i: got $g want ($t2,$d2,$t3,$d3) for '${t.take(60)}'")
    }

    // fused flat-loop expression ≡ normative column algebra, bit-wise,
    // on the same corpus (incl. accents/emoji from the synth texts)
    val viaCols = Quality.repetitionStats(df, "text", "doc_id", Seq(2, 3),
      fused = false).orderBy("doc_id").collect().map(_.toString)
    val viaExpr = Quality.repetitionStats(df, "text", "doc_id", Seq(2, 3))
      .orderBy("doc_id").collect().map(_.toString)
    assert(viaCols.sameElements(viaExpr),
      viaCols.zip(viaExpr).filter(p => p._1 != p._2).take(3).mkString("\n"))

    // stopword frac + composite verdict must discriminate on the real
    // fixture corpus (short synth turns are top2-dominated by construction)
    val fixture = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val sw = fixture.select(col("doc_id"),
      Quality.stopwordFrac(Quality.words(col("text"))).as("stopword_frac"))
    val verdicts = Quality.repetitionStats(fixture, "text", "doc_id", Seq(2))
      .join(sw, Seq("doc_id"))
      .select(Quality.repetitionPasses().as("keep"))
      .collect().map(_.getBoolean(0))
    assert(verdicts.contains(true) && verdicts.contains(false),
      s"verdict is constant (${verdicts.count(_ == true)}/${verdicts.length} keep) — thresholds don't discriminate")
  }

  test("lineMetrics: hand-computed values and assembled-conversation shape") {
    val docs = Seq(
      (0L, "a\nb\na\n\n   \nc"), // trims/drops blanks: [a,b,a,c]
      (1L, "- item one\n- item one\nnormal line...\n…"),
      (2L, ""), (3L, "single line no newline")
    ).toDF("id", "text")
    val out = Quality.lineMetrics(col("text"))
      .foldLeft(docs) { case (d, (n, c)) => d.withColumn(n, c) }
      .orderBy("id").collect()
    // doc 0: 4 lines, 3 distinct → dup 0.25; chars 4, distinct 3 → 0.25
    assert(out(0).getLong(2) == 4L && out(0).getDouble(3) == 0.25 &&
      out(0).getDouble(4) == 0.25 && out(0).getDouble(5) == 0.0 &&
      out(0).getDouble(6) == 0.0, out(0).toString)
    // doc 1: dup "- item one" (10 chars surplus of 35); bullets 2/4;
    // ellipsis "...": 1 line, "…": 1 line → 2/4
    assert(out(1).getLong(2) == 4L && out(1).getDouble(3) == 0.25 &&
      out(1).getDouble(4) == 10.0 / 35 && out(1).getDouble(5) == 0.5 &&
      out(1).getDouble(6) == 0.5, out(1).toString)
    assert(out(2).getLong(2) == 0L && (3 to 6).forall(i => out(2).getDouble(i) == 0.0))
    assert(out(3).getLong(2) == 1L && out(3).getDouble(3) == 0.0)

    // assembled conversations: n_lines == count of non-blank turn texts
    val asm = vigil.Assemble.conversationDocs(
      vigil.Decide.scoreTurns(Synth.corpusDF(spark, 50)))
    val rows = Quality.lineMetrics(col("conversation_text"))
      .foldLeft(asm) { case (d, (n, c)) => d.withColumn(n, c) }
      .select("n_turns", "n_lines", "dup_line_frac").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(0) && r.getLong(1) >= 0)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0)
    }
  }
}
