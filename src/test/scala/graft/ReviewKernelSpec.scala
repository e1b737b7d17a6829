package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import vigil.{ColumnReview, Decide, Pipeline, Review, ReviewItemsExpr, Synth}

/** `Review.reviewTable`, which reviews each turn with [[ReviewItemsExpr]],
  * against its column-space twin `vigil.ColumnReview` (six `rlike`
  * columns, two posexplodes and a (conv_id, turn_idx, lower(valor))
  * window): ordered collects must be equal on stored Pipeline.run
  * snapshots, the parity corpus, q_review_triage's input and adversarial
  * rows. Every input here has unique (conv_id, turn_idx) keys, where the
  * twin's window and the kernel's per-row fold agree.
  */
class ReviewKernelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|"))

  /** Ordered rows of both forms, asserted equal; returns the row count. */
  private def assertTwins(scored: DataFrame, what: String,
      cfg: Review.Config = Review.Default): Int = {
    val got = rows(Review.reviewTable(scored, cfg))
    val exp = rows(ColumnReview.reviewTable(scored, cfg))
    val firstDiff = got.zipAll(exp, "<none>", "<none>").indexWhere(p => p._1 != p._2)
    assert(firstDiff < 0, s"$what: ${got.length} vs ${exp.length} rows, first difference " +
      s"at $firstDiff:\n  kernel ${got.lift(firstDiff)}\n  twin   ${exp.lift(firstDiff)}")
    got.length
  }

  private def res(name: String): String = {
    val url = getClass.getClassLoader.getResource(name)
    assert(url != null, s"$name missing from test resources")
    url.getPath
  }

  test("kernel equals the column twin on stored Pipeline.run snapshots") {
    val cfg = Decide.Default.copy(targetLang = "pt")
    for (seed <- Seq(3L, 11L, 29L); repeat <- Seq(1, 3)) {
      val dir = Files.createTempDirectory("vigil_review_store").toString
      val view = Pipeline.run(spark, Synth.corpusDF(spark, 150, seed, repeat = repeat),
        dir, "snap-1", cfg, nBuckets = 4)
      val n = assertTwins(view, s"seed $seed repeat $repeat")
      assert(n > 0, s"seed $seed repeat $repeat reviews nothing")
    }
  }

  test("kernel equals the column twin on the parity corpus") {
    val texts = spark.read.json(res("parity_corpus.jsonl"))
      .select(col("id").cast("string").as("conv_id"), lit(0).as("turn_idx"),
        lit("user").as("role"), col("text"), lit("").as("tool"),
        lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"))
    assert(assertTwins(Decide.scoreTurns(texts), "parity corpus") > 200)
  }

  test("kernel equals the column twin on q_review_triage's input") {
    val in = SparkEntry.reviewTriageInput(spark, "/root/testdata/sf0.01")
    assert(assertTwins(in, "q_review_triage input") > 0)
  }

  private val detailType = StructType(Seq(
    StructField("tipo", StringType), StructField("valor", StringType),
    StructField("confianca", DoubleType), StructField("beg", IntegerType),
    StructField("end", IntegerType)))
  private val turnType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("clean", StringType), StructField("contem_pii", BooleanType),
    StructField("detalhes", ArrayType(detailType, containsNull = true))))

  private def d(tipo: String, valor: String, conf: java.lang.Double): Row =
    Row(tipo, valor, conf, 0, 0)
  private def turns(ts: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ts: _*), turnType)

  private val AllFamilies = "Os vitrais e painéis do prédio. Pesquisadora do mestrado. " +
    "Segundo a reportagem, o prefeito Carlos e o advogado Bruno assinaram; " +
    "texto escrito por Ana."

  test("kernel equals the column twin on adversarial rows") {
    val t = turns(Seq(
      // every family, names in both cases, a non-name detail, a
      // high-confidence name
      Row("c1", 0, AllFamilies, true, Seq(
        d("nome", "Carlos Souza", 0.7), d("cpf", "123", 0.9),
        d("nome", "carlos souza", 0.85), d("nome", "Ana", 0.99),
        d("email", "ANA", 0.5))),
      // the known-artist rule: the value contains an artist, an artist
      // contains the value, an empty value, a non-name artist value
      Row("c2", 0, "Um texto simples sobre Burle e Athos.", true, Seq(
        d("nome", "Athos Bulcão Mendes", 0.97), d("nome", "Portinari", 0.97),
        d("nome", "Burle", 0.97), d("nome", "", 0.97),
        d("email", "portinari", 0.97), d("nome", "Maria Lima", 0.97))),
      // one value in different case: İ, ẞ, ASCII; same rank, so the first
      // arrival wins
      Row("c3", 0, "Ela concluiu o mestrado.", true, Seq(
        d("nome", "İLKER", 0.85), d("nome", "i̇lker", 0.9),
        d("nome", "STRAẞE", 0.85), d("nome", "straße", 0.82),
        d("cpf", "AbC", 0.7), d("cpf", "abc", 0.75), d("cpf", "ABC", 0.85))),
      // null tipo, valor, confianca and null elements
      Row("c4", 1, "O advogado Bruno e o juiz Pedro.", true, Seq(
        d(null, "X", 0.7), null, d("nome", null, 0.7), d("nome", null, 0.85),
        d("nome", "Y", null), null, d(null, null, null), d("nome", "y", 0.6))),
      // scores at and around the thresholds
      Row("c5", 0, "Sem contexto algum.", true, Seq(
        d("cpf", "a", 0.79), d("cpf", "b", 0.8), d("cpf", "c", 0.7999999999),
        d("cpf", "d", 0.9499), d("cpf", "e", 0.95), d("cpf", "f", 1.0),
        d("cpf", "g", Double.NaN), d("cpf", "h", Double.NegativeInfinity),
        d("cpf", "i", -0.0))),
      // PII turns with nothing to review, and turns that are not PII turns
      Row("c6", 0, "Nada.", true, Seq.empty[Row]),
      Row("c6", 1, "Nada.", true, null),
      Row("c6", 2, AllFamilies, false, Seq(d("nome", "Carlos", 0.7))),
      Row("c6", 3, AllFamilies, null, Seq(d("nome", "Carlos", 0.7))),
      // a null text with a name
      Row("c7", 0, null, true, Seq(d("nome", "Athos Bulcão", 0.7))),
      // a name under every family, then the same value with a lower rank
      Row("c8", 0, AllFamilies, true, Seq(
        d("nome", "Bruno", 0.97), d("cpf", "bruno", 0.7), d("nome", "BRUNO", 0.7)))
    ))
    assert(assertTwins(t, "adversarial rows") == 21)
    // İ and ẞ fold under lower(): one row per value, the first arrival's
    // among the smallest rank (score_medio ranks above score_baixo)
    val c3 = Review.reviewTable(t).filter(col("conv_id") === "c3")
      .select("valor_detectado").collect().map(_.getString(0)).toSet
    assert(c3 == Set("İLKER", "STRAẞE", "ABC"), c3)
    assertTwins(t, "adversarial rows, other thresholds",
      Review.Config(highConfidenceThreshold = 0.9, lowConfidenceThreshold = 0.5))
  }

  test("a context reason goes to names only; the first arrival wins a rank tie") {
    def review(text: String, dets: Row*) =
      Review.reviewTable(turns(Seq(Row("c", 0, text, true, dets))))
        .select("tipo_pii", "valor_detectado", "motivo").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val ctx = review(AllFamilies, d("cpf", "1", 0.97), d("nome", "Ana", 0.97))
    assert(ctx.map(_._1).distinct == Seq("nome"), ctx)
    assert(ctx.map(_._3) == Seq("contexto_artistico"), ctx)
    val tie = review("Nada.", d("nome", "Ana", 0.85), d("nome", "ANA", 0.82))
    assert(tie == Seq(("nome", "Ana", "score_medio")), tie)
  }

  test("H1 banding in the kernel equals Review.scoreBandReason") {
    val scores = Seq[java.lang.Double](0.79, 0.8, 0.9499, 0.95, 1.0, Double.NaN, null)
    for (cfg <- Seq(Review.Default, Review.Config(0.9, 0.8))) {
      val in = turns(scores.zipWithIndex.map { case (s, i) =>
        Row(s"c$i", 0, "Nada.", true, Seq(d("cpf", s"v$i", s)))
      })
      val kernel = Review.reviewTable(in, cfg)
        .select("conv_id", "motivo", "prioridade").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
      val column = in.select(col("conv_id"),
          Review.scoreBandReason(col("detalhes")(0)("confianca"), cfg).as("r"))
        .collect().flatMap(r =>
          if (r.isNullAt(1)) None
          else Some(r.getString(0) -> ((r.getStruct(1).getString(0), r.getStruct(1).getString(1)))))
        .toMap
      assert(kernel == column, s"$cfg")
      assert(column.size == 3 || cfg != Review.Default, column)
    }
  }

  test("duplicate turn keys are reviewed separately") {
    val row = Row("c", 0, "Sem contexto.", true, Seq(d("cpf", "1", 0.7)))
    assert(Review.reviewTable(turns(Seq(row, row))).count() == 2)
  }

  test("plan: no window, one exchange (the W2 sort's), no text through it") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val dir = Files.createTempDirectory("vigil_review_plan").toString
    val view = Pipeline.run(spark, Synth.corpusDF(spark, 40), dir, "snap-1",
      Decide.Default.copy(targetLang = "pt"), nBuckets = 4)
    val review = Review.reviewTable(view)
    val phys = review.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    assert(phys.collect { case w: WindowExec => w }.isEmpty, s"a WindowExec:\n$phys")
    val exchanges = phys.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.length == 1, s"exchanges:\n$phys")
    assert(exchanges.head.outputPartitioning.isInstanceOf[RangePartitioning], s"$phys")
    assert(!exchanges.head.output.exists(_.name == "clean"), s"clean crosses:\n$phys")
    val kernels = phys.flatMap(_.expressions.flatMap(_.collect { case k: ReviewItemsExpr => k }))
    assert(kernels.length == 1, s"review_items evaluated ${kernels.length} times:\n$phys")
  }
}
