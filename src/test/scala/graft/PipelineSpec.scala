package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import vigil.{Decide, SaltedDecide}

/** Spark-level tests of the scoring pipeline + conversation decisions. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def turnsDf(rows: Seq[(String, Int, String)]) = {
    import spark.implicits._
    rows.map { case (c, i, t) =>
      vigil.Turn(c, i, "user", t, "", java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    }.toDF()
  }

  test("per-turn scoring columns match reference semantics") {
    val df = turnsDf(Seq(
      ("c1", 0, "Meu CPF é 123.456.789-00 e email a@b.com"),
      ("c1", 1, "Solicito informações sobre o processo."),
      ("c2", 0, "Processo SEI 00015-12345678/2026-01")
    ))
    // regression: scoring must PRESERVE every input column (an internal
    // struct column once shadowed `ts` and silently dropped the timestamp)
    val scoredDf = Decide.scoreTurns(df)
    Seq("conv_id", "turn_idx", "role", "text", "tool", "ts").foreach { c =>
      assert(scoredDf.columns.contains(c), s"input column $c lost by scoring")
    }
    val scored = scoredDf.orderBy("conv_id", "turn_idx").collect()
    val r0 = scored(0)
    assert(r0.getAs[Boolean]("contem_pii"))
    assert(r0.getAs[scala.collection.Seq[String]]("tipos_detectados").toSeq ==
      Seq("cpf", "email"))
    assert(r0.getAs[Double]("confianca") == 0.95)
    assert(r0.getAs[String]("scrubbed_text") == "Meu CPF é <CPF> e email <EMAIL>")
    assert(!scored(1).getAs[Boolean]("contem_pii"))
    assert(!scored(2).getAs[Boolean]("contem_pii"))
    assert(scored(2).getAs[String]("scrubbed_text") ==
      "Processo SEI 00015-12345678/2026-01")
  }

  test("conversation decisions: majority lang + pii density") {
    val en = "please send me the report about the process and the work"
    val pt = "solicito informações sobre o processo administrativo e os documentos"
    val df = turnsDf(Seq(
      ("en-conv", 0, en), ("en-conv", 1, en + " thank you for your help"),
      ("pt-conv", 0, pt), ("pt-conv", 1, pt + " agradeço desde já"),
      ("pii-conv", 0, "Meu CPF é 123.456.789-00, " + en),
      ("pii-conv", 1, "RG: 1234567, " + en)
    ))
    val out = SaltedDecide.decide(df)
    val conv = out.select("conv_id", "majority_lang", "pii_density", "drop_conversation")
      .distinct().collect().map(r => r.getString(0) -> r).toMap
    assert(conv("en-conv").getAs[String]("majority_lang") == "en")
    assert(!conv("en-conv").getAs[Boolean]("drop_conversation"))
    assert(conv("pt-conv").getAs[String]("majority_lang") == "pt")
    assert(conv("pt-conv").getAs[Boolean]("drop_conversation"),
      "majority-non-target-language conversation must drop")
    assert(conv("pii-conv").getAs[Double]("pii_density") == 1.0)
    assert(conv("pii-conv").getAs[Boolean]("drop_conversation"),
      "high-PII-density conversation must drop")
    // keep = keep_turn && !drop_conversation
    val keeps = out.filter(col("conv_id") === "en-conv").select("keep")
      .collect().map(_.getBoolean(0))
    assert(keeps.forall(identity))
  }

  test("quality rules and toxicity flag junk turns") {
    val df = turnsDf(Seq(
      ("q", 0, "a normal sentence with reasonable words and structure here"),
      ("q", 1, "xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx" * 3),
      ("q", 2, "$$$ %% ### !!! @@@ ^^^ &&& *** ((( ))) $$$ %% ###"),
      ("q", 3, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      ("q", 4, "you are a complete idiot and I hate this")
    ))
    val rows = Decide.scoreTurns(df).orderBy("turn_idx")
      .select("quality_pass", "toxic").collect()
    assert(rows(0).getBoolean(0) && !rows(0).getBoolean(1))
    assert(!rows(1).getBoolean(0), "overlong single word must fail quality")
    assert(!rows(2).getBoolean(0), "symbol soup must fail quality")
    assert(!rows(3).getBoolean(0), "pure repetition must fail quality")
    assert(rows(4).getBoolean(1), "lexicon hit must flag toxic")
  }

  test("langid separates the five model languages") {
    val samples = Map(
      "en" -> "the quick brown fox jumps over the lazy dog near the river",
      "pt" -> "gostaria de saber quais são os prazos e onde devo enviar os documentos",
      "es" -> "me gustaría saber cuáles son los plazos y dónde debo enviar los documentos",
      "fr" -> "je voudrais savoir quels sont les délais et où je dois envoyer les documents",
      "de" -> "ich möchte wissen welche fristen gelten und wohin ich die unterlagen schicken soll"
    )
    samples.foreach { case (lang, text) =>
      val (got, conf, ppl) = vigil.LangModel.scoreBoth(text)
      assert(got == lang, s"expected $lang got $got (conf=$conf) for: $text")
      assert(ppl > 1.0 && ppl < 40.0, s"ppl out of natural range: $ppl")
    }
    val (und, _, _) = vigil.LangModel.scoreBoth("42 17 ???")
    assert(und == "und")
    val (_, _, junkPpl) = vigil.LangModel.scoreBoth("qz xj wq vk jx zq kv qx jz wv" * 3)
    assert(junkPpl > 40.0, s"gibberish ppl should exceed threshold: $junkPpl")
  }

  test("driver entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("decideWindowed equals decide (score-once window form)") {
    val cfg = Decide.Default.copy(targetLang = "pt")
    val turns = vigil.Synth.corpusDF(spark, nConvs = 300)
    val cols = Seq("conv_id", "turn_idx", "contem_pii", "confianca",
      "scrubbed_text", "lang", "perplexity", "quality_pass", "toxic",
      "majority_lang", "pii_density", "drop_conversation", "keep")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.head, cols.tail: _*)
        .orderBy("conv_id", "turn_idx").collect().toSeq
    val a = dump(SaltedDecide.decide(turns, cfg))
    val b = dump(Decide.decideWindowed(turns, cfg))
    assert(a.size == b.size && a.nonEmpty)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"row mismatch: $x vs $y") }
  }

  test("decideWindowed plan: score once, one exchange, scoring above it") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}
    val windowed = Decide.decideWindowed(vigil.Synth.corpusDF(spark, 100),
      Decide.Default.copy(targetLang = "pt"))
      .select("conv_id", "turn_idx", "contem_pii", "scrubbed_text", "lang",
        "perplexity", "quality_pass", "toxic", "keep")
    val qe = windowed.queryExecution
    // CollapseProject must not duplicate the regex-heavy scoring kernel
    // per derived column
    val scores = "turn_score".r.findAllIn(qe.optimizedPlan.toString).size
    assert(scores == 1, s"expected turn_score once in the optimized plan, saw $scores")
    // under AQE the executed plan is an AdaptiveSparkPlanExec LEAF, so a
    // collect() over it finds no exchange at all; walk the plan it wraps.
    // initialPlan, not inputPlan: only the former has the exchanges
    // EnsureRequirements adds for the windows' required distribution
    val phys = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val exchanges = phys.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.size == 1 && exchanges.head.shuffleOrigin == REPARTITION_BY_NUM &&
      exchanges.head.outputPartitioning.toString.contains("conv_id"),
      s"expected one repartition(conv_id) exchange shared by both windows:\n$phys")
    // scale shape: only the raw turn width crosses the shuffle; the wide
    // scored columns are produced on the reduce side
    assert(!exchanges.head.toString.contains("turn_score"),
      s"scoring runs below the conv_id exchange:\n${exchanges.head}")
    assertOneConvWindow(phys)
  }

  /** The conversation rules are one WindowExec partitioned by conv_id
    * alone, over one sort, above the exchange (the (conv_id, lang) count
    * window they replaced added a second sort and two more WindowExecs).
    */
  private def assertOneConvWindow(phys: org.apache.spark.sql.execution.SparkPlan): Unit = {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val windows = phys.collect { case w: WindowExec => w }
    assert(windows.size == 1 &&
      windows.head.partitionSpec.flatMap(_.references.map(_.name)) == Seq("conv_id") &&
      windows.head.exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"expected one conv_id WindowExec above the exchange:\n$phys")
    val sorts = windows.head.collect { case so: SortExec => so }
    assert(sorts.size == 1, s"expected one sort below the window:\n$phys")
  }

  test("Pipeline.run view equals decideWindowed, with a 1,200-turn conversation") {
    import spark.implicits._
    val cfg = Decide.Default.copy(targetLang = "pt")
    // Synth's own lengths stay short (its longest at 300 conversations is 3
    // turns), so splice in one long conversation of mixed Synth content
    val mega = vigil.Synth.corpus(700, seed = 11L).take(1200).zipWithIndex.map {
      case (g, i) => vigil.Turn("conv-mega", i, g.role, g.text, "", g.ts)
    }
    assert(mega.length == 1200)
    val turns = vigil.Synth.corpusDF(spark, nConvs = 300).unionByName(mega.toDF())
    val dir = java.nio.file.Files.createTempDirectory("vigil_view_eq").toString
    val view = vigil.Pipeline.run(spark, turns, dir, "snap-1", cfg, nBuckets = 8)
    val want = Decide.decideWindowed(turns, cfg)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select(want.columns.toSeq.map(col): _*)
        .orderBy("conv_id", "turn_idx").collect().toSeq
    val a = dump(want)
    val b = dump(view)
    assert(a.size == b.size && a.count(_.getAs[String]("conv_id") == "conv-mega") == 1200)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"row mismatch: $x vs $y") }
  }

  test("Pipeline.run write plan: one conv_id exchange, windows above it, scoring below") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the initial (pre-AQE) plan of every adaptive query under a job: the
    // data write's is the only one with windows
    def writes = seen.toArray(Array.empty[QueryExecution]).toSeq.flatMap { qe =>
      qe.executedPlan.collect { case a: AdaptiveSparkPlanExec => qe -> a.initialPlan }
    }.filter(_._2.exists(_.isInstanceOf[WindowExec]))
    spark.listenerManager.register(listener)
    try {
      val dir = java.nio.file.Files.createTempDirectory("vigil_write_plan").toString
      vigil.Pipeline.run(spark, vigil.Synth.corpusDF(spark, 100), dir, "snap-1",
        Decide.Default.copy(targetLang = "pt"), nBuckets = 8)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1, s"expected one windowed write job, saw ${writes.size}")
    val (qe, phys) = writes.head
    val exchanges = phys.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.size == 1 && exchanges.head.shuffleOrigin == REPARTITION_BY_NUM &&
      exchanges.head.outputPartitioning.toString.contains("conv_id"),
      s"expected one repartition(conv_id) exchange in the write job:\n$phys")
    assertOneConvWindow(phys)
    assert(exchanges.head.toString.contains("turn_score"),
      s"scoring runs below the conv_id exchange:\n${exchanges.head}")
    val scores = "turn_score".r.findAllIn(qe.optimizedPlan.toString).size
    assert(scores == 1, s"expected turn_score once in the optimized plan, saw $scores")
  }
}
