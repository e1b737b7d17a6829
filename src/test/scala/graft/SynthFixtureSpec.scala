package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import vigil.{Decide, LangModel, SaltedDecide, Synth}

/** The north-rule correctness gate over the synthesized transcript corpus
  * (FIXTURES.md): keep/drop F1 ≥ 0.99 vs construction-time labels,
  * byte-exact per-turn scrubbed text, turn-level quality/toxicity verdicts,
  * and conversation-level majority-language / PII-density drop decisions.
  */
class SynthFixtureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cfg = Decide.Default.copy(targetLang = "pt")
  private lazy val golden = Synth.corpus(nConvs = 400, seed = 42L, maxLen = 40)

  test("language pools classify to their language (generator precondition)") {
    Synth.LangPool.foreach { case (lang, pool) =>
      pool.foreach { s =>
        val (got, conf, _) = LangModel.scoreBoth(s)
        assert(got == lang, s"pool[$lang] '$s' classified $got (conf $conf)")
      }
    }
  }

  test("per-turn goldens: keep/drop F1, byte-exact scrub, quality, toxicity") {
    import spark.implicits._
    val turns = golden.map(g =>
      vigil.Turn(g.conv_id, g.turn_idx, g.role, g.text, g.tool, g.ts)).toDF()
    val scored = Decide.scoreTurns(turns, cfg)
      .select("conv_id", "turn_idx", "contem_pii", "tipos_detectados",
        "scrubbed_text", "quality_pass", "toxic", "lang")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r).toMap

    var tp = 0; var fp = 0; var fn = 0; var tn = 0
    var scrubBad = List.empty[String]
    var otherBad = List.empty[String]
    golden.foreach { g =>
      val r = scored((g.conv_id, g.turn_idx))
      val gotPii = r.getAs[Boolean]("contem_pii")
      (g.exp_contem_pii, gotPii) match {
        case (true, true) => tp += 1
        case (false, true) => fp += 1
        case (true, false) => fn += 1
        case (false, false) => tn += 1
      }
      val gotScrub = r.getAs[String]("scrubbed_text")
      if (gotScrub != g.exp_scrubbed)
        scrubBad ::= s"${g.conv_id}/${g.turn_idx} [${g.family}]\n  exp: ${g.exp_scrubbed}\n  got: $gotScrub"
      val gotTipos = r.getAs[scala.collection.Seq[String]]("tipos_detectados").toSeq
      if (g.exp_contem_pii && gotTipos != g.exp_tipos)
        otherBad ::= s"${g.conv_id}/${g.turn_idx} [${g.family}] tipos exp=${g.exp_tipos} got=$gotTipos"
      if (g.exp_quality_fail && r.getAs[Boolean]("quality_pass"))
        otherBad ::= s"${g.conv_id}/${g.turn_idx} [${g.family}] expected quality fail"
      if (g.exp_toxic != r.getAs[Boolean]("toxic"))
        otherBad ::= s"${g.conv_id}/${g.turn_idx} [${g.family}] toxic exp=${g.exp_toxic}"
      if (g.exp_lang.nonEmpty && r.getAs[String]("lang") != g.exp_lang)
        otherBad ::= s"${g.conv_id}/${g.turn_idx} [${g.family}] lang exp=${g.exp_lang} got=${r.getAs[String]("lang")}"
    }
    val precision = if (tp + fp == 0) 1.0 else tp.toDouble / (tp + fp)
    val recall = if (tp + fn == 0) 1.0 else tp.toDouble / (tp + fn)
    val f1 = if (precision + recall == 0) 0.0
      else 2 * precision * recall / (precision + recall)
    info(f"turns=${golden.size} tp=$tp fp=$fp fn=$fn tn=$tn F1=$f1%.4f")
    assert(f1 >= 0.99, f"keep/drop F1 $f1%.4f below gate")
    assert(scrubBad.isEmpty,
      s"${scrubBad.size} scrub mismatches:\n${scrubBad.take(5).mkString("\n")}")
    assert(otherBad.isEmpty,
      s"${otherBad.size} golden mismatches:\n${otherBad.take(10).mkString("\n")}")
  }

  test("conversation-level decisions match construction goldens") {
    import spark.implicits._
    val turns = golden.map(g =>
      vigil.Turn(g.conv_id, g.turn_idx, g.role, g.text, g.tool, g.ts)).toDF()
    val conv = SaltedDecide.convDecisions(Decide.scoreTurns(turns, cfg), cfg)
      .select("conv_id", "majority_lang", "pii_density", "drop_conversation")
      .collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    val exp = Synth.convGolden(golden, cfg.targetLang, cfg.maxConvPiiDensity,
      cfg.minMajorityFrac)
    assert(exp.nonEmpty)
    var bad = List.empty[String]
    exp.foreach { case (cid, (mLang, density, drop)) =>
      val (gLang, gDensity, gDrop) = conv(cid)
      if (gLang != mLang || math.abs(gDensity - density) > 1e-9 || gDrop != drop)
        bad ::= s"$cid exp=($mLang,$density,$drop) got=($gLang,$gDensity,$gDrop)"
    }
    info(s"checked ${exp.size} conversations with full language promises")
    assert(bad.isEmpty, s"${bad.size} conv mismatches:\n${bad.take(10).mkString("\n")}")
  }

  test("generator determinism: same seed, same corpus") {
    val a = Synth.corpus(50, 7L, 20)
    val b = Synth.corpus(50, 7L, 20)
    assert(a == b)
    assert(a != Synth.corpus(50, 8L, 20))
  }
}
