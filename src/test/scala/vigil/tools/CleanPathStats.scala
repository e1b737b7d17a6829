package vigil.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import vigil.{LangModel, Patterns, PiiCore, PiiGates, Synth, TextClean, TurnScoreExpr,
  TurnStatsExpr}

/** Diagnostic main for the per-turn kernel, in two parts.
  *
  * 1. How often the zero-copy fast paths fire on a corpus — (a)
  *    `TextClean.clean` returning its input by REFERENCE (already-NFKC, no
  *    controls, whitespace already collapsed → no string rebuild, and the
  *    downstream `PiiSchema.analysisValues` UTF8String reuse keys on
  *    exactly this identity), and (b) scrub identity (PII-free turn →
  *    scrubbed eq clean, no second rebuild). When both fire, the only
  *    whole-text traffic left per turn is the single UTF-8→UTF-16 decode
  *    the regex kernels require.
  * 2. The kernel split: single-thread µs per text of each part of
  *    `turn_score` — clean, the PreScan pass with every gate, each gated
  *    pattern (its `find()` loop where its gate is open, averaged over all
  *    texts, with the share of texts that open it), `PiiCore.analyze`,
  *    LangModel, TurnStats and the whole `turn_score` — over Synth turns at
  *    two per conversation, repeat 1 and 3 (the text shapes of perfbench's
  *    turns_stream and turns_store). Measure this before changing a
  *    pattern or a gate.
  *
  * It lives in src/test to share the gate list of [[PiiGates]]:
  * `sbt "Test/runMain vigil.tools.CleanPathStats 2000"`.
  *
  * Args: [nConvs] for the synth corpus (default 2000), or a parquet path
  * with a `text` column for part 1 (part 2 then uses 2000 conversations).
  */
object CleanPathStats {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val nConvs = args.headOption.filterNot(_.contains("/")).map(_.toInt).getOrElse(2000)
    val df = args.headOption match {
      case Some(p) if p.contains("/") => spark.read.parquet(p).select("text")
      case _ => Synth.corpusDF(spark, nConvs).select("text")
    }
    val (same, diff, scrubId, total) = df.collect().foldLeft((0, 0, 0, 0)) {
      case ((s, d, p, t), r) =>
        val text = r.getString(0)
        val c = TextClean.clean(text)
        val a = PiiCore.detect(text)
        (s + (if (c eq text) 1 else 0), d + (if (c eq text) 0 else 1),
          p + (if (a.scrubbed eq a.clean) 1 else 0), t + 1)
    }
    println(s"clean-identity: $same / $total; rebuilt: $diff; " +
      s"scrub-identity: $scrubId / $total")
    spark.stop()
    Seq(1, 3).foreach { repeat =>
      val texts = Synth.corpus(nConvs, 42L, maxLen = 2, repeat = repeat).map(_.text).toArray
      println(f"kernel split, repeat $repeat: ${texts.length} texts of " +
        f"${texts.map(_.length).sum.toDouble / texts.length}%.0f chars, single-thread us per text")
      kernelSplit(texts).foreach { case (name, us) => println(f"  $name%-32s $us%8.3f") }
    }
  }

  private var sink = 0L

  /** Mean µs per text of `f` over `texts`: one warm pass, then whole
    * passes until at least 3 and `msEach` ms. */
  private def usPer[T](texts: Array[T], msEach: Long = 300L)(f: T => Any): Double = {
    texts.foreach(t => sink += f(t).hashCode)
    var passes = 0
    val t0 = System.nanoTime()
    while (passes < 3 || System.nanoTime() - t0 < msEach * 1000000L) {
      texts.foreach(t => sink += f(t).hashCode); passes += 1
    }
    (System.nanoTime() - t0) / 1e3 / (passes.toLong * texts.length)
  }

  /** (part, µs per text) for each part of `turn_score` over raw `texts`. */
  def kernelSplit(texts: Array[String]): Seq[(String, Double)] = {
    val cleaned = texts.map(TextClean.clean)
    val pres = cleaned.map(new PiiCore.PreScan(_))
    val gates = PiiGates.gatedPatterns.map { case (name, p, gate) =>
      val m = p.matcher("")
      val trailer = Patterns.NameTrailer.matcher("")
      val bounded = p eq Patterns.StrongNameContexts(Patterns.TrailerNameIndex)
      val open = cleaned.indices.filter(i => gate(pres(i))).map(cleaned).toArray
      val us = if (open.isEmpty) 0.0 else usPer(open) { c =>
        var n = 0
        m.reset(c)
        if (bounded) PiiCore.forEachTrailerNameMatch(m, trailer, c)(_ => n += 1)
        else while (m.find()) n += 1
        n
      } * open.length / cleaned.length
      (f"$name (open ${100.0 * open.length / cleaned.length}%.1f%%)", us)
    }
    val expr = TurnScoreExpr(BoundReference(0, StringType, nullable = true))
    val rows = texts.map(t => InternalRow(UTF8String.fromString(t)))
    Seq("TextClean.clean" -> usPer(texts)(TextClean.clean),
      "PreScan + gates" -> usPer(cleaned) { c =>
        val g = new PiiCore.PreScan(c)
        (g.phoneContextPossible, g.nameGates.count(identity), g.rgPossible,
          g.keyPossible, g.firstPersonPossible, g.addressPossible, g.contactPossible)
      }) ++ gates ++ Seq(
      "PiiCore.analyze" -> usPer(cleaned)(c => PiiCore.analyze(c).detalhes.length),
      "LangModel.scoreBoth" -> usPer(cleaned)(LangModel.scoreBoth),
      "TurnStatsExpr" -> usPer(cleaned)(c => TurnStatsExpr.computeValues(c).length),
      "turn_score" -> usPer(rows)(r => expr.eval(r).asInstanceOf[InternalRow].numFields))
  }
}
