package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import vigil.{Decide, TwoWindowDecide}
import vigil.streaming.StreamPipeline

/** The one-window conversation decision ([[vigil.LangModeAgg]] over a
  * conv_id window) and the streaming decision
  * ([[vigil.streaming.StreamPipeline.convDecisionsStream]]) both equal the
  * two-window twin, ties and null langs included.
  */
class ConvWindowsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // null ranks lowest; "é" (0xC3A9) sorts above "p" and "ptx" in UTF-8
  // byte order, "ptx" above its prefix "p"
  private val Langs = Seq(null, "é", "p", "ptx")

  /** Seeded conversations of 1-8 turns over [[Langs]] (short ones tie
    * often), plus hand-made ties between each pair of langs.
    */
  private def scored(seed: Long): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val random = (0 until 300).flatMap { c =>
      (0 until 1 + rng.nextInt(8)).map { i =>
        (s"r$c", i, Langs(rng.nextInt(Langs.size)), rng.nextInt(3) == 0, rng.nextBoolean())
      }
    }
    val ties = for {
      (a, ai) <- Langs.zipWithIndex; (b, bi) <- Langs.zipWithIndex if ai < bi
      n <- 1 to 2; i <- 0 until 2 * n
    } yield (s"t$ai$bi$n", i, if (i % 2 == 0) a else b, i == 0, i != 1)
    (random ++ ties).toDF("conv_id", "turn_idx", "lang", "contem_pii", "keep_turn")
      .repartition(3, col("conv_id"))
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.orderBy("conv_id", "turn_idx").collect().toSeq

  private val cfgs = Seq(
    Decide.Default.copy(targetLang = "p"),
    Decide.Default.copy(targetLang = "é", minMajorityFrac = 0.3, maxConvPiiDensity = 0.6),
    Decide.Default.copy(targetLang = "ptx", minMajorityFrac = 0.75, maxConvPiiDensity = 0.25))

  test("one-window convWindows equals the two-window twin on ties and null langs") {
    Seq(7L, 8L).foreach { seed =>
      val in = scored(seed)
      cfgs.foreach { cfg =>
        val want = TwoWindowDecide.convWindows(in, cfg)
        val got = TwoWindowDecide.oneWindow(in, cfg)
        assert(got.schema == want.schema)
        val (a, b) = (rows(want), rows(got))
        assert(a.size == b.size && a.nonEmpty)
        a.zip(b).foreach { case (x, y) => assert(x == y, s"$cfg: $x vs $y") }
      }
    }
  }

  test("lang_mode merges partial buffers across partitions") {
    // a round-robin input split: each conversation's partial buffers are
    // serialized, shuffled and merged
    val in = scored(9L).repartition(4)
    assert(in.rdd.getNumPartitions >= 2)
    val got = in.groupBy("conv_id")
      .agg(vigil.functions.lang_mode(col("lang")).as("m"))
      .select(col("conv_id"), col("m.cnt"), col("m.lang"))
    val want = in.groupBy("conv_id", "lang").agg(count(lit(1)).as("cnt"))
      .groupBy("conv_id").agg(max(struct(col("cnt"), col("lang"))).as("m"))
      .select(col("conv_id"), col("m.cnt"), col("m.lang"))
    val (a, b) = (want.orderBy("conv_id").collect().toSeq, got.orderBy("conv_id").collect().toSeq)
    assert(a.size == b.size && a.size > 300)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
    assert(a.exists(_.isNullAt(2)), "some conversation has only null langs")
  }

  test("convDecisionsStream decides as the two-window twin on ties and null langs") {
    val cols = Seq("conv_id", "n_turns", "majority_lang", "pii_density", "drop_conversation")
    // one event time per turn, a second apart: the horizons below keep every
    // turn above the watermark and every conversation's state alive
    val in = scored(7L).withColumn("ts",
      (lit(1767225600L) + col("turn_idx")).cast("timestamp"))
    val dir = java.nio.file.Files.createTempDirectory("vigil_conv_stream").toString + "/in"
    in.write.parquet(dir)
    cfgs.zipWithIndex.foreach { case (cfg, i) =>
      val q = StreamPipeline
        .convDecisionsStream(spark.readStream.schema(in.schema).parquet(dir), cfg,
          watermarkDelay = "36500 days", idleGapMs = 36500L * 24 * 3600 * 1000)
        .writeStream.format("memory").queryName(s"conv_stream_twin_$i")
        .outputMode(OutputMode.Update).start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(s"conv_stream_twin_$i")
        .groupBy("conv_id")
        .agg(max(struct(cols.tail.map(col): _*)).as("l"))
        .select(col("conv_id") +: cols.tail.map(c => col(s"l.$c")): _*)
      val want = TwoWindowDecide.convWindows(in, cfg)
        .groupBy("conv_id", "majority_lang", "pii_density", "drop_conversation")
        .agg(count(lit(1)).as("n_turns"))
        .select(cols.map(col): _*)
      val (a, b) = (want.orderBy("conv_id").collect().toSeq,
        got.orderBy("conv_id").collect().toSeq)
      assert(a.size == b.size && a.size > 300, s"$cfg: ${a.size} vs ${b.size}")
      a.zip(b).foreach { case (x, y) => assert(x == y, s"$cfg: $x vs $y") }
      assert(a.exists(_.isNullAt(2)), "some conversation has only null langs")
    }
  }
}
