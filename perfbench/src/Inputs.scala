package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A staged transcript corpus and its per-turn goldens. */
final case class TurnsInput(
    df: DataFrame, rows: Long, convs: Int, maxConvTurns: Int,
    golden: Map[(String, Int), (Boolean, String)], sample: Array[String])

/** A staged document corpus and embedding set, with the planted pairs and
  * the brute-force document pair set at the verify threshold.
  */
final case class DedupInput(
    docs: DataFrame, vecs: DataFrame, nDocs: Int, nVecs: Int,
    plantedDocPairs: Set[(Long, Long)], plantedVecPairs: Set[(Long, Long)],
    bruteDocPairs: Set[(Long, Long)], sample: Array[String])

/** Seeded inputs, staged to parquet so the engine only ever reads stored
  * data. Same seed, same bytes.
  */
object Inputs {

  /** `targetTurns` turns of `vigil.Synth` content regrouped into
    * conversations whose lengths come from the benchmark's own seeded
    * power law: one conversation of `mega` turns (none when 0), then
    * lengths 2·(1-u)^-0.7 capped at 200 (Synth's law and the issue's cap).
    *
    * Synth draws each conversation's length from the first `nextDouble` of
    * `new Random(seed * 1000003 + ci)`, which moves almost linearly with
    * `ci`; lengths sweep a narrow band instead of following the law, and
    * whether a long tail appears at all depends on the seed. So the
    * content comes from `Synth.corpus` at two turns per conversation
    * (templates and goldens per turn, the profile mix by conversation
    * index) and the benchmark assigns the grouping. Goldens are per turn,
    * so regrouping leaves them valid.
    */
  def turns(spark: SparkSession, dir: String, seed: Long, targetTurns: Int,
      repeat: Int, mega: Int): TurnsInput = {
    import spark.implicits._
    val content = vigil.Synth.corpus((targetTurns + 1) / 2, seed, maxLen = 2, repeat)
      .take(targetTurns)
    val rng = new java.util.SplittableRandom(seed)
    val lens = scala.collection.mutable.ArrayBuffer.empty[Int]
    var left = targetTurns
    if (mega > 0) { lens += math.min(mega, left); left -= lens.last }
    while (left > 0) {
      val l = math.max(2, math.min((2 * math.pow(1.0 / (1.0 - rng.nextDouble()), 0.7)).toInt,
        200))
      lens += math.min(l, left); left -= lens.last
    }
    val ids = lens.zipWithIndex.flatMap { case (l, c) =>
      (0 until l).map(t => (f"conv-$c%06d", t)) }
    val turns = content.zip(ids).map { case (g, (c, t)) =>
      vigil.Turn(c, t, if (t % 2 == 0) "user" else "assistant", g.text, "", g.ts) }
    val path = s"$dir/turns"
    turns.toDF().repartition(4).write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val staged = df.count()
    require(staged == targetTurns, s"staged $staged turns of $targetTurns")
    TurnsInput(df, targetTurns, lens.size, lens.max,
      content.zip(ids).map { case (g, k) => k -> (g.exp_contem_pii, g.exp_scrubbed) }.toMap,
      content.take(2000).map(_.text).toArray)
  }

  /** The 31-word vocabulary of the generated `documents` tables. */
  val Vocab: Vector[String] = Vector("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  /** Word-set bitmask, the token set `Dedup.neardupVerified` compares at
    * shingleK = 1 (lower-cased, space-split).
    */
  private def mask(words: Array[Int]): Int = words.foldLeft(0)((m, w) => m | (1 << w))

  private def jaccard(a: Int, b: Int): Double =
    Integer.bitCount(a & b).toDouble / Integer.bitCount(a | b)

  /** `nBase` documents of 8-96 uniform vocabulary words (~44-530 chars, the
    * sf0.1 `documents` profile), plus 1-3 edited copies of every 10th. Each
    * copy has 1-3 words replaced, inserted or deleted, and is kept only if
    * its true word-set Jaccard to the source is at least `minJaccard`.
    *
    * `nVecBase` unit 64-dim Gaussian vectors, plus 1-3 copies of every 10th
    * moved by a perturbation of norm 0.01 (cosine ~0.99995), so every pair
    * inside a planted cluster clears any threshold up to 0.9999.
    */
  def dedup(spark: SparkSession, dir: String, seed: Long, nBase: Int,
      nVecBase: Int, minJaccard: Double): DedupInput = {
    import spark.implicits._
    val rng = new Random(seed)
    val words = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    val planted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    (0 until nBase).foreach(_ => words += Array.fill(8 + rng.nextInt(89))(rng.nextInt(Vocab.size)))
    (0 until nBase by 10).foreach { src =>
      val s = words(src)
      (0 until 1 + rng.nextInt(3)).foreach { _ =>
        var copy = s; var tries = 0
        do {
          val b = s.toBuffer
          (0 until 1 + rng.nextInt(3)).foreach { _ =>
            val p = rng.nextInt(b.size)
            rng.nextInt(3) match {
              case 0 => b(p) = rng.nextInt(Vocab.size)
              case 1 => b.insert(p, rng.nextInt(Vocab.size))
              case _ => if (b.size > 8) b.remove(p)
            }
          }
          copy = b.toArray; tries += 1
        } while (jaccard(mask(copy), mask(s)) < minJaccard && tries < 20)
        if (jaccard(mask(copy), mask(s)) < minJaccard) copy = s.clone()
        planted += ((src.toLong, words.size.toLong))
        words += copy
      }
    }
    val masks = words.map(mask).toArray
    val brute = Set.newBuilder[(Long, Long)]
    var i = 0
    while (i < masks.length) {
      var j = i + 1
      while (j < masks.length) {
        if (jaccard(masks(i), masks(j)) >= minJaccard) brute += ((i.toLong, j.toLong))
        j += 1
      }
      i += 1
    }
    val texts = words.map(_.map(Vocab).mkString(" ")).toArray
    val docsPath = s"$dir/docs"
    texts.zipWithIndex.map { case (t, id) => (id.toLong, t) }.toSeq
      .toDF("doc_id", "text").repartition(4)
      .write.mode("overwrite").parquet(docsPath)

    val vrng = new Random(seed * 31 + 7)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def gauss(): Array[Double] = unit(Array.fill(64)(vrng.nextGaussian()))
    val vecs = scala.collection.mutable.ArrayBuffer.fill(nVecBase)(gauss())
    val vPlanted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    (0 until nVecBase by 10).foreach { src =>
      val members = scala.collection.mutable.ArrayBuffer(src.toLong)
      (0 until 1 + vrng.nextInt(3)).foreach { _ =>
        val e = gauss()
        members += vecs.size.toLong
        vecs += unit(vecs(src).zip(e).map { case (x, d) => x + 0.01 * d })
      }
      for (a <- members; b <- members if a < b) vPlanted += ((a, b))
    }
    val vecsPath = s"$dir/vecs"
    vecs.zipWithIndex.map { case (v, id) => (id.toLong, v.toSeq) }.toSeq
      .toDF("vec_id", "embedding").repartition(4)
      .write.mode("overwrite").parquet(vecsPath)

    val docs = spark.read.parquet(docsPath)
    val vdf = spark.read.parquet(vecsPath)
    require(docs.count() == texts.length && vdf.count() == vecs.size, "staged row count")
    DedupInput(docs, vdf, texts.length, vecs.size, planted.toSet, vPlanted.toSet,
      brute.result(), texts.take(2000))
  }

  /** Order-independent hash of a frame's rows over `cols`: the sum of
    * per-row 64-bit hashes, with the row count. Computed on the same pass
    * as the write by `Dataset.observe`.
    */
  def rowHash(cols: Seq[String]) =
    Seq(count(lit(1)).as("rows"),
      sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")).as("hash"))
}
