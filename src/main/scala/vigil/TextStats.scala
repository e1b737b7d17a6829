package vigil

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * document fingerprinting (winnowing), quality scoring composites.
  * All pure built-in column algebra — codegen'd end to end.
  */
object TextStats {

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), w => length(w) > 0)).cast("long")

  /** Corpus-wide top-k word n-grams — the memorization-audit inspection
    * op (which n-grams repeat most across the corpus; Lee et al. 2021
    * motivation). Words are single-space-split (engine convention,
    * empties kept so the SQL twin slices identically); n-grams are built
    * with pure column algebra (no UDF), exploded narrow (n× token
    * volume), counted by ONE map-side-combined aggregation, and the
    * deterministic (cnt desc, gram asc) top-k plans as
    * TakeOrderedAndProject — per-partition top-k merged on the driver,
    * no global sort materialization (plan-asserted in the spec).
    * Output: (gram, cnt).
    */
  def topNgrams(df: org.apache.spark.sql.DataFrame, textCol: String,
      n: Int = 3, k: Int = 20): org.apache.spark.sql.DataFrame = {
    require(n >= 1 && k >= 1, s"topNgrams: need n, k >= 1 (got $n, $k)")
    // flat-loop n-gram expression, NOT transform()+element_at: the HOF
    // lambda interpreter costs ~34 µs per gram even over an attribute
    // array (the winnow O(n²) lesson, third sighting — 8.8 s of a 9 s
    // wall at sf0.1 was lambda re-entry)
    df.select(explode(vigil.functions.word_ngrams(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("gram"))
      .limit(k)
  }

  /** k-word shingle hashes of the text (step 1 of winnowing).
    *
    * IMPORTANT: materialize this as its own column (withColumn) before
    * passing it to [[winnow]] — if the expression is inlined, every
    * winnow window re-evaluates the whole shingle pass (O(n²) per row;
    * caught by the noop-write bench at 106 s for 500 docs).
    */
  def shingleHashes(text: Column, k: Int = 3): Column = {
    val words = filter(split(lower(text), " "), x => length(x) > 0)
    val n = size(words)
    when(n >= k,
      transform(sequence(lit(0), n - k),
        i => xxhash64(concat_ws(" ",
          (0 until k).map(j => element_at(words, i + j + 1)): _*))))
      .otherwise(array(xxhash64(concat_ws(" ", words))))
  }

  /** Winnowing document fingerprint (Schleimer et al. 2003, as in MOSS)
    * over a MATERIALIZED shingle-hash column: keep the minimum hash of
    * every sliding window of `w` consecutive shingle hashes; the distinct
    * mins are the fingerprint. Guarantees any shared run of ≥ w+k-1 words
    * produces at least one shared fingerprint.
    */
  def winnow(grams: Column, w: Int = 4): Column = {
    val m = size(grams)
    when(m >= w,
      array_distinct(transform(sequence(lit(0), m - w),
        i => array_min(slice(grams, i + 1, lit(w))))))
      .otherwise(array_distinct(array(array_min(grams))))
  }

  /** Composite 0..1 quality score from the Quality metric columns —
    * a weighted product of rule satisfactions (soft version of
    * Quality.passes for ranking rather than gating).
    */
  def qualityScore(): Column = {
    def clamp01(c: Column): Column = least(greatest(c, lit(0.0)), lit(1.0))
    val lenScore = clamp01(least(col("n_words").cast("double") / 5.0, lit(1.0)))
    val alphaScore = clamp01(col("alpha_word_frac"))
    val symScore = clamp01(lit(1.0) - col("symbol_word_ratio"))
    val repScore = clamp01(lit(1.0) - col("dup_2gram_frac"))
    round(lenScore * alphaScore * symScore * repScore, 4)
  }
}
