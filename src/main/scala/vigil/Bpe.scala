package vigil

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer — trainable subword vocabulary (Sennrich,
  * Haddow, Birch, "Neural Machine Translation of Rare Words with Subword
  * Units", ACL 2016; the GPT-2 tokenizer is the byte-level variant). The
  * reference has no counterpart (north-rule training-data surface, like
  * L1–L6): every pretraining pipeline tokenizes, and token counts drive
  * the mixing budgets ([[Mix]]) and packing offsets ([[Pack]]).
  *
  * Scale shape — the standard BPE trainer split (HF tokenizers and
  * SentencePiece do the same): corpus scale lives ONLY in the word
  * histogram (one map-side-combined groupBy over exploded words; Zipf
  * bounds the distinct-form count), and the greedy merge loop runs
  * driver-side over that bounded table — a 100 TB corpus and a 100 MB
  * corpus train over the same few-hundred-thousand-row histogram.
  * Encoding is a flat per-row loop ([[BpeEncodeExpr]]) over broadcast
  * merge ranks: narrow, no exchange, model state shipped once per
  * executor.
  *
  * Symbols are Unicode code points (matching Spark `length()` /
  * DuckDB `length()` semantics, which is what makes the zero-merge
  * degeneration SQL-oracle-pairable); words are single-space-split like
  * every tokenizer in this engine (MinHash, Decontam).
  */
object Bpe {

  /** Pair-key separator for the merge-rank lookup. U+0000 cannot occur
    * inside a symbol (symbols come from code-point splits of
    * whitespace-split words, and a merged symbol is a concatenation of
    * two symbols), so `a + Sep + b` is collision-free. Kept as an escape,
    * not a raw NUL byte: a literal 0x00 in the source makes git treat
    * the file as binary (undiffable) and renders invisibly in editors.
    */
  private val Sep = "\u0000"

  /** Ranked merge list; lower index = earlier (higher-priority) merge.
    * Executor-side rank lookup is built lazily per JVM from the
    * broadcast model.
    */
  final case class Model(merges: IndexedSeq[(String, String)]) {
    @transient lazy val ranks: java.util.HashMap[String, Int] = {
      val m = new java.util.HashMap[String, Int](merges.size * 2)
      var i = 0
      while (i < merges.size) {
        val (a, b) = merges(i)
        m.putIfAbsent(a + Sep + b, i)
        i += 1
      }
      m
    }
  }

  private[vigil] def splitCodePoints(word: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val n = Character.charCount(cp)
      out += word.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** One best-pair merge applied to a symbol array (all occurrences,
    * left-to-right, non-overlapping). Shared by trainer and encoder —
    * a divergence would make trained merges unreachable at encode time.
    */
  private[vigil] def applyMerge(syms: Array[String], a: String, b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** Train `numMerges` merges over the corpus word histogram.
    *
    * The distributed step is ONE aggregation (explode words → count by
    * form); the collected histogram is bounded by `maxWordForms` and the
    * bound fails loudly (the QualityClassifier maxFeatures stance — a
    * silently truncated vocabulary would skew every merge). Greedy step:
    * highest pair count wins, ties broken by the lexicographically
    * smallest pair, so training is deterministic regardless of partition
    * order; training stops early when the best pair count drops below
    * `minCount`.
    */
  def fit(df: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 2L, maxWordForms: Int = 2000000): Model = {
    val hist = df
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .collect()
    require(hist.length <= maxWordForms,
      s"Bpe.fit: ${hist.length} distinct word forms exceed maxWordForms=" +
        s"$maxWordForms — raise the bound (driver memory) or pre-clean the corpus")
    var words: Array[(Array[String], Long)] =
      hist.map(r => (splitCodePoints(r.getString(0)), r.getLong(1)))

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var m = 0
    var exhausted = false
    while (m < numMerges && !exhausted) {
      val pairCounts = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          pairCounts.merge(k, c, (x, y) => x + y)
          i += 1
        }
      }
      var best: (String, String) = null
      var bestC = 0L
      pairCounts.forEach { (k, c) =>
        if (c > bestC || (c == bestC && best != null &&
            (k._1 < best._1 || (k._1 == best._1 && k._2 < best._2)))) {
          best = k; bestC = c
        }
      }
      if (best == null || bestC < math.max(1L, minCount)) exhausted = true
      else {
        merges += best
        words = words.map { case (syms, c) =>
          (applyMerge(syms, best._1, best._2), c)
        }
        m += 1
      }
    }
    Model(merges.toIndexedSeq)
  }

  /** Encode one word with the ranked merges — the tokenizers-style loop:
    * repeatedly apply the present pair with the LOWEST rank until no
    * learned pair remains. Training order is replayed exactly, so a word
    * seen at fit time round-trips to its trained symbol sequence.
    */
  def encodeWord(word: String, model: Model): Array[String] = {
    var syms = splitCodePoints(word)
    val ranks = model.ranks
    var done = syms.length < 2 || ranks.isEmpty
    while (!done) {
      var bestRank = Int.MaxValue
      var bi = -1
      var i = 0
      while (i + 1 < syms.length) {
        val r = ranks.getOrDefault(syms(i) + Sep + syms(i + 1), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else {
        val (a, b) = model.merges(bestRank)
        syms = applyMerge(syms, a, b)
        if (syms.length < 2) done = true
      }
    }
    syms
  }

  /** Tokens + token count per row: `tokens: array<string>`, `n_tokens:
    * long`. With zero merges the tokens are the code points of each
    * word, so `n_tokens` degenerates to `length(replace(text,' ',''))` —
    * the SQL-pairable plumbing check.
    */
  def encode(df: DataFrame, textCol: String, model: Model): DataFrame = {
    val b = df.sparkSession.sparkContext.broadcast(model)
    df.withColumn("tokens", functions.bpe_encode(col(textCol), b))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
  }
}
