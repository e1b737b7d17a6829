package vigil

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lower
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.VigilShim

/** Catalyst expressions for the per-turn scoring hot path.
  *
  * Design (SURVEY.md §2.3 note M1): match offsets, anti-FP context windows
  * and cross-pattern dedupe cannot be expressed with regexp_* built-ins, so
  * ONE custom expression owns the whole per-row analysis and everything
  * downstream is plain column algebra over its output struct. The expression
  * is deterministic and uses CodegenFallback — it still runs pipelined
  * inside whole-stage-codegen stages; only fusion of this operator is lost,
  * which is irrelevant because java.util.regex dominates the per-row cost.
  *
  * All model/pattern state is JVM-static (object init) — at cluster scale
  * that is once per executor via classloading, with no broadcast traffic.
  */
object PiiSchema {
  /** Shared empty array value: most turns carry no detections/signals, and
    * GenericArrayData is immutable — one instance serves every row instead
    * of a fresh allocation per turn.
    */
  val EmptyArray = new GenericArrayData(Array.empty[Any])

  val detectionType: StructType = StructType(Seq(
    StructField("tipo", StringType, nullable = false),
    StructField("valor", StringType, nullable = false),
    StructField("confianca", DoubleType, nullable = false),
    StructField("beg", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false)
  ))
  val signalType: StructType = StructType(Seq(
    StructField("tipo", StringType, nullable = false),
    StructField("valor", StringType, nullable = false),
    StructField("confianca", DoubleType, nullable = false)
  ))
  val analysisType: StructType = StructType(Seq(
    StructField("clean", StringType, nullable = false),
    StructField("detalhes", ArrayType(detectionType, containsNull = false), nullable = false),
    StructField("sinais", ArrayType(signalType, containsNull = false), nullable = false),
    StructField("scrubbed", StringType, nullable = false)
  ))

  /** The 4 analysis struct values (clean, detalhes, sinais, scrubbed) for
    * one analyzed turn — the ONE implementation both PiiAnalyzeExpr and the
    * fused TurnScoreExpr build from, so the two paths cannot drift
    * (QualityExprSpec asserts their bit-equality). Includes the row-level
    * optimizations: shared empty arrays, and UTF8String reuse when
    * clean/scrub left the text unchanged (re-encoding the whole text is
    * DRAM-write traffic, the thread-scaling limiter).
    */
  private[vigil] def analysisValues(
      u8: UTF8String, raw: String, a: Analysis): Array[Any] = {
    val det =
      if (a.detalhes.isEmpty) EmptyArray
      else new GenericArrayData(a.detalhes.map { d =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(d.tipo), UTF8String.fromString(d.valor),
          d.confianca, d.beg, d.end))
      }.toArray[Any])
    val sig =
      if (a.sinais.isEmpty) EmptyArray
      else new GenericArrayData(a.sinais.map { s =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(s.tipo), UTF8String.fromString(s.valor),
          s.confianca))
      }.toArray[Any])
    val cleanU8 =
      if (u8 != null && (a.clean eq raw)) u8 else UTF8String.fromString(a.clean)
    val scrubU8 =
      if (a.scrubbed eq a.clean) cleanU8 else UTF8String.fromString(a.scrubbed)
    Array[Any](cleanU8, det, sig, scrubU8)
  }
}

/** text → struct(clean, detalhes, sinais, scrubbed) in a single pass. */
case class PiiAnalyzeExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = PiiSchema.analysisType
  override def nullable: Boolean = false
  override def prettyName: String = "pii_analyze"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val u8 = if (v == null) null else v.asInstanceOf[UTF8String]
    val raw = if (u8 == null) "" else u8.toString
    new GenericInternalRow(PiiSchema.analysisValues(u8, raw, PiiCore.detect(raw)))
  }

  override protected def withNewChildInternal(c: Expression): PiiAnalyzeExpr =
    copy(child = c)
}

/** text → NFKC + control-strip + whitespace-collapse + trim (P1-P4). */
case class CleanTextExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "clean_text"
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val u8 = if (v == null) null else v.asInstanceOf[UTF8String]
    val raw = if (u8 == null) "" else u8.toString
    val cleaned = TextClean.clean(raw)
    // zero-copy for already-clean text: skip the whole-string UTF-8
    // re-encode when clean() returned its input by reference
    if (u8 != null && (cleaned eq raw)) u8
    else UTF8String.fromString(cleaned)
  }
  override protected def withNewChildInternal(c: Expression): CleanTextExpr =
    copy(child = c)
}

/** text → struct(lang, lang_conf, perplexity): language ID and n-gram LM
  * perplexity share one character-trigram extraction pass (the profiled
  * hot path of the north rule).
  */
case class LangScoreExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LangScoreExpr.schema
  override def nullable: Boolean = false
  override def prettyName: String = "lang_score"
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val text = if (v == null) "" else v.asInstanceOf[UTF8String].toString
    val (lang, conf, ppl) = LangModel.scoreBoth(text)
    new GenericInternalRow(Array[Any](UTF8String.fromString(lang), conf, ppl))
  }
  override protected def withNewChildInternal(c: Expression): LangScoreExpr =
    copy(child = c)
}
object LangScoreExpr {
  val schema: StructType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("lang_conf", DoubleType, nullable = false),
    StructField("perplexity", DoubleType, nullable = false)
  ))
}

/** text → winnowing fingerprint array<long> in one imperative pass.
  *
  * Bit-identical to the pure-column TextStats.shingleHashes + winnow
  * composition (same lowercase/split/xxhash64-seed-42 semantics, verified
  * by test), but ~10× faster: the higher-order-function expression tree
  * pays per-element boxing and per-window slice allocation that a flat
  * loop does not. This is the documented escalation path: built-ins until
  * profiled, then a custom Expression for the hot spot.
  */
case class WinnowFingerprintExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "winnow_fingerprint"

  private def xx(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUTF8String(UTF8String.fromString(s), 42L)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val text = if (v == null) "" else v.asInstanceOf[UTF8String].toString
    val words =
      text.toLowerCase(java.util.Locale.ROOT).split(" ").filter(_.nonEmpty)
    val grams: Array[Long] =
      if (words.length >= k) {
        val out = new Array[Long](words.length - k + 1)
        var i = 0
        val sb = new java.lang.StringBuilder(64)
        while (i <= words.length - k) {
          sb.setLength(0)
          var j = 0
          while (j < k) {
            if (j > 0) sb.append(' ')
            sb.append(words(i + j)); j += 1
          }
          out(i) = xx(sb.toString); i += 1
        }
        out
      } else Array(xx(words.mkString(" ")))
    val fps =
      if (grams.length >= w) {
        val seen = new java.util.LinkedHashSet[java.lang.Long]()
        var i = 0
        while (i <= grams.length - w) {
          var m = grams(i)
          var j = 1
          while (j < w) { if (grams(i + j) < m) m = grams(i + j); j += 1 }
          seen.add(m); i += 1
        }
        val arr = new Array[Any](seen.size)
        val it = seen.iterator()
        var x = 0
        while (it.hasNext) { arr(x) = it.next().longValue(); x += 1 }
        arr
      } else {
        var m = grams(0)
        var i = 1
        while (i < grams.length) { if (grams(i) < m) m = grams(i); i += 1 }
        Array[Any](m)
      }
    new GenericArrayData(fps)
  }

  override protected def withNewChildInternal(c: Expression): WinnowFingerprintExpr =
    copy(child = c)
}

/** clean text → quality metrics + toxicity in one flat pass.
  *
  * Bit-compatible with the documented pure-column algebra
  * (Quality.metricsFromWords + Toxicity.isToxic) — equality-tested — but
  * one string traversal instead of ~10 higher-order-function trees. Used
  * on the scoring hot path; the column version remains the normative
  * specification.
  */
case class TurnStatsExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = TurnStatsExpr.schema
  override def nullable: Boolean = false
  override def prettyName: String = "turn_stats"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val text = if (v == null) "" else v.asInstanceOf[UTF8String].toString
    TurnStatsExpr.compute(text)
  }
  override protected def withNewChildInternal(c: Expression): TurnStatsExpr =
    copy(child = c)
}

object TurnStatsExpr {
  val schema: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("max_word_len", IntegerType, nullable = false),
    StructField("alpha_word_frac", DoubleType, nullable = false),
    StructField("symbol_word_ratio", DoubleType, nullable = false),
    StructField("dup_2gram_frac", DoubleType, nullable = false),
    StructField("toxic", BooleanType, nullable = false)
  ))

  /** `Character.getType` bits of the 7 Unicode P categories, the
    * categories `\p{P}` matches.
    */
  private val PunctTypes: Int = Seq(Character.CONNECTOR_PUNCTUATION,
    Character.DASH_PUNCTUATION, Character.START_PUNCTUATION,
    Character.END_PUNCTUATION, Character.INITIAL_QUOTE_PUNCTUATION,
    Character.FINAL_QUOTE_PUNCTUATION, Character.OTHER_PUNCTUATION)
    .foldLeft(0)((m, t) => m | (1 << t))
  @inline private def isPunct(cp: Int): Boolean =
    ((1 << Character.getType(cp)) & PunctTypes) != 0

  /** `s` without its leading and trailing runs of `\p{P}` code points:
    * what `s.replaceAll("^\\p{P}+|\\p{P}+$", "")` returns, in one walk
    * from each end. As that `$` does, the trailing run may also end just
    * before a line terminator (`\n`, `\r\n`, `\r`, U+0085, U+2028,
    * U+2029) that ends `s`; the terminator stays. Returns `s` itself when
    * nothing is stripped.
    */
  private[vigil] def stripEdgePunct(s: String): String = {
    val n = s.length
    if (n == 0) return s
    var b = 0
    var more = true
    while (more && b < n) {
      val cp = s.codePointAt(b)
      if (isPunct(cp)) b += Character.charCount(cp) else more = false
    }
    val last = s.charAt(n - 1)
    val e =
      if (last == '\n') { if (n >= 2 && s.charAt(n - 2) == '\r') n - 2 else n - 1 }
      else if (last == '\r' || last == '\u0085' || last == '\u2028' || last == '\u2029') n - 1
      else n
    var t = e
    more = true
    while (more && t > b) {
      val cp = s.codePointBefore(t)
      if (isPunct(cp)) t -= Character.charCount(cp) else more = false
    }
    if (b == 0 && t == e) s
    else if (e == n) s.substring(b, t)
    else s.substring(b, t) + s.substring(e)
  }
  private val ToxicSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Toxicity.Lexicon.foreach(s.add)
    s
  }
  private val LetterTypes: Int = Seq(Character.UPPERCASE_LETTER,
    Character.LOWERCASE_LETTER, Character.TITLECASE_LETTER,
    Character.MODIFIER_LETTER, Character.OTHER_LETTER).foldLeft(0)((m, t) => m | (1 << t))
  // \p{N} = Nd | Nl | No
  private val NumberTypes: Int = (1 << Character.DECIMAL_DIGIT_NUMBER) |
    (1 << Character.LETTER_NUMBER) | (1 << Character.OTHER_NUMBER)

  /** Whether `word`, lowercased and edge-stripped, is in the lexicon. */
  private def isToxicWord(word: String): Boolean = {
    val t = stripEdgePunct(word.toLowerCase(java.util.Locale.ROOT))
    t.nonEmpty && ToxicSet.contains(t)
  }

  /** Scratch of [[computeValues]]: each word's bounds and hash, its
    * number (the index of the first equal word), and the open-addressing
    * tables that number words and count distinct 2-grams.
    */
  private final class Words {
    var start = new Array[Int](64)
    var end = new Array[Int](64)
    var hash = new Array[Int](64)
    var id = new Array[Int](64)
    var n = 0
    var slots = new Array[Int](128)
    var pairs = new Array[Long](128)
    def add(s: Int, e: Int, h: Int): Unit = {
      if (n == start.length) {
        start = java.util.Arrays.copyOf(start, 2 * n)
        end = java.util.Arrays.copyOf(end, 2 * n)
        hash = java.util.Arrays.copyOf(hash, 2 * n)
        id = java.util.Arrays.copyOf(id, 2 * n)
      }
      start(n) = s; end(n) = e; hash(n) = h; n += 1
    }
  }
  /** Texts up to this many chars (≤ 2^13 words) use the per-thread
    * scratch, so it stays at most ~0.3 MB; a longer text (a whole document)
    * gets its own.
    */
  private[vigil] val PooledChars = 1 << 14
  private val tlWords = ThreadLocal.withInitial[Words](() => new Words)
  /** Words the current thread's scratch holds room for. */
  private[vigil] def pooledWordCapacity: Int = tlWords.get().start.length
  @inline private def mix(h: Long): Int = {
    val x = h * 0x9E3779B97F4A7C15L
    (x ^ (x >>> 32)).toInt
  }

  /** 1 - distinct/total over the adjacent word pairs of `text`, words as
    * `ws` holds them; equal pairs are equal `w1 + " " + w2` strings, as
    * words hold no ' '.
    */
  private def dup2gramFrac(text: String, ws: Words): Double = {
    val nWords = ws.n
    var cap = 16
    while (cap < 2 * nWords) cap <<= 1
    if (ws.slots.length < cap) ws.slots = new Array[Int](cap)
    else java.util.Arrays.fill(ws.slots, 0, cap, 0)
    if (ws.pairs.length < cap) ws.pairs = new Array[Long](cap)
    else java.util.Arrays.fill(ws.pairs, 0, cap, 0L)
    val mask = cap - 1
    // number each word: slots hold word index + 1, 0 = empty
    var w = 0
    while (w < nWords) {
      val len = ws.end(w) - ws.start(w)
      var sl = mix(ws.hash(w)) & mask
      var id = -1
      while (id < 0 && ws.slots(sl) != 0) {
        val o = ws.slots(sl) - 1
        if (ws.hash(o) == ws.hash(w) && ws.end(o) - ws.start(o) == len &&
            text.regionMatches(ws.start(o), text, ws.start(w), len)) id = ws.id(o)
        else sl = (sl + 1) & mask
      }
      if (id < 0) { ws.slots(sl) = w + 1; id = w }
      ws.id(w) = id
      w += 1
    }
    // distinct (id, next id) pairs: key (id1 + 1, id2 + 1), 0 = empty
    val total = nWords - 1
    var distinct = 0
    var g = 0
    while (g < total) {
      val key = ((ws.id(g) + 1).toLong << 32) | (ws.id(g + 1) + 1).toLong
      var sl = mix(key) & mask
      while (ws.pairs(sl) != 0L && ws.pairs(sl) != key) sl = (sl + 1) & mask
      if (ws.pairs(sl) == 0L) { ws.pairs(sl) = key; distinct += 1 }
      g += 1
    }
    1.0 - distinct.toDouble / total
  }

  def compute(text: String): InternalRow =
    new GenericInternalRow(computeValues(text))

  /** The 8 stats in one walk over `text`'s code points. Words are the
    * maximal runs of chars other than ' ' (`split(" ")` without the
    * empties; clean text is already whitespace-collapsed); lengths count
    * code points (Spark `length()`). A symbol is a code point that is
    * neither a letter, a number (N*) nor ' '. The toxic check looks at a
    * word's lowercased, edge-`\p{P}`-stripped token; a word of ASCII
    * lowercase letters is its own token.
    */
  private[vigil] def computeValues(text: String): Array[Any] = {
    val ws = if (text.length > PooledChars) new Words else tlWords.get()
    ws.n = 0
    val n = text.length
    var nChars = 0
    var sumLen = 0
    var maxLen = 0
    var alphaWords = 0
    var symbols = 0
    var toxic = false
    var i = 0
    while (i < n) {
      if (text.charAt(i) == ' ') { nChars += 1; i += 1 }
      else {
        // one word: [s, i)
        val s = i
        var wl = 0
        var h = 0
        var hasLetter = false
        var lower = true
        while (i < n && text.charAt(i) != ' ') {
          val c = text.charAt(i)
          h = 31 * h + c
          if (c < 'a' || c > 'z') lower = false
          val cp =
            if (Character.isHighSurrogate(c) && i + 1 < n &&
                Character.isLowSurrogate(text.charAt(i + 1))) {
              h = 31 * h + text.charAt(i + 1)
              i += 2
              Character.toCodePoint(c, text.charAt(i - 1))
            } else { i += 1; c.toInt }
          val t = 1 << Character.getType(cp)
          if ((t & LetterTypes) != 0) hasLetter = true
          else if ((t & NumberTypes) == 0) symbols += 1
          wl += 1
        }
        ws.add(s, i, h)
        nChars += wl
        sumLen += wl
        if (wl > maxLen) maxLen = wl
        if (hasLetter) alphaWords += 1
        if (!toxic) {
          val w = text.substring(s, i)
          toxic = if (lower) ToxicSet.contains(w) else isToxicWord(w)
        }
      }
    }
    val nWords = ws.n
    val meanWordLen = if (nWords > 0) sumLen.toDouble / nWords else 0.0
    val alphaFrac = if (nWords > 0) alphaWords.toDouble / nWords else 0.0
    val symbolRatio = if (nWords > 0) symbols.toDouble / nWords else 0.0
    val dup2 = if (nWords >= 2) dup2gramFrac(text, ws) else 0.0
    Array[Any](
      nWords, nChars, meanWordLen, maxLen, alphaFrac, symbolRatio, dup2, toxic)
  }
}

/** text → the ENTIRE per-turn scoring struct in one pass: PII analysis +
  * scrub, langid + perplexity, quality metrics + toxicity.
  *
  * Fusion rationale (measured, BENCH/BASELINE.md): composed as three
  * expressions, the cleaned text crosses the expression boundary as a
  * UTF8String and is re-decoded to a java String by BOTH LangScoreExpr and
  * TurnStatsExpr — two whole-text UTF-8→UTF-16 copies per turn. At 32
  * threads the narrow stage is DRAM-bandwidth-bound, so those copies cost
  * thread-scaling, not just time. This expression decodes once, cleans
  * once, and feeds the SAME String to all three kernels — bit-identical
  * output to the composed path (equality-tested in QualityExprSpec).
  *
  * It also folds the reference keep/drop summary over the detections it
  * already holds (contem_pii, tipos_detectados in first-occurrence order,
  * confianca_max — null without real PII, like `array_max` of an empty
  * array — and has_extended_pii): four interpreted higher-order functions
  * over `detalhes` cost more per turn than the fold (QualityExprSpec
  * locks it equal to that algebra).
  */
case class TurnScoreExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = TurnScoreExpr.schema
  override def nullable: Boolean = false
  override def prettyName: String = "turn_score"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val u8 = if (v == null) null else v.asInstanceOf[UTF8String]
    val raw = if (u8 == null) "" else u8.toString
    val a = PiiCore.detect(raw)
    val analysis = PiiSchema.analysisValues(u8, raw, a)
    val (lang, conf, ppl) = LangModel.scoreBoth(a.clean)
    val stats = TurnStatsExpr.computeValues(a.clean)
    val n = 4 + 3 + stats.length
    val out = new Array[Any](n + 4)
    System.arraycopy(analysis, 0, out, 0, 4)
    out(4) = UTF8String.fromString(lang); out(5) = conf; out(6) = ppl
    System.arraycopy(stats, 0, out, 7, stats.length)
    TurnScoreExpr.summarize(a.detalhes, out, n)
    new GenericInternalRow(out)
  }

  override protected def withNewChildInternal(c: Expression): TurnScoreExpr =
    copy(child = c)
}
object TurnScoreExpr {
  private val summaryType: StructType = StructType(Seq(
    StructField("contem_pii", BooleanType, nullable = false),
    StructField("tipos_detectados", ArrayType(StringType, containsNull = false),
      nullable = false),
    StructField("confianca_max", DoubleType, nullable = true),
    StructField("has_extended_pii", BooleanType, nullable = false)
  ))
  val schema: StructType = StructType(
    PiiSchema.analysisType.fields ++ LangScoreExpr.schema.fields ++
      TurnStatsExpr.schema.fields ++ summaryType.fields)

  /** Writes the [[summaryType]] values at out(at until at + 4): only the
    * real types flip contem_pii (reference detector.py:330-366); the
    * extended types count over every detection.
    */
  private def summarize(dets: Seq[Detection], out: Array[Any], at: Int): Unit = {
    var tipos: List[String] = Nil
    var maxConf = 0.0
    var extended = false
    dets.foreach { d =>
      if (PiiTypes.Real.contains(d.tipo)) {
        if (tipos.isEmpty || d.confianca > maxConf) maxConf = d.confianca
        if (!tipos.contains(d.tipo)) tipos = d.tipo :: tipos
      } else if (PiiTypes.Extended.contains(d.tipo)) extended = true
    }
    out(at) = tipos.nonEmpty
    out(at + 1) =
      if (tipos.isEmpty) PiiSchema.EmptyArray
      else new GenericArrayData(tipos.reverseIterator.map(UTF8String.fromString).toArray[Any])
    out(at + 2) = if (tipos.isEmpty) null else maxConf
    out(at + 3) = extended
  }
}

/** (clean, detalhes) → the turn's consolidated human-review items, in
  * arrival order: array of struct(tipo_pii, valor_detectado, score, motivo,
  * prioridade, arrival): a detail's `tipo` and `valor` as typed in the
  * detail struct, its double `confianca` as the score. One row's fold of what
  * [[Review.reviewTable]] used to spread over six `rlike` columns, two
  * posexplodes and a `(conv_id, turn_idx, lower(valor))` window:
  *  - H1: each detail's score against `low`/`high` ([[Review.ScoreLow]],
  *    [[Review.ScoreMid]]; a null or NaN score gives no band, as the
  *    column comparisons do);
  *  - H2: for a `nome` detail, the [[Review.ContextFamilies]] that `find()`
  *    in `clean` (as `rlike` does) and the bidirectional substring match of
  *    its lowercased value against [[Review.KnownArtists]]. The family
  *    patterns run at most once per turn, and only if it has a `nome`
  *    detail;
  *  - W1: per lowercased value (null values form one group), the item with
  *    the smallest ([[Review.ReasonRank]], arrival), where arrival =
  *    det_idx·16 + reason_idx, det_idx counting every element (nulls
  *    included) and reason_idx the detail's emitted reasons.
  *
  * Values are lowercased by the code Spark's `Lower` runs
  * (`CollationSupport.Lower` under the session's ICU case-mapping flag),
  * so the consolidation key is `lower(valor)` byte for byte; substring and
  * key comparisons are binary, as under the default collation.
  */
case class ReviewItemsExpr(
    clean: Expression,
    detalhes: Expression,
    low: Double = Review.Default.lowConfidenceThreshold,
    high: Double = Review.Default.highConfidenceThreshold)
    extends BinaryExpression with CodegenFallback {
  import ReviewItemsExpr._

  override def left: Expression = clean
  override def right: Expression = detalhes
  override def nullable: Boolean = false
  override def prettyName: String = "review_items"

  private def detail: StructType = detalhes.dataType match {
    case ArrayType(s: StructType, _)
        if s.fields.exists(f => f.name == "confianca" && f.dataType == DoubleType) => s
    case t => throw new IllegalArgumentException(
      s"review_items: detalhes is $t, not an array of struct<tipo, valor, confianca: double>")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tipo_pii", detail("tipo").dataType),
    StructField("valor_detectado", detail("valor").dataType),
    StructField("score", DoubleType),
    StructField("motivo", StringType, nullable = false),
    StructField("prioridade", StringType, nullable = false),
    StructField("arrival", IntegerType, nullable = false))), containsNull = false)

  @transient private lazy val nFields = detail.length
  @transient private lazy val tipoAt = detail.fieldIndex("tipo")
  @transient private lazy val valorAt = detail.fieldIndex("valor")
  @transient private lazy val scoreAt = detail.fieldIndex("confianca")
  @transient private lazy val collationId =
    detail("valor").dataType.asInstanceOf[StringType].collationId
  @transient private lazy val useICU = org.apache.spark.sql.internal.SQLConf.get
    .getConf(org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def eval(input: InternalRow): Any = {
    val d = detalhes.eval(input)
    if (d == null) return PiiSchema.EmptyArray
    val dets = d.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = dets.numElements()
    var families: Array[Boolean] = null
    // W1 groups: lowercased value → index of its current winner in `items`
    val groups = new java.util.HashMap[UTF8String, Integer]()
    var nullGroup = -1
    val items = scala.collection.mutable.ArrayBuffer.empty[Item]
    var i = 0
    while (i < n) {
      if (!dets.isNullAt(i)) {
        val e = dets.getStruct(i, nFields)
        val valor = if (e.isNullAt(valorAt)) null else e.getUTF8String(valorAt)
        var key: UTF8String = null
        var emitted = 0
        def emit(reason: Int): Unit = {
          if (key == null && valor != null) key = lowerOf(valor)
          val it = Item(e, reason, i * 16 + emitted)
          emitted += 1
          val at = if (valor == null) nullGroup else {
            val g = groups.get(key); if (g == null) -1 else g.intValue
          }
          // arrival grows with i and emitted: a strictly smaller rank is
          // the only way a later item wins, so the first-seen wins ties
          if (at < 0) {
            if (valor == null) nullGroup = items.length
            else groups.put(key, items.length)
            items += it
          } else if (Rank(reason) < Rank(items(at).reason)) items(at) = it
        }
        if (!e.isNullAt(scoreAt)) {
          val s = e.getDouble(scoreAt)
          if (s < low) emit(ScoreLowAt) else if (s < high) emit(ScoreMidAt)
        }
        if (!e.isNullAt(tipoAt) && e.getUTF8String(tipoAt) == Nome) {
          if (families == null) families = familiesIn(clean.eval(input))
          if (families(0)) emit(FamilyAt)
          if (valor != null) {
            if (key == null) key = lowerOf(valor)
            if (isKnownArtist(key)) emit(FamilyAt)
          }
          var f = 1
          while (f < families.length) {
            if (families(f)) emit(FamilyAt + f)
            f += 1
          }
        }
      }
      i += 1
    }
    if (items.isEmpty) PiiSchema.EmptyArray
    else new GenericArrayData(items.sortBy(_.arrival).map { it =>
      val e = it.detail
      new GenericInternalRow(Array[Any](
        if (e.isNullAt(tipoAt)) null else e.getUTF8String(tipoAt).copy(),
        if (e.isNullAt(valorAt)) null else e.getUTF8String(valorAt).copy(),
        if (e.isNullAt(scoreAt)) null else e.getDouble(scoreAt),
        Motivo(it.reason), Prioridade(it.reason), it.arrival))
    }.toArray[Any])
  }

  private def lowerOf(v: UTF8String): UTF8String =
    org.apache.spark.sql.catalyst.util.CollationSupport.Lower.exec(v, collationId, useICU)

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ReviewItemsExpr = copy(clean = l, detalhes = r)
}

object ReviewItemsExpr {
  /** One emitted reason of a detail; `reason` indexes [[Reasons]]. */
  private final case class Item(detail: InternalRow, reason: Int, arrival: Int)

  /** H1's two reasons, then the six families' (the order of
    * [[Review.ContextFamilies]]). */
  private val Reasons: IndexedSeq[(String, String)] =
    (Review.ScoreLow +: Review.ScoreMid +: Review.ContextFamilies.map(_.reason)).toIndexedSeq
  private val ScoreLowAt = 0
  private val ScoreMidAt = 1
  private val FamilyAt = 2
  private val Motivo: Array[UTF8String] = Reasons.map(r => UTF8String.fromString(r._1)).toArray
  private val Prioridade: Array[UTF8String] =
    Reasons.map(r => UTF8String.fromString(r._2)).toArray
  private val Rank: Array[Int] = Reasons.map(r => Review.ReasonRank.getOrElse(r._1, 99)).toArray

  private val Nome = UTF8String.fromString("nome")
  private val Families: Array[java.util.regex.Pattern] =
    Review.ContextFamilies.map(f => java.util.regex.Pattern.compile(f.pattern)).toArray
  private val KnownArtists: Array[UTF8String] =
    Review.KnownArtists.map(UTF8String.fromString).toArray

  private def familiesIn(clean: Any): Array[Boolean] =
    if (clean == null) new Array[Boolean](Families.length)
    else {
      val text = clean.toString
      Families.map(_.matcher(text).find(0))
    }

  private def isKnownArtist(lowered: UTF8String): Boolean =
    KnownArtists.exists(a => lowered.contains(a) || a.contains(lowered))
}

/** text → char-weighted word-n-gram repetition counters in ONE flat pass:
  * for each n in `ns`, (top{n}_chars, dup{n}_chars, tot{n}_chars) plus the
  * text's code-point count — the numerators/denominators of
  * Quality.repetitionStats' fractions.
  *
  * Fusion rationale: the stats are strictly PER-DOCUMENT, so the normative
  * column-algebra shape (explode n-grams → two hash aggregations) pays two
  * exchanges for what a per-row hash map computes in place — bounded by
  * the document's own gram count, the same bound the aggregation's
  * per-group state had. Bit-equality with the column algebra is locked in
  * QualityExprSpec; the column formulation stays normative (its tie-break
  * is max (cnt, char-mass), reproduced here exactly). Lengths are code
  * points (Spark `length()` parity).
  */
case class RepetitionStatsExpr(child: Expression, ns: Seq[Int])
    extends UnaryExpression with CodegenFallback {
  require(ns.nonEmpty && ns.forall(_ >= 2) && ns.distinct == ns,
    s"ns must be distinct n-gram sizes >= 2, got $ns")
  override def dataType: DataType = RepetitionStatsExpr.schema(ns)
  override def nullable: Boolean = false
  override def prettyName: String = "repetition_stats"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val text = if (v == null) "" else v.asInstanceOf[UTF8String].toString
    RepetitionStatsExpr.compute(text, ns)
  }
  override protected def withNewChildInternal(c: Expression): RepetitionStatsExpr =
    copy(child = c)
}

object RepetitionStatsExpr {
  def schema(ns: Seq[Int]): StructType = StructType(
    ns.flatMap(n => Seq(
      StructField(s"top${n}_chars", LongType, nullable = false),
      StructField(s"dup${n}_chars", LongType, nullable = false),
      StructField(s"tot${n}_chars", LongType, nullable = false))) :+
      StructField("n_chars", LongType, nullable = false))

  private[vigil] def compute(text: String, ns: Seq[Int]): InternalRow = {
    val words = text.split(" ").filter(_.nonEmpty)
    val nWords = words.length
    // per-word code-point lengths, computed once
    val wl = new Array[Int](nWords)
    var i = 0
    while (i < nWords) {
      wl(i) = words(i).codePointCount(0, words(i).length); i += 1
    }
    val out = new Array[Any](3 * ns.length + 1)
    var f = 0
    ns.foreach { n =>
      var topCnt = 0L
      var topChars = 0L
      var dup = 0L
      var tot = 0L
      if (nWords >= n) {
        val total = nWords - n + 1
        // gram → (count, gram code points); string key keeps equality exact
        val m = new java.util.HashMap[String, Array[Long]](total * 2)
        val sb = new java.lang.StringBuilder(64)
        var g = 0
        while (g < total) {
          sb.setLength(0)
          var k = 0
          var cp = n - 1 // n-1 separator spaces
          while (k < n) {
            if (k > 0) sb.append(' ')
            sb.append(words(g + k))
            cp += wl(g + k)
            k += 1
          }
          val key = sb.toString
          val slot = m.get(key)
          if (slot == null) m.put(key, Array(1L, cp.toLong))
          else slot(0) += 1L
          g += 1
        }
        val it = m.values().iterator()
        while (it.hasNext) {
          val slot = it.next()
          val cnt = slot(0)
          val chars = cnt * slot(1)
          // tie-break parity with max(struct(cnt, gchars))
          if (cnt > topCnt || (cnt == topCnt && chars > topChars)) {
            topCnt = cnt; topChars = chars
          }
          if (cnt > 1L) dup += chars
          tot += chars
        }
      }
      out(f) = topChars; out(f + 1) = dup; out(f + 2) = tot
      f += 3
    }
    out(f) = text.codePointCount(0, text.length).toLong
    new GenericInternalRow(out)
  }
}

/** Cosine similarity of two array<double> columns in ONE flat loop.
  *
  * Bit-identical to the higher-order-function formulation it replaces
  * (`aggregate(zip_with(a,b,_*_), 0.0, _+_) / (sqrt(Σx²) · sqrt(Σy²))`):
  * the accumulation is the same sequential left fold in the same order, the
  * denominator multiplies the two sqrts (NOT sqrt of the product — a
  * one-ulp difference that would break DuckDB list_cosine_similarity
  * hash-parity, proven bit-identical for the fold shape in r2), and
  * zero-norm inputs yield 0.0. The HOF path re-enters the lambda
  * interpreter per ELEMENT (~30 µs per 64-dim pair — 5.5 s of the 9 s
  * q_cosine_neardup wall at sf0.1 went to it); this is a plain while loop.
  * Null array or length mismatch → null, null element → null (zip_with
  * parity).
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CosineSimExpr = copy(left = l, right = r)
}

/** |A ∩ B| of two SORTED string arrays in one merge walk.
  *
  * The dedup verifier computes word-set Jaccard for every LSH candidate
  * pair; `array_intersect`/`array_union` build a hash set AND materialize a
  * result array per pair (~10-20 µs on ~300-token documents — the dominant
  * cost of q_neardup_verified at 1M candidate pairs). With both inputs
  * sorted (one `array_sort` per DOCUMENT, amortized over all its pairs)
  * the intersection SIZE is a linear merge of UTF8String comparisons with
  * zero allocation, and |A ∪ B| = |A| + |B| - |A ∩ B| needs no second
  * pass. Inputs MUST be sorted and duplicate-free (the verifier's
  * array_sort ∘ array_distinct projection guarantees it); null array →
  * null, null element → treated as smallest (array_sort order).
  */
case class SortedIntersectSizeExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  // element type decides the merge-walk comparator: array<string> is the
  // normative token shape; array<long> is the hashed-token fast path
  // (vigil.dedup.Dedup.sortedGramTokenHashes — raw 8-byte compares, no
  // UTF8String materialization per element). The threshold-aborting
  // variant of this walk lives in [[SortedJaccardGeExpr]] (which also
  // fuses the jaccard division); this expression is the unthresholded
  // normative twin the specs brute-compare against.
  private lazy val longElems: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var same = 0
    if (longElems) {
      while (i < nx && j < ny) {
        val xi = x.getLong(i); val yj = y.getLong(j)
        if (xi == yj) { same += 1; i += 1; j += 1 }
        else if (xi < yj) i += 1
        else j += 1
      }
    } else {
      while (i < nx && j < ny) {
        val xi = x.getUTF8String(i); val yj = y.getUTF8String(j)
        val c =
          if (xi == null) { if (yj == null) 0 else -1 }
          else if (yj == null) 1
          else xi.compareTo(yj)
        if (c == 0) { same += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    same
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectSizeExpr =
    copy(left = l, right = r)
}

/** Fused threshold jaccard: the [[SortedIntersectSizeExpr]] merge walk and
  * the |A∩B| / (|A|+|B|-|A∩B|) division in ONE expression, returning the
  * jaccard DOUBLE (or -1.0 when the walk proves J < minJaccard, or when
  * both sets are empty — |A∪B| = 0 divided to NaN before, equally dropped
  * by the callers' `jaccard >= t` filter; null input → null as before).
  * Survivor arithmetic is bit-identical to the unfused shape: the walk
  * completes for every pair that can reach t, and
  * `same.toDouble / (nx+ny-same).toDouble` is the same int-exact division
  * Catalyst ran on the separate columns.
  *
  * Deliberately REPORTED non-deterministic (the function is pure): the
  * verify pipelines alias this walk and filter on `jaccard >= t`, and the
  * optimizer pushes that filter through the pair join, inlining the walk
  * into the join CONDITION — numerator and denominator separately, plus
  * the output projection = 2-3 full merge walks per candidate pair
  * (measured in the r7 plans: `sorted_intersect_size` appeared twice in
  * the BroadcastHashJoin condition and once in the Project above it; the
  * guide's §4.4 expensive-expression duplication, in Catalyst rather than
  * Python). Marking it non-deterministic keeps the alias in a single
  * Project above the join — exactly ONE walk per candidate pair — at the
  * cost of blocking filter pushdown through that projection, which is
  * precisely the point. The value is identical either way; only plan
  * shape changes (DedupAnnSpec locks fused ≡ unfused output).
  */
case class SortedJaccardGeExpr(left: Expression, right: Expression,
    minJaccard: Double)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard_ge"
  override lazy val deterministic: Boolean = false

  private lazy val longElems: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var same = 0
    // threshold abort (sound): with s matched so far, the best final
    // intersection is s + min(remaining); J = s/(|A|+|B|-s) is monotone
    // in s, so J ≥ t is impossible once that bound drops below
    // t·(|A|+|B|)/(1+t). The epsilon keeps a pair EXACTLY at threshold
    // from a spurious abort; pairs that finish ≥ t always complete the
    // full walk (exact output), only provably-below-threshold pairs get
    // the sentinel. At step 0 the bound equals the lossless length
    // prefilter min(|A|,|B|) ≥ t·max(|A|,|B|).
    val need: Double =
      if (minJaccard > 0) minJaccard * (nx + ny) / (1.0 + minJaccard) - 1e-9
      else -1.0
    if (longElems) {
      while (i < nx && j < ny) {
        if (same + math.min(nx - i, ny - j) < need) return -1.0
        val xi = x.getLong(i); val yj = y.getLong(j)
        if (xi == yj) { same += 1; i += 1; j += 1 }
        else if (xi < yj) i += 1
        else j += 1
      }
    } else {
      while (i < nx && j < ny) {
        if (same + math.min(nx - i, ny - j) < need) return -1.0
        val xi = x.getUTF8String(i); val yj = y.getUTF8String(j)
        val c =
          if (xi == null) { if (yj == null) 0 else -1 }
          else if (yj == null) 1
          else xi.compareTo(yj)
        if (c == 0) { same += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    val union = nx + ny - same
    if (union == 0) -1.0 else same.toDouble / union.toDouble
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedJaccardGeExpr =
    copy(left = l, right = r)
}

/** Pass-through wrapper that REPORTS non-determinism (the child stays
  * pure): value, type and nullability are exactly the child's. Wrapping an
  * expensive aliased expression stops the optimizer pushing a filter on
  * the alias through the projection (and into a join condition), which
  * would re-evaluate the child once in the condition and again in the
  * output projection — the guide's §4.4 duplicate-evaluation trap.
  *
  * CAVEAT: a projection containing this blocks pushdown of EVERY
  * predicate through it, including cheap ones a downstream caller
  * filters by (PushPredicateThroughNonJoin requires the whole projection
  * deterministic). Place cheap prunable predicates BELOW the wrapped
  * projection yourself (e.g. jaccardPairs keeps its length prefilter in
  * the join condition), and only wrap where the child is genuinely
  * expensive per row (a vector fold, a merge walk).
  */
case class EvalOnceExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "eval_once"
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def withNewChildInternal(c: Expression): EvalOnceExpr =
    copy(child = c)
}

/** Element-wise sum of fixed-dim array<double> vectors — one
  * TypedImperativeAggregate with a flat-loop update instead of `dim`
  * separate avg/sum columns (the IVF centroid step aggregated 64 avg
  * columns PER Lloyd iteration: a fresh 64-column codegen stage each
  * time, with per-column `element_at` extraction; this is one buffer add
  * per row). Partial buffers merge element-wise, exactly like the
  * per-column partial sums they replace. Null or wrong-length inputs are
  * skipped (matching avg's null-skipping); an empty group yields the
  * zero vector.
  */
case class VectorSumAgg(
    child: Expression, dim: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[Array[Double]] {
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vector_sum"

  override def createAggregationBuffer(): Array[Double] = new Array[Double](dim)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      if (a.numElements() == dim) {
        var i = 0
        while (i < dim) { buf(i) += a.getDouble(i); i += 1 }
      }
    }
    buf
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    var i = 0
    while (i < dim) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(dim * 8)
    var i = 0
    while (i < dim) { bb.putDouble(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Double](dim)
    var i = 0
    while (i < dim) { out(i) = bb.getDouble(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): VectorSumAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorSumAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): VectorSumAgg = copy(child = cs.head)
}

/** Majority language as struct(cnt, lang): a string column's most frequent
  * value and its count, from one small hash map per group. Ties go to the
  * largest value (UTF-8 byte order, Spark's string order) and a null value
  * ranks below every string — exactly `max(struct(cnt, lang))` over a
  * per-value count, which needs a second sort on (group, value) to build.
  * Null input values are counted as one value, as that `count` groups
  * them. An empty group yields null.
  */
case class LangModeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[java.util.HashMap[UTF8String, Array[Long]]] {
  private type Counts = java.util.HashMap[UTF8String, Array[Long]]
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("cnt", LongType, nullable = false),
    StructField("lang", StringType, nullable = true)))
  override def prettyName: String = "lang_mode"

  override def createAggregationBuffer(): Counts = new Counts()

  private def add(buf: Counts, k: UTF8String, n: Long): Unit = {
    val c = buf.get(k)
    // a key read from an UnsafeRow points into reused memory: store a copy
    if (c == null) buf.put(if (k == null) null else k.clone(), Array(n))
    else c(0) += n
  }

  override def update(buf: Counts, input: InternalRow): Counts = {
    add(buf, child.eval(input).asInstanceOf[UTF8String], 1L)
    buf
  }

  override def merge(b1: Counts, b2: Counts): Counts = {
    b2.forEach((k, c) => add(b1, k, c(0)))
    b1
  }

  override def eval(buf: Counts): Any = {
    var best: UTF8String = null
    var bestCnt = 0L
    buf.forEach { (k, c) =>
      if (LangModeAgg.beats(k, c(0), best, bestCnt)) { best = k; bestCnt = c(0) }
    }
    if (bestCnt == 0L) null else new GenericInternalRow(Array[Any](bestCnt, best))
  }

  override def serialize(buf: Counts): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.forEach { (k, c) =>
      if (k == null) out.writeInt(-1)
      else { val b = k.getBytes; out.writeInt(b.length); out.write(b) }
      out.writeLong(c(0))
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Counts = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = new Counts()
    var i = in.readInt()
    while (i > 0) {
      val len = in.readInt()
      val k =
        if (len < 0) null
        else { val b = new Array[Byte](len); in.readFully(b); UTF8String.fromBytes(b) }
      buf.put(k, Array(in.readLong()))
      i -= 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): LangModeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): LangModeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): LangModeAgg = copy(child = cs.head)
}

object LangModeAgg {
  /** The mode's order: whether `lang` seen `n` times beats the best so
    * far, `best` seen `bestCnt` times. A higher count wins; on equal counts
    * the larger lang in UTF-8 byte order wins, and a null lang is lowest.
    * `LangModeAgg` and the streaming conversation state both pick with it.
    */
  def beats(lang: UTF8String, n: Long, best: UTF8String, bestCnt: Long): Boolean =
    n > bestCnt ||
      (n == bestCnt && lang != null && (best == null || lang.compareTo(best) > 0))
}

/** Flat-loop twin of [[Decontam]]'s normative gram-overlap column algebra
  * (`gramsCol` + distinct-matched count): one pass over the ALREADY
  * LOWERCASED text (lowercasing stays in column space — `lower()` — so
  * tokenization parity with `split(lower(text), " ")` is byte-exact),
  * split on single spaces, slide the n-window building each gram once in
  * a reused StringBuilder, count grams present in the broadcast benchmark
  * set — de-duplicated with a matched-grams-only HashSet, so memory is
  * bounded by the doc's MATCHES, not its gram count. Exists because the
  * column formulation pays the per-element HOF interpreter re-entry for
  * every gram (`transform(sequence…, slice+concat_ws)` — the r3 lesson);
  * DecontamSpec locks this path bit-equal to the explode+semi-join
  * formulation, which stays the normative spec.
  */
case class GramOverlapCountExpr(
    child: Expression, n: Int,
    bench: org.apache.spark.broadcast.Broadcast[java.util.HashSet[String]])
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "gram_overlap_count"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val text = if (v == null) "" else v.asInstanceOf[UTF8String].toString
    val words = text.split(" ").filter(_.nonEmpty)
    val total = words.length - n + 1
    if (total <= 0) 0L
    else {
      val set = bench.value
      var c = 0L
      var seen: java.util.HashSet[String] = null
      val sb = new java.lang.StringBuilder(64)
      var g = 0
      while (g < total) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(words(g + k))
          k += 1
        }
        val gram = sb.toString
        if (set.contains(gram)) {
          if (seen == null) seen = new java.util.HashSet[String]()
          if (seen.add(gram)) c += 1L
        }
        g += 1
      }
      c
    }
  }
  override protected def withNewChildInternal(c: Expression): GramOverlapCountExpr =
    copy(child = c)
}

/** Contaminated-span scrub — the GPT-3-style decontamination variant
  * (Brown et al. 2020 §C remove text around benchmark collisions instead
  * of dropping documents): every word covered by ANY benchmark-matching
  * n-gram window is removed, the survivors are rejoined with single
  * spaces. Matching runs over the LOWERCASED text (right child — kept in
  * column space as `lower(text)` for parity with the benchmark gram set),
  * removal over the ORIGINAL words (left child): no lowercase mapping
  * adds or removes U+0020, so the two space-split word sequences index
  * identically even where a mapping changes a word's length. Emits
  * (clean_text, n_words, n_removed). Flat loop, one pass, same
  * HOF-avoidance rationale as [[GramOverlapCountExpr]].
  */
case class GramScrubExpr(
    left: Expression, right: Expression, n: Int,
    bench: org.apache.spark.broadcast.Broadcast[java.util.HashSet[String]])
    extends BinaryExpression with CodegenFallback {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = GramScrubExpr.schema
  override def nullable: Boolean = false
  override def prettyName: String = "gram_scrub"

  override def eval(input: InternalRow): Any = {
    val lv = left.eval(input)
    val rv = right.eval(input)
    val text = if (lv == null) "" else lv.asInstanceOf[UTF8String].toString
    val low = if (rv == null) "" else rv.asInstanceOf[UTF8String].toString
    val words = text.split(" ").filter(_.nonEmpty)
    val lws = low.split(" ").filter(_.nonEmpty)
    val nw = math.min(words.length, lws.length) // equal by construction
    val drop = new Array[Boolean](nw)
    val total = nw - n + 1
    if (total > 0) {
      val set = bench.value
      val sb = new java.lang.StringBuilder(64)
      var g = 0
      while (g < total) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(lws(g + k))
          k += 1
        }
        if (set.contains(sb.toString)) {
          var k2 = 0
          while (k2 < n) { drop(g + k2) = true; k2 += 1 }
        }
        g += 1
      }
    }
    val out = new java.lang.StringBuilder(text.length)
    var removed = 0L
    var i = 0
    var first = true
    while (i < nw) {
      if (drop(i)) removed += 1L
      else {
        if (!first) out.append(' ')
        out.append(words(i))
        first = false
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(out.toString), nw.toLong, removed))
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): GramScrubExpr = copy(left = l, right = r)
}

object GramScrubExpr {
  val schema: StructType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))
}

/** All L-codepoint window hashes of a string — the per-doc kernel of the
  * ExactSubstr repeated-span dedup ([[vigil.dedup.SpanDedup]]; Lee et al.
  * 2021 find substrings repeated corpus-wide with a suffix array — a
  * single-machine structure; the distributed equivalent inventories
  * fixed-length windows). Emits `array<struct<h1,h2>>`, element i = the
  * two independent 64-bit polynomial rolling hashes of codepoints
  * [i, i+n): O(len) per doc total, not O(len·n) — the whole corpus is
  * hashed in one narrow pass and only (id, pos, h1, h2) rows ever reach
  * an exchange, never window text. Windows and positions are in Unicode
  * CODE POINTS (matching `length`/`substring` semantics on both engines,
  * robust to astral chars). Two distinct windows colliding on BOTH
  * 64-bit hashes is the accepted 2⁻¹²⁸-scale risk (~10⁻¹¹ expected
  * collisions at 10¹⁴ windows); `SpanDedupSpec` locks this path
  * bit-equal to a string-keyed normative twin.
  */
case class SpanWindowHashesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"window length must be >= 1, got $n")
  override def dataType: DataType =
    ArrayType(SpanWindowHashesExpr.entry, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "span_window_hashes"

  // M^(n-1), the leading-codepoint weights the rolling update subtracts
  @transient private lazy val pw1: Long = {
    var p = 1L; var i = 0
    while (i < n - 1) { p *= SpanWindowHashesExpr.M1; i += 1 }; p
  }
  @transient private lazy val pw2: Long = {
    var p = 1L; var i = 0
    while (i < n - 1) { p *= SpanWindowHashesExpr.M2; i += 1 }; p
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val text = if (v == null) "" else v.asInstanceOf[UTF8String].toString
    val cps = text.codePoints().toArray
    val total = cps.length - n + 1
    if (total <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](total)
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < n) {
      h1 = h1 * SpanWindowHashesExpr.M1 + cps(i)
      h2 = h2 * SpanWindowHashesExpr.M2 + cps(i)
      i += 1
    }
    out(0) = new GenericInternalRow(Array[Any](h1, h2))
    var p = 1
    while (p < total) {
      val drop = cps(p - 1); val add = cps(p + n - 1)
      h1 = (h1 - drop * pw1) * SpanWindowHashesExpr.M1 + add
      h2 = (h2 - drop * pw2) * SpanWindowHashesExpr.M2 + add
      out(p) = new GenericInternalRow(Array[Any](h1, h2))
      p += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): SpanWindowHashesExpr =
    copy(child = c)
}

object SpanWindowHashesExpr {
  // independent odd multipliers (MMIX LCG / golden-gamma), mod 2^64
  val M1: Long = 6364136223846793005L
  val M2: Long = -7046029254386353131L
  val entry: StructType = StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false)))
}

/** Remove every codepoint covered by a window starting at any of `starts`
  * (0-based, window length n) and rejoin the survivors in order — the
  * splice step of the ExactSubstr span dedup. Starts arrive unsorted
  * (collect_list order is nondeterministic); the merge walk sorts once
  * and runs O(len + k). Emits (clean_text, n_removed: long = codepoints
  * cut). Null/missing starts (docs with no duplicated window) pass the
  * text through unchanged.
  */
case class SpanSpliceExpr(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with CodegenFallback {
  require(n >= 1, s"window length must be >= 1, got $n")
  override def dataType: DataType = SpanSpliceExpr.schema
  override def nullable: Boolean = false
  override def prettyName: String = "span_splice"

  override def eval(input: InternalRow): Any = {
    val lv = left.eval(input)
    val text = if (lv == null) "" else lv.asInstanceOf[UTF8String].toString
    val rv = right.eval(input)
    val ss: Array[Int] =
      if (rv == null) Array.emptyIntArray
      else rv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray()
    if (ss.isEmpty) {
      return new GenericInternalRow(Array[Any](UTF8String.fromString(text), 0L))
    }
    java.util.Arrays.sort(ss)
    val cps = text.codePoints().toArray
    val out = new java.lang.StringBuilder(text.length)
    var removed = 0L
    var j = 0; var end = -1; var i = 0
    while (i < cps.length) {
      while (j < ss.length && ss(j) <= i) {
        val e = ss(j) + n; if (e > end) end = e; j += 1
      }
      if (i < end) removed += 1L else out.appendCodePoint(cps(i))
      i += 1
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(out.toString), removed))
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SpanSpliceExpr = copy(left = l, right = r)
}

object SpanSpliceExpr {
  val schema: StructType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))
}

/** Packed char-trigram keys of a normalized text — the feature extractor
  * of [[vigil.QualityClassifier]]. Normalization (normative): every
  * Unicode LETTER code point lowercased, every other code point becomes a
  * space, space runs collapse to one. Each surviving trigram (window of 3
  * normalized code points) packs into a long `(a << 42) | (b << 21) | c`
  * (code points ≤ 0x10FFFF fit 21 bits). Emits one element per trigram
  * OCCURRENCE (multiplicity matters — the fit counts them). Flat loop,
  * zero intermediate strings.
  */
case class TriGramKeysExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "trigram_keys"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val text = if (v == null) "" else v.asInstanceOf[UTF8String].toString
    val norm = TriGramKeysExpr.normalize(text)
    val n = norm.length - 2
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = (norm(i).toLong << 42) | (norm(i + 1).toLong << 21) |
        norm(i + 2).toLong
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): TriGramKeysExpr =
    copy(child = c)
}

object TriGramKeysExpr {
  /** Normalized code points: letters lowercased, runs of anything else
    * collapse to one space.
    */
  def normalize(text: String): Array[Int] = {
    val cps = text.codePoints().toArray
    val out = new Array[Int](cps.length)
    var n = 0
    var lastSpace = true
    var i = 0
    while (i < cps.length) {
      val cp = cps(i)
      if (Character.isLetter(cp)) {
        out(n) = Character.toLowerCase(cp); n += 1; lastSpace = false
      } else if (!lastSpace) {
        out(n) = ' '.toInt; n += 1; lastSpace = true
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }
}

/** Mean trigram log-odds of a text under a broadcast
  * [[vigil.QualityClassifier.Model]] — the scoring pass of the
  * reference-vs-crawl quality classifier. Same normalization and packing
  * as [[TriGramKeysExpr]]; texts with no trigram score 0 (neutral).
  * Narrow flat loop, one hash probe per trigram.
  */
case class NbScoreExpr(
    child: Expression,
    model: org.apache.spark.broadcast.Broadcast[QualityClassifier.Model])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "nb_score"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val text = if (v == null) "" else v.asInstanceOf[UTF8String].toString
    val norm = TriGramKeysExpr.normalize(text)
    val n = norm.length - 2
    if (n <= 0) return 0.0
    val m = model.value
    var s = 0.0
    var i = 0
    while (i < n) {
      val k = (norm(i).toLong << 42) | (norm(i + 1).toLong << 21) |
        norm(i + 2).toLong
      val lo = m.logOdds.get(k)
      s += (if (lo == null) m.unkLogOdds else lo.doubleValue())
      i += 1
    }
    s / n
  }
  override protected def withNewChildInternal(c: Expression): NbScoreExpr =
    copy(child = c)
}

/** BPE tokenization over broadcast merge ranks — text → array<string>
  * tokens. Words are single-space-split (engine convention); each word
  * runs the [[vigil.Bpe.encodeWord]] lowest-rank-first merge loop. Flat
  * per-row loop with JVM-shared model state via Broadcast, same shape as
  * [[GramOverlapCountExpr]]: narrow, no exchange, CodegenFallback is fine
  * (still pipelined inside the stage).
  */
case class BpeEncodeExpr(
    child: Expression,
    model: org.apache.spark.broadcast.Broadcast[vigil.Bpe.Model])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // null text → null tokens (NOT an empty array): keeps n_tokens NULL on
  // both engines, so the q_bpe_base SQL twin stays exact on null rows
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bpe_encode"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val text = v.asInstanceOf[UTF8String].toString
    val m = model.value
    val out = new scala.collection.mutable.ArrayBuffer[Any](text.length / 4 + 4)
    var start = 0
    val n = text.length
    var i = 0
    while (i <= n) {
      if (i == n || text.charAt(i) == ' ') {
        if (i > start) {
          val toks = vigil.Bpe.encodeWord(text.substring(start, i), m)
          var t = 0
          while (t < toks.length) {
            out += UTF8String.fromString(toks(t))
            t += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): BpeEncodeExpr =
    copy(child = c)
}

/** Word n-grams as strings — text → array<string> of space-joined
  * n-grams over the single-space split (empties kept, trailing empties
  * kept: exactly Spark `split(text, " ")` / DuckDB `string_split`
  * semantics, which is what keeps the SQL twin exact). One flat pass;
  * replaces a transform()+element_at formulation whose HOF lambda
  * interpreter cost ~34 µs PER GRAM (the winnow O(n²) lesson, third
  * sighting: 8.8 s → 0.2 s for 260k grams at sf0.1).
  */
case class WordNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "word_ngrams"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val text = v.asInstanceOf[UTF8String].toString
    val words = text.split(" ", -1) // limit -1: keep trailing empties
    val total = words.length - n + 1
    if (total <= 0) return PiiSchema.EmptyArray
    val out = new Array[Any](total)
    val sb = new java.lang.StringBuilder(64)
    var g = 0
    while (g < total) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(words(g + k))
        k += 1
      }
      out(g) = UTF8String.fromString(sb.toString)
      g += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): WordNgramsExpr =
    copy(child = c)
}

/** Character n-grams over CODE POINTS — the flat-loop twin of
  * `transform(sequence(1, char_length - n + 1), i => substring(text, i, n))`
  * (bit-equality spec-locked), avoiding the per-element HOF interpreter
  * re-entry. Code points, not UTF-16 units, so the windows match Spark
  * `substring` / DuckDB `substr` semantics on astral chars. Null text →
  * null (SQL twin parity on null rows).
  */
case class CharNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "char_ngrams"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val cps = v.asInstanceOf[UTF8String].toString.codePoints().toArray
    val total = cps.length - n + 1
    if (total <= 0) return PiiSchema.EmptyArray
    val out = new Array[Any](total)
    var i = 0
    while (i < total) {
      out(i) = UTF8String.fromString(new String(cps, i, n))
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): CharNgramsExpr =
    copy(child = c)
}

/** Per-document perplexity under a broadcast [[vigil.Lm.Model]]: ONE
  * code-point pass builds each trigram + its 2-char context and folds
  * `ln((c3 + α) / (c2 + α·V))`; output = struct(n_grams: long,
  * ppl: double — null when fewer than 3 code points). Narrow, no
  * exchange; the normative arithmetic (term order, operand shapes) is the
  * SQL twin's, so the only cross-engine noise is ln-ULP + sum
  * reassociation, absorbed by the FLOAT cast at the query boundary.
  */
case class LmPplExpr(
    child: Expression,
    model: org.apache.spark.broadcast.Broadcast[vigil.Lm.Model])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LmPplExpr.schema
  override def nullable: Boolean = false
  override def prettyName: String = "lm_ppl"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val text = if (v == null) "" else v.asInstanceOf[UTF8String].toString
    val cps = text.codePoints().toArray
    val n = cps.length - 2
    if (n <= 0) return new GenericInternalRow(Array[Any](0L, null))
    val m = model.value
    val alphaV = m.alpha * m.vocabSize.toDouble
    var s = 0.0
    var i = 0
    while (i < n) {
      val gram = new String(cps, i, 3)
      val ctx = new String(cps, i, 2)
      val c3 = m.c3.get(gram)
      val c2 = m.c2.get(ctx)
      val num = (if (c3 == null) 0.0 else c3.longValue().toDouble) + m.alpha
      val den = (if (c2 == null) 0.0 else c2.longValue().toDouble) + alphaV
      s += math.log(num / den)
      i += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, math.exp(-(s / n))))
  }
  override protected def withNewChildInternal(c: Expression): LmPplExpr =
    copy(child = c)
}

object LmPplExpr {
  val schema: StructType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("ppl", DoubleType, nullable = true)))
}

/** DSIR log importance weight under a broadcast [[vigil.Dsir.Model]]:
  * one pass tokenizes (lowercase, single-space split, empties dropped —
  * the [[vigil.Dsir.features]] column algebra, spec-locked) and folds the
  * per-occurrence log-ratio over word unigrams + bigrams. Hashed mode
  * buckets with `pmod(xxhash64(f), B)` via the same XxHash64Function the
  * Spark column uses (seed 42), spec-locked to the column twin. Output =
  * struct(n_feats: long, logw: double). Narrow, no exchange.
  */
case class DsirScoreExpr(
    child: Expression,
    model: org.apache.spark.broadcast.Broadcast[vigil.Dsir.Model])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DsirScoreExpr.schema
  override def nullable: Boolean = false
  override def prettyName: String = "dsir_score"

  private def ratio(m: vigil.Dsir.Model, f: String): Double =
    if (m.nBuckets == 0) {
      val r = m.exact.get(f)
      if (r == null) m.unkLogRatio else r.doubleValue()
    } else {
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(UTF8String.fromString(f), StringType, 42L)
      val b = ((h % m.nBuckets) + m.nBuckets) % m.nBuckets
      m.buckets(b.toInt)
    }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val text = if (v == null) "" else v.asInstanceOf[UTF8String].toString
    val words = text.toLowerCase(java.util.Locale.ROOT).split(" ")
      .filter(_.nonEmpty)
    val m = model.value
    var s = 0.0
    var i = 0
    while (i < words.length) {
      s += ratio(m, words(i))
      if (i + 1 < words.length) s += ratio(m, words(i) + " " + words(i + 1))
      i += 1
    }
    val nFeats = words.length.toLong +
      (if (words.length >= 2) words.length - 1L else 0L)
    new GenericInternalRow(Array[Any](nFeats, s))
  }
  override protected def withNewChildInternal(c: Expression): DsirScoreExpr =
    copy(child = c)
}

object DsirScoreExpr {
  val schema: StructType = StructType(Seq(
    StructField("n_feats", LongType, nullable = false),
    StructField("logw", DoubleType, nullable = false)))
}

/** Column-level API over the expressions. */
object functions {
  private def expr(c: Column) = VigilShim.expression(c)
  def pii_analyze(c: Column): Column = VigilShim.column(PiiAnalyzeExpr(expr(c)))
  def clean_text(c: Column): Column = VigilShim.column(CleanTextExpr(expr(c)))
  def lang_score(c: Column): Column = VigilShim.column(LangScoreExpr(expr(c)))
  def winnow_fingerprint(c: Column, k: Int = 3, w: Int = 4): Column =
    VigilShim.column(WinnowFingerprintExpr(expr(c), k, w))
  def turn_stats(c: Column): Column = VigilShim.column(TurnStatsExpr(expr(c)))
  def repetition_stats(c: Column, ns: Seq[Int]): Column =
    VigilShim.column(RepetitionStatsExpr(expr(c), ns))
  def turn_score(c: Column): Column = VigilShim.column(TurnScoreExpr(expr(c)))
  /** A PII turn's consolidated review items — see [[ReviewItemsExpr]]. */
  def review_items(clean: Column, detalhes: Column,
      cfg: Review.Config = Review.Default): Column =
    VigilShim.column(ReviewItemsExpr(expr(clean), expr(detalhes),
      cfg.lowConfidenceThreshold, cfg.highConfidenceThreshold))
  def cosine_sim(a: Column, b: Column): Column =
    VigilShim.column(CosineSimExpr(expr(a.cast("array<double>")),
      expr(b.cast("array<double>"))))
  def sorted_intersect_size(a: Column, b: Column): Column =
    VigilShim.column(SortedIntersectSizeExpr(expr(a), expr(b)))
  /** One-walk fused jaccard (threshold-aborting; -1.0 below threshold,
    * reported non-deterministic to stop join-condition duplication) — see
    * [[SortedJaccardGeExpr]].
    */
  def sorted_jaccard_ge(a: Column, b: Column, minJaccard: Double): Column =
    VigilShim.column(SortedJaccardGeExpr(expr(a), expr(b), minJaccard))
  /** Pushdown-blocking pass-through for expensive aliased expressions —
    * see [[EvalOnceExpr]].
    */
  def eval_once(c: Column): Column = VigilShim.column(EvalOnceExpr(expr(c)))
  def vector_sum(v: Column, dim: Int): Column =
    VigilShim.column(VectorSumAgg(expr(v.cast("array<double>")), dim)
      .toAggregateExpression())
  /** struct(cnt, lang): the column's most frequent value — see
    * [[LangModeAgg]]; usable as an aggregate or over a window.
    */
  def lang_mode(c: Column): Column =
    VigilShim.column(LangModeAgg(expr(c)).toAggregateExpression())
  def gram_overlap_count(loweredText: Column, n: Int,
      bench: org.apache.spark.broadcast.Broadcast[java.util.HashSet[String]])
      : Column =
    VigilShim.column(GramOverlapCountExpr(expr(loweredText), n, bench))
  def gram_scrub(text: Column, n: Int,
      bench: org.apache.spark.broadcast.Broadcast[java.util.HashSet[String]])
      : Column =
    VigilShim.column(GramScrubExpr(expr(text), expr(lower(text)), n, bench))
  def word_ngrams(text: Column, n: Int): Column =
    VigilShim.column(WordNgramsExpr(expr(text), n))
  def char_ngrams(text: Column, n: Int): Column =
    VigilShim.column(CharNgramsExpr(expr(text), n))
  def lm_ppl(text: Column,
      model: org.apache.spark.broadcast.Broadcast[vigil.Lm.Model]): Column =
    VigilShim.column(LmPplExpr(expr(text), model))
  def dsir_score(text: Column,
      model: org.apache.spark.broadcast.Broadcast[vigil.Dsir.Model]): Column =
    VigilShim.column(DsirScoreExpr(expr(text), model))
  def bpe_encode(text: Column,
      model: org.apache.spark.broadcast.Broadcast[vigil.Bpe.Model]): Column =
    VigilShim.column(BpeEncodeExpr(expr(text), model))
  def span_window_hashes(text: Column, n: Int): Column =
    VigilShim.column(SpanWindowHashesExpr(expr(text), n))
  def span_splice(text: Column, starts: Column, n: Int): Column =
    VigilShim.column(SpanSpliceExpr(expr(text), expr(starts), n))
  def trigram_keys(text: Column): Column =
    VigilShim.column(TriGramKeysExpr(expr(text)))
  def nb_score(text: Column,
      model: org.apache.spark.broadcast.Broadcast[QualityClassifier.Model])
      : Column =
    VigilShim.column(NbScoreExpr(expr(text), model))
}
