package vigil.dedup

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, VigilShim}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design notes (the point of each algorithm is to avoid the O(n²)
  * all-pairs comparison at 100 TB):
  *  - exact: one hash-groupBy shuffle, map-side combined.
  *  - MinHash+LSH: per-doc signature (narrow) → explode to b band rows →
  *    ONE shuffle on (band, band_hash) → pairs only within buckets.
  *    Bucket sizes are bounded by collision probability, so the join
  *    stays local; skewed buckets (degenerate texts) are capped.
  *  - SimHash: 64-bit fingerprint; Hamming-≤k candidates must share one of
  *    (k+1) fingerprint blocks (pigeonhole) → groupBy on block value.
  *  - n-gram Jaccard: the exact verifier applied to candidate pairs (or
  *    brute-force at test scale for the DuckDB oracle).
  */
object Dedup {

  // ---------- exact -------------------------------------------------------

  /** First occurrence (smallest idCol) wins; others are flagged dup. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol).cast("binary"))).orderBy(col(idCol))
    df.withColumn("is_dup", row_number().over(w) > 1)
  }

  /** Bloom-prefiltered incremental exact dedup — the daily-ingest face of
    * [[exact]] when the corpus dwarfs the batch. A batch row is `is_dup`
    * iff its text equals a corpus text OR an earlier (smaller id) batch
    * text; the output is the batch frame + `is_dup`, exactly the
    * `batch-rows` slice of [[exact]] over corpus ∪ batch (spec-asserted).
    *
    * Shape at scale: the corpus is touched by exactly TWO narrow passes
    * and NO shuffle — (1) one aggregation building a Bloom filter over
    * xxhash64(text) (fixed-size bitset merge, ~1.2 bytes/key at fpp 1%),
    * (2) one scan filtered by the broadcast candidate-hash set. Batch
    * rows that miss the Bloom (no false negatives) never join anything —
    * at typical ingest dup rates that is almost all of them; the rows
    * that might match are verified by an equi-join on (hash, text)
    * against the corpus slice sharing those hashes, so Bloom false
    * positives AND xxhash64 collisions are both harmless (the final
    * test is text equality). Within-batch dedup is [[exact]]'s window
    * over the batch alone.
    *
    * The broadcast sketch caps out around 10^9–10^10 corpus keys
    * (~1.2–12 GB); past that, shard the filter by hash range or use the
    * stored hash-table join face (`DocFilter.filterDocsIncremental`) —
    * this operator is the cheap-serve tier below it.
    */
  def bloomExactIncremental(
      corpus: DataFrame, newBatch: DataFrame,
      textCol: String, idCol: String,
      fpp: Double = 0.01, expectedItems: Long = 0L): DataFrame = {
    val spark = corpus.sparkSession
    // ONE count answers both Bloom sizing and emptiness (zero corpus rows
    // leave stat.bloomFilter's merge zero-value with a null bitset —
    // mightContain NPEs — and an empty corpus can't produce corpus-dups,
    // so degenerate to the batch-only window). expectedItems > 0 skips
    // the count entirely and is the caller's assertion that the corpus
    // is non-empty (the per-ingest serve path, where the stored-table
    // row count is tracked anyway).
    val n = if (expectedItems > 0) expectedItems else corpus.count()
    if (n == 0) return exact(newBatch, textCol, idCol)
    val bf = corpus.select(xxhash64(col(textCol)).as("__h"))
      .stat.bloomFilter("__h", n, fpp)
    val bfB = spark.sparkContext.broadcast(bf)
    val might = udf((x: Long) => bfB.value.mightContainLong(x))
    // candidate hashes: bounded by the batch (true dups + fpp·|batch|)
    val maybeHashes = newBatch
      .select(xxhash64(col(textCol)).as("__h"))
      .filter(might(col("__h")))
      .distinct()
    // corpus slice sharing a candidate hash — broadcast-filtered narrow
    // scan, no corpus shuffle; (hash, text) both join keys so the verify
    // is an equi-join and text equality is the final word
    val corpusCand = corpus
      .select(xxhash64(col(textCol)).as("__ch"), col(textCol).as("__ctext"))
      .join(broadcast(maybeHashes), col("__ch") === col("__h"))
      .select("__ch", "__ctext").distinct()
    val inCorpusIds = newBatch
      .select(col(idCol).as("__dup_id"), col(textCol).as("__btext"))
      .withColumn("__h", xxhash64(col("__btext")))
      .filter(might(col("__h")))
      .join(broadcast(corpusCand),
        col("__h") === col("__ch") && col("__btext") === col("__ctext"),
        "left_semi")
      .select("__dup_id")
    val w = Window.partitionBy(md5(col(textCol).cast("binary"))).orderBy(col(idCol))
    newBatch
      .withColumn("__batch_dup", row_number().over(w) > 1)
      // inCorpusIds is bounded by the maybe-set — broadcast it so the
      // only exchange in the whole operator is the batch window
      .join(broadcast(inCorpusIds.withColumn("__in_corpus", lit(true))),
        col(idCol) === col("__dup_id"), "left")
      .withColumn("is_dup",
        col("__batch_dup") || coalesce(col("__in_corpus"), lit(false)))
      .drop("__batch_dup", "__in_corpus", "__dup_id")
  }

  // ---------- MinHash -----------------------------------------------------

  /** Per-row MinHash kernel: word-shingle the text, hash each shingle, and
    * keep, for each of `numHashes` universal-hash permutations
    * h_i(x) = (a_i·x + b_i) mod p, the minimum over the shingles.
    * Deterministic (seeded a/b), pure function of the text.
    */
  object MinHash {
    val Prime: Long = (1L << 61) - 1

    // cached per (numHashes, seed): signature() runs once per ROW inside a
    // UDF, so regenerating the Random + coefficient array per call was a
    // per-row allocation hotspot on the dedup path
    private val coeffsCache =
      new java.util.concurrent.ConcurrentHashMap[(Int, Long), Array[(Long, Long)]]()

    def coeffs(numHashes: Int, seed: Long): Array[(Long, Long)] =
      coeffsCache.computeIfAbsent((numHashes, seed), { case (n, s) =>
        val rng = new scala.util.Random(s)
        Array.fill(n)(
          (math.abs(rng.nextLong()) % (Prime - 1) + 1, math.abs(rng.nextLong()) % Prime))
      })

    def shingles(text: String, k: Int): Set[Long] = {
      val hs = shingleHashes(text, k)
      val b = Set.newBuilder[Long]
      hs.foreach(b += _)
      b.result()
    }

    /** Sorted-distinct shingle hash array — the allocation-light shape
      * [[signature]] folds over (identical VALUES to [[shingles]]; a
      * sorted array instead of a boxed Set, and one reused StringBuilder
      * instead of a String per window — min over a set is
      * order-independent, so signatures are bit-identical).
      *
      * Single-space split (not \s+) so candidate tokenization is EXACTLY
      * the verifier's split(lower(text), " ") — a corpus with tab/newline
      * whitespace tokenizes identically in both stages (r2 advice).
      */
    def shingleHashes(text: String, k: Int): Array[Long] = {
      val words =
        text.toLowerCase(java.util.Locale.ROOT).split(' ').filter(_.nonEmpty)
      if (words.isEmpty) return Array.emptyLongArray
      val raw =
        if (words.length < k)
          Array(scala.util.hashing.MurmurHash3
            .stringHash(words.mkString(" ")).toLong)
        else if (k == 1)
          Array.tabulate(words.length)(i =>
            scala.util.hashing.MurmurHash3.stringHash(words(i)).toLong)
        else {
          val n = words.length - k + 1
          val out = new Array[Long](n)
          val sb = new java.lang.StringBuilder(64)
          var i = 0
          while (i < n) {
            sb.setLength(0)
            var j = 0
            while (j < k) {
              if (j > 0) sb.append(' ')
              sb.append(words(i + j))
              j += 1
            }
            out(i) =
              scala.util.hashing.MurmurHash3.stringHash(sb.toString).toLong
            i += 1
          }
          out
        }
      java.util.Arrays.sort(raw)
      // dedupe in place (sorted) — set semantics without the boxed Set
      var w = 0
      var r = 0
      while (r < raw.length) {
        if (w == 0 || raw(r) != raw(w - 1)) { raw(w) = raw(r); w += 1 }
        r += 1
      }
      if (w == raw.length) raw else java.util.Arrays.copyOf(raw, w)
    }

    def signature(text: String, numHashes: Int, k: Int, seed: Long): Array[Long] = {
      val cs = coeffs(numHashes, seed)
      val sh = shingleHashes(text, k)
      if (sh.isEmpty) return Array.fill(numHashes)(Long.MaxValue)
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var s = 0
      while (s < sh.length) {
        val x = sh(s)
        // x (unsigned 64-bit) mod p, p = 2^61-1 Mersenne: 2^61 ≡ 1, so
        // x ≡ (x >>> 61) + (x & p) — shifts and adds, no hw division
        // (bit-identical to remainderUnsigned; the old divide-based fold
        // was ~60 cycles per hash and dominated the signature pass)
        var xp = (x >>> 61) + (x & Prime)
        if (xp >= Prime) xp -= Prime
        var i = 0
        while (i < numHashes) {
          // (a*x + b) mod p: Math.multiplyHigh gives the exact 128-bit
          // product (hi, lo); 2^64 ≡ 8 (mod p) and lo ≡ (lo >>> 61) +
          // (lo & p), with hi < 2^58 so (hi << 3) cannot overflow
          val a = cs(i)._1; val b = cs(i)._2
          val hi = Math.multiplyHigh(a, xp)
          val lo = a * xp
          var t = (hi << 3) + (lo >>> 61) + (lo & Prime)
          t = (t >>> 61) + (t & Prime)
          if (t >= Prime) t -= Prime
          val h = t + b
          val v = if (h >= Prime) h - Prime else h
          if (v < sig(i)) sig(i) = v
          i += 1
        }
        s += 1
      }
      sig
    }

    def estJaccard(a: Array[Long], b: Array[Long]): Double = {
      var same = 0
      var i = 0
      while (i < a.length) { if (a(i) == b(i)) same += 1; i += 1 }
      same.toDouble / a.length
    }

    /** estJaccard with a threshold early-exit: returns the exact estimate
      * when it is ≥ minEst, and a negative sentinel as soon as the match
      * count provably cannot reach the threshold — on mid-similarity
      * pairs (the candidate bulk on dense corpora) this bails after a
      * fraction of the signature with the emitted values unchanged.
      */
    def estJaccardAtLeast(a: Array[Long], b: Array[Long], minEst: Double): Double = {
      val n = a.length
      // epsilon guard: when minEst*n is an exact integer in reals but the
      // double product rounds up (0.8*145 → 116.0000000000000064), a pair
      // exactly at threshold must NOT be dropped by ceil
      val needed = math.ceil(minEst * n - 1e-9).toInt
      var same = 0
      var i = 0
      while (i < n) {
        if (a(i) == b(i)) same += 1
        if (same + (n - 1 - i) < needed) return -1.0
        i += 1
      }
      same.toDouble / n
    }

    /** Bucket key of band `band`: FNV-style fold of that band's signature
      * slice. Computed in plain Scala (not a Catalyst hash expression) so
      * the in-bucket pair loop can recompute ANY band's key from the full
      * signature — the capped-bucket lookup behind the sound cross-band
      * skip in [[Dedup.bandedPairs]] depends on that.
      */
    def bandHash(sig: Array[Long], band: Int, rowsPerBand: Int): Long = {
      var h = 0xcbf29ce484222325L ^ band.toLong
      var i = band * rowsPerBand
      val end = i + rowsPerBand
      while (i < end) {
        h ^= sig(i)
        h *= 0x100000001b3L
        h ^= (h >>> 33)
        i += 1
      }
      h
    }
  }

  /** MinHash-LSH near-duplicate pairs.
    *
    * numHashes = bands · rowsPerBand. A pair whose Jaccard ≥ t collides in
    * ≥1 band with probability 1-(1-t^r)^b (the S-curve). Default 16×8
    * targets t ≈ 0.8.
    *
    * The pairs come from [[bandedPairs]], with [[MinHash.bandHash]] as
    * the band key and `estJaccardAtLeast ≥ minEst` as the in-bucket test;
    * the bucket cap, the cross-band skip, the pair dedup and the rebalance
    * are the core's and are stated there, as is the static-input
    * assumption. The signature frame is persisted: the core's capped-key
    * pre-pass and its pair stage both consume it, and without the cache
    * the second action re-runs the whole MinHash UDF pass. The cache holds
    * (id, blk, 144-long sig) ≈ 1.2 KB/doc, spill-to-disk bounded;
    * [[persistSigs]] caps the session at ONE live signature cache.
    *
    * `blockCol`: optional blocking key folded INTO the bucket key — only
    * same-block pairs are candidates, buckets get strictly smaller, and
    * the LSH shuffle is block-partitioned instead of global.
    *
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b, est ≥ minEst.
    */
  def minhashLsh(
      df: DataFrame, textCol: String, idCol: String,
      bands: Int = 16, rowsPerBand: Int = 8, shingleK: Int = 3,
      seed: Long = 42L, minEst: Double = 0.8,
      maxBucketSize: Int = 100000,
      blockCol: Option[String] = None): DataFrame = {
    val sigs = persistSigs(computeSignatures(
      df, textCol, idCol, bands, rowsPerBand, shingleK, seed, blockCol))
    minhashPairs(sigs.withColumn("is_new", lit(true)), bands, rowsPerBand,
      minEst, maxBucketSize)
  }

  /** The stable signature frame consumed by [[minhashLsh]] and
    * [[minhashLshIncremental]]: one row per
    * document, `(id: long, blk: string, sig: array<long>)`. Write it to a
    * table and append each ingest batch's frame — the MinHash UDF pass is
    * the dominant narrow-stage cost of LSH dedup, and a recurring ingest
    * should pay it once per document EVER, not once per run. Band hashes
    * are NOT stored: they re-derive from `sig` in nb·rpb integer ops per
    * row (noise next to a parquet scan), and leaving them out keeps the
    * stored schema independent of the banding so the same table serves a
    * re-banding (same numHashes) without a rewrite.
    */
  def computeSignatures(
      df: DataFrame, textCol: String, idCol: String,
      bands: Int = 16, rowsPerBand: Int = 8, shingleK: Int = 3,
      seed: Long = 42L, blockCol: Option[String] = None): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sigUdf = udf((t: String) =>
      MinHash.signature(if (t == null) "" else t, numHashes, shingleK, seed))
    val blk = blockCol.map(c => col(c).cast("string")).getOrElse(lit(""))
    df.select(col(idCol).as("id"), blk.as("blk"),
      sigUdf(col(textCol)).as("sig"))
  }

  /** Incremental near-dup: pairs of a NEW batch against an existing
    * corpus signature table, without recomputing corpus signatures — the
    * operation a recurring ingest actually runs. Emits exactly the
    * (new×corpus ∪ new×new) slice of what a from-scratch [[minhashLsh]]
    * over the union would emit (spec-asserted, caps included): the union
    * rides the same buckets, same caps, same cross-band skip; pairs with
    * BOTH members in the corpus are suppressed before any estimator work.
    *
    * Both inputs are [[computeSignatures]] frames with the SAME
    * bands/rowsPerBand/shingle/seed/block parameters; ids must be unique
    * across the union (re-ingesting an id produces self-pairs). The pair
    * stage scans its input twice (the core's capped-key pre-pass) —
    * corpus signatures come from a table (cheap rescan by design), and
    * callers should persist `newSigs` if they also append it to that
    * table in the same job. At 100 TB the corpus sig table is the only
    * big input, and it is NEVER recomputed or cached here.
    *
    * Static input assumed, as stated on [[bandedPairs]]: build the frame
    * AFTER the batch is final and rebuild it per ingest run.
    */
  def minhashLshIncremental(
      corpusSigs: DataFrame, newSigs: DataFrame,
      bands: Int = 16, rowsPerBand: Int = 8, minEst: Double = 0.8,
      maxBucketSize: Int = 100000): DataFrame = {
    val union = corpusSigs.select(col("id"), col("blk"), col("sig"))
      .withColumn("is_new", lit(false))
      .unionByName(newSigs.select(col("id"), col("blk"), col("sig"))
        .withColumn("is_new", lit(true)))
    minhashPairs(union, bands, rowsPerBand, minEst, maxBucketSize)
  }

  /** The MinHash generator of [[bandedPairs]], shared by the batch and
    * incremental faces.
    */
  private def minhashPairs(
      sigs: DataFrame, bands: Int, rowsPerBand: Int, minEst: Double,
      maxBucketSize: Int): DataFrame =
    bandedPairs(sigs, bands, bands * rowsPerBand, maxBucketSize)(
      minhashKey(rowsPerBand),
      (a, b) => {
        val est = MinHash.estJaccardAtLeast(a, b, minEst)
        if (est >= minEst) est else -1.0
      })
      .withColumnRenamed("value", "est_jaccard")

  private def minhashKey(rowsPerBand: Int): (Array[Long], Int) => Long =
    (sig, band) => MinHash.bandHash(sig, band, rowsPerBand)

  /** THE banded-LSH pair core. MinHash-LSH ([[minhashLsh]],
    * [[minhashLshIncremental]]), SimHash ([[simhashPairs]]) and the
    * embedding sign-LSH (`vigil.ann.Ann.cosineNearDupPairs` and its
    * incremental face) differ only in their signature frame and in two
    * functions:
    *  - `key(sig, b)`: band b's bucket key, a pure function of the whole
    *    signature, so the pair loop can re-derive ANY band's key;
    *  - `test(sigA, sigB)`: the pair's value, negative to reject it.
    *
    * `sigs` is `(id: long, blk: string, sig: array<long>, is_new:
    * boolean)` with unique ids; a bucket is (band, key, blk), so only
    * same-block pairs are candidates. Every `sig` must have `sigLength`
    * elements (the banding guard in [[bandKeys]]).
    *
    * What the core decides, once for every generator:
    *  - '''cap''': each bucket keeps its `maxBucketSize` smallest ids
    *    ([[cappedSortedMembers]]), so executor memory is bounded by the
    *    cap even for a degenerate billion-member bucket. The cap is a
    *    safety valve for degenerate data (thousands of byte-identical
    *    docs, where exact dedup is the right tool); within the cap the
    *    output is exact. Capped keys come from a cardinality-only
    *    pre-pass (a shuffle of (band, key, blk) keys whose capped set is
    *    collected and broadcast; bounded because capped buckets are the
    *    rare case the cap exists for), so the input is consumed twice.
    *  - '''emission''': a LAZY typed flatMap over each bucket's members,
    *    not a UDF returning a pair array — a k-member cluster has C(k,2)
    *    pairs, and materializing them per bucket OOMs executors once
    *    clusters reach a few thousand members. Pairs of two `is_new =
    *    false` members are dropped before any test: the incremental
    *    contract (a batch face marks every row new, so it drops nothing).
    *  - '''cross-band skip''': a true near-dup pair collides in ~every
    *    band, so band b skips a pair when an EARLIER band's keys match
    *    (the bucket membership test itself) AND that band's bucket was
    *    not capped — the earlier band provably holds both members and
    *    emits the pair. A first-colliding-band skip that ignores the caps
    *    (tried once and removed) loses the pairs sliced out of a capped
    *    earlier bucket. On dense corpora the skip saves far more than the
    *    pre-pass costs (227 s → see BENCH/BASELINE.md round 3).
    *  - '''dedup''': with no capped bucket, exactly the first colliding
    *    band emits a pair, so each pair appears once and no dedup
    *    exchange runs. With caps a pair can be sliced out of the earlier
    *    bucket and re-emitted later: a `groupBy(id_a, id_b)` collapses
    *    the duplicates (the value is a function of the two signatures, so
    *    every copy carries the same value).
    *  - '''rebalance''': the pairs leave hash-partitioned on id_a into an
    *    EXPLICIT [[verifyPartitions]] count. The pair stage is partitioned
    *    by BUCKET key and near-clique buckets make a downstream verify
    *    straggler-bound if it stays fused there (measured on
    *    neardupVerified: task time down but wall UP without the
    *    rebalance); hash(id_a) is the distribution a pair join needs, and
    *    a later sampling or sort pass re-reads these shuffle files
    *    instead of re-running the pair stage. The explicit count keeps
    *    byte-based AQE coalescing from folding the narrow-bytes,
    *    fat-compute consumer into one wave.
    *
    * Static input assumed: the capped-key set is collected ONCE, when the
    * frame is BUILT, and it both drives the skip and decides whether the
    * dedup exchange is elided. Re-executing the returned frame after the
    * source changed (a re-scanned mutable table, an evicted cache over
    * changed input) plans against the stale snapshot: a bucket that
    * became capped can then emit duplicate pairs with no dedup, or lose
    * pairs to the skip. Rebuild the frame per run over a source that can
    * change.
    *
    * Returns (id_a, id_b, value: double) with id_a < id_b, one row per
    * pair.
    */
  private[vigil] def bandedPairs(
      sigs: DataFrame, bands: Int, sigLength: Int, maxBucketSize: Int)(
      key: (Array[Long], Int) => Long,
      test: (Array[Long], Array[Long]) => Double): DataFrame = {
    val keyed = bandKeys(sigs, bands, sigLength, key)
    val skip = crossBandSkip.value
    val capped: Set[(Int, Long, String)] =
      if (!skip) Set.empty
      else bucketSizes(keyed).filter(col("cnt") > maxBucketSize)
        .select("band", "key", "blk")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    val spark = sigs.sparkSession
    val cappedB = spark.sparkContext.broadcast(capped)
    import spark.implicits._
    // the member struct leads with the unique id, so the cap keeps the
    // same members whatever else the struct carries: incremental slicing
    // under caps is IDENTICAL to from-scratch slicing over the same union
    val pairs = cappedSortedMembers(keyed, Seq("band", "key", "blk"),
      struct(col("id"), col("sig"), col("is_new")), maxBucketSize)
      .select(col("band"), col("blk"), col("members"))
      .as[(Int, String, Seq[(Long, Seq[Long], Boolean)])]
      .flatMap { case (band, blk, members) =>
        val cap = cappedB.value
        val noCaps = cap.isEmpty
        val ids = members.iterator.map(_._1).toArray
        val sg = members.iterator.map(_._2.toArray).toArray
        val nw = members.iterator.map(_._3).toArray
        // the earlier bands' keys, once per bucket member
        val earlier =
          if (skip && band > 0)
            Array.tabulate(ids.length)(i => Array.tabulate(band)(b => key(sg(i), b)))
          else null
        def heldEarlier(i: Int, j: Int): Boolean = {
          val ki = earlier(i); val kj = earlier(j)
          var b = 0
          while (b < band) {
            if (ki(b) == kj(b) && (noCaps || !cap.contains((b, ki(b), blk)))) return true
            b += 1
          }
          false
        }
        (0 until ids.length).iterator.flatMap { i =>
          ((i + 1) until ids.length).iterator.flatMap { j =>
            if ((!nw(i) && !nw(j)) || (earlier != null && heldEarlier(i, j)))
              Iterator.empty
            else {
              val v = test(sg(i), sg(j))
              if (v >= 0) Iterator.single((ids(i), ids(j), v)) else Iterator.empty
            }
          }
        }
      }
      .toDF("id_a", "id_b", "value")
      .repartition(verifyPartitions(sigs), col("id_a"))
    if (skip && capped.isEmpty) pairs
    else pairs.groupBy("id_a", "id_b").agg(max("value").as("value"))
  }

  /** The cross-band skip of [[bandedPairs]], read when a frame is built.
    * Specs turn it off (`vigil.LshReference`) to build the reference pair
    * sets the skip is checked against; nothing else does.
    */
  private[vigil] val crossBandSkip = new scala.util.DynamicVariable[Boolean](true)

  /** `sigs` with one row per band: `band` and its bucket `key`. The
    * banding guard: a `sig` whose length is not `sigLength` — in practice
    * a STORED signature table computed with other banding parameters —
    * would index past its end (an opaque ArrayIndexOutOfBounds) or band
    * over a prefix (silently breaking the recall math the banding was
    * chosen for), so it fails here, loudly.
    */
  private def bandKeys(
      sigs: DataFrame, bands: Int, sigLength: Int,
      key: (Array[Long], Int) => Long): DataFrame = {
    val keysUdf = udf { (sig: Seq[Long]) =>
      require(sig.length == sigLength,
        s"signature length ${sig.length} != $sigLength — the signature" +
          " table was computed with different banding parameters than" +
          s" this query's ($bands bands)")
      val a = sig.toArray
      Array.tabulate(bands)(b => key(a, b))
    }
    sigs.select(col("*"), posexplode(keysUdf(col("sig"))).as(Seq("band", "key")))
  }

  /** Member count of every (band, key, blk) bucket of a [[bandKeys]] frame. */
  private def bucketSizes(keyed: DataFrame): DataFrame =
    keyed.groupBy("band", "key", "blk").agg(count(lit(1)).as("cnt"))

  /** The capped-bucket member shape of [[bandedPairs]]: cap membership
    * BEFORE aggregating via row_number over the bucket key — the
    * cap-smallest members by `member` order (deterministic: `member`
    * starts with the unique id) — so the agg buffer is bounded by the cap
    * even for a degenerate billion-member bucket, the window sort is
    * spillable, and the window's hash partitioning satisfies the groupBy
    * (ONE exchange; plan-asserted in DedupAnnSpec). slice-after-
    * collect_list would materialize the whole bucket first.
    * Returns keyCols + `members` (sorted array), buckets of ≥2 only.
    */
  private def cappedSortedMembers(
      df: DataFrame, keyCols: Seq[String], member: Column,
      cap: Int): DataFrame = {
    val keys = keyCols.map(col)
    df.withColumn("__m", member)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keys: _*).orderBy(col("__m"))))
      .filter(col("__rn") <= cap)
      .groupBy(keys: _*)
      .agg(sort_array(collect_list(col("__m"))).as("members"))
      .filter(size(col("members")) > 1)
  }

  /** Iteration materialization boundary: `localCheckpoint` by default
    * (fast, in-session), or a RELIABLE `checkpoint()` when
    * `spark.vigil.checkpoint.dir` is set (r6 VERDICT ask #5) — local
    * checkpoint blocks die with their executor, so on a real cluster an
    * executor loss mid-iteration kills the job (non-recomputable
    * truncated lineage); reliable checkpoints to a (HDFS/object-store)
    * dir survive it. Same eager/lazy semantics either way; labels are
    * spec-locked identical across both modes.
    */
  private[vigil] def iterBoundary(df: DataFrame, eager: Boolean): DataFrame =
    df.sparkSession.conf.getOption("spark.vigil.checkpoint.dir")
      .filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }

  /** Chain-style sugar for [[iterBoundary]]. */
  private[vigil] implicit class IterBoundaryOps(private val df: DataFrame) {
    def iterBoundary(eager: Boolean): DataFrame =
      Dedup.iterBoundary(df, eager)
  }

  /** At most ONE signature cache lives per session. `Dataset.persist`
    * registers a strong reference in the session CacheManager that only
    * `unpersist` releases — the ContextCleaner does NOT free Dataset
    * caches when the frame becomes unreachable — so without this bound
    * every [[minhashLsh]] call would leak its cache for the session
    * lifetime (specs, Bench loops, services). Evicting the previous
    * cache is always safe: a frame still holding it merely recomputes if
    * re-consumed. Concurrent minhashLsh jobs in one session degrade to
    * recompute, not corruption.
    */
  private val lastSigCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Connected components over an undirected near-dup pair graph:
    * (id, component) for EVERY node, component = smallest reachable id —
    * the cluster-canonicalization step of a dedup pipeline (keep one
    * representative per component). Differs from the greedy per-pair rule
    * in `DocFilter` (drop any id_b) on star patterns — pairs (a,c),(b,c)
    * with a≁b: greedy keeps BOTH a and b, components canonicalize all
    * three into one cluster with the single representative a. Which
    * policy is right is corpus policy; this operator is the
    * transitive-closure one the MinHash-dedup literature uses.
    *
    * Pair endpoints that are not nodes link nothing: a pair joins two
    * nodes only when both its endpoints are nodes. The one exception is
    * round 1's label `comp0(v) = min(v, Γ(v))`, which takes every
    * neighbor: a node whose smallest neighbor is a non-node id takes that
    * id as its label (and so shares it with every node whose smallest
    * neighbor it also is). Pairs with a null endpoint are ignored.
    *
    * Two paths, one semantics. Round 1 is `comp0`, then one contracted
    * edge `(comp0(s), comp0(d))` per pair whose endpoints are both nodes.
    *  - '''Driver finish''': when the canonical pair list has at most
    *    `DriverEdges` = 2^20 edges, it is collected as primitive arrays,
    *    round 1 is replayed exactly (node membership of the endpoint ids
    *    from one broadcast semi-join against `nodes`: a filter, no
    *    shuffle), a union-find with the smallest id as root finishes the
    *    components, and every node is remapped in one lazy pass through a
    *    broadcast of sorted primitive arrays. Driver memory is O(2^20)
    *    primitive longs (tens of MB), and no checkpoint is written.
    *  - '''Distributed label rounds''' above the budget: round 1 is one
    *    aggregation over the cached pair list; every later round hooks
    *    each label of the CONTRACTED edge set to its smallest neighbor,
    *    shortcuts every hook tree to its root by pointer jumping until no
    *    pointer moves, and contracts the edges through the roots
    *    (self-loops dropped, duplicates merged), until no edge is left.
    *    Each frame is `iterBoundary`-truncated: persist alone is NOT
    *    enough for an iterative frame, whose self-joins double the
    *    LOGICAL plan per step (the driver OOMed just rendering it at
    *    sf0.1).
    *
    * Round bound: at most 2⌈log₂(2·E₁)⌉ + 2 rounds for E₁ edges left
    * after round 1, on any graph (a sorted path included); it fails
    * loudly past that. It holds because each round's roots are the local
    * minima of its contracted graph and every label points at its root:
    *   a root survives the next round as a local minimum only if some
    *   label hooked to it, so the labels with edges halve every 2 rounds.
    */
  def connectedComponents(
      nodes: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    componentsWithin(nodes, idCol, pairs, DriverEdges)

  /** Edge budget of [[connectedComponents]]' driver finish. */
  private val DriverEdges = 1 << 20

  /** [[connectedComponents]] with its driver finish at `driverEdges`
    * edges; at 0 only an empty pair list finishes on the driver, every
    * other graph runs the distributed rounds to the fixpoint.
    */
  private[vigil] def componentsWithin(
      nodes: DataFrame, idCol: String, pairs: DataFrame,
      driverEdges: Int): DataFrame = {
    // persist the CANONICAL one-direction pair list ONCE: it is two long
    // columns (tiny), but its lineage is the whole upstream dedup
    // pipeline — without the persist every round's count re-runs LSH +
    // verify (OOMed at sf0.1: 965k-pair graph, ~5 s verify per re-run).
    // Persisting the doubled (u,v)∪(v,u) union instead would evaluate
    // that expensive lineage once PER UNION BRANCH while materializing
    // the cache; deriving both directions FROM the cache costs only a
    // second cache scan.
    val canonPairs = pairs
      .select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the count materializes the cache that either path reads next
    if (canonPairs.count() <= driverEdges) {
      val out = finishOnDriver(nodes, idCol, canonPairs)
      canonPairs.unpersist(blocking = false)
      return out
    }
    // Round 1 needs NO labels join: with comp(v) initialized to v, the
    // neighbor-min fold is simply min(v, min Γ(v)) — one aggregation over
    // the cached pair list. Later rounds work on the CONTRACTED edge set,
    // which near-dup graphs (dense near-cliques) collapse to a few edges
    // in one round. Labels only decrease and a component's min always
    // maps to itself, so once no contracted edge is left each component
    // carries exactly one label, its minimum id. The per-node mapping is
    // a lazy chain of label-remap joins (node-count-sized,
    // checkpoint-truncated) materialized once by the caller's action.
    val comp0 = nodes
      .select(col(idCol).cast("long").as("id"))
      .join(neighborMin(canonPairs), col("id") === col("a"), "left")
      .select(col("id"), least(col("id"), col("nmin")).as("comp"))
      .iterBoundary(false)
    var mapping = comp0
    var contracted = contract(canonPairs, comp0)
    // ONE action: materializes comp0 + the contracted edge set
    var nEdges = contracted.count()
    contracted = VigilShim.withRowCount(contracted, nEdges)
    val maxRounds =
      2 * (64 - java.lang.Long.numberOfLeadingZeros(2 * nEdges - 1)) + 2
    var round = 1
    while (nEdges > 0L) {
      round += 1
      if (round > maxRounds) throw new IllegalStateException(
        s"connectedComponents: $nEdges contracted edges left after " +
          s"${round - 1} label rounds, past the bound of $maxRounds")
      val hook = neighborMin(contracted)
        .select(col("a").as("id"), least(col("a"), col("nmin")).as("comp"))
      val f = shortcut(hook)
      // remap nodes (labels without contracted edges keep their comp) —
      // lazy: a node-count-sized join chain, materialized at the end
      mapping = mapping.join(f, mapping("comp") === f("id"), "left")
        .select(mapping("id"), coalesce(f("comp"), mapping("comp")).as("comp"))
        .iterBoundary(false)
      val next = contract(contracted, f)
      nEdges = next.count()
      // nothing reads this round's input edges again: f and `next` are
      // materialized, and the mapping chain reads f, not the edges
      VigilShim.unpersistCheckpointed(contracted)
      contracted = VigilShim.withRowCount(next, nEdges)
    }
    VigilShim.unpersistCheckpointed(contracted)
    // the mapping chain is backed by materialized checkpoints (comp0 and
    // every round's shortcut labels); the pairs cache can go
    canonPairs.unpersist(blocking = false)
    mapping.select(col("id").as(idCol), col("comp").as("component"))
  }

  /** (a, nmin): each endpoint of the undirected edges `(u, v)` with its
    * smallest neighbor.
    */
  private def neighborMin(edges: DataFrame): DataFrame =
    edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
      .groupBy(col("a")).agg(min(col("b")).as("nmin"))

  /** The edges `(u, v)` relabeled through `labels` (id, comp), as the
    * canonical `u < v` edge set without self-loops or duplicates. Inner
    * joins: an endpoint without a label links nothing.
    */
  private def contract(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.as("lu"), edges("u") === col("lu.id"))
      .join(labels.as("lv"), edges("v") === col("lv.id"))
      .select(col("lu.comp").as("x"), col("lv.comp").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v"))
      .distinct()
      .iterBoundary(false)

  /** Full pointer jumping over a hook forest `(id, comp)`, comp ≤ id, in
    * which every pointer target is itself an id: `f ← f∘f` until no
    * pointer moves, so every id points at its tree's root. One action per
    * jump materializes it and counts its rows and moved pointers; the
    * jump it replaced is released then, so the blocks held do not grow
    * with the number of jumps, and the row count replaces the squared
    * size estimate of the self-join. The result (id, comp, moved) stays
    * materialized.
    */
  private def shortcut(hook: DataFrame): DataFrame = {
    var f = hook.iterBoundary(false)
    var moved = 1L
    while (moved > 0L) {
      val next = f.as("x").join(f.as("y"), col("x.comp") === col("y.id"))
        .select(col("x.id").as("id"), col("y.comp").as("comp"),
          (col("y.comp") =!= col("x.comp")).as("moved"))
        .iterBoundary(false)
      val counts = next.agg(count(lit(1)), count(when(col("moved"), true))).head()
      moved = counts.getLong(1)
      VigilShim.unpersistCheckpointed(f)
      f = VigilShim.withRowCount(next, counts.getLong(0))
    }
    f
  }

  /** [[connectedComponents]]' driver finish over the whole counted pair
    * list: round 1 replayed exactly, then union-find over the contracted
    * label edges (see its scaladoc for the semantics this keeps).
    */
  private def finishOnDriver(
      nodes: DataFrame, idCol: String, canonPairs: DataFrame): DataFrame = {
    val sc = nodes.sparkSession.sparkContext
    val Array(src, dst) = collectLongs(canonPairs)
    val uf = new MinUnionFind(sortedDistinct(src, dst))
    val ids = uf.ids
    // which endpoints are nodes: a broadcast semi-join, no shuffle
    val nodeIds = nodes.select(col(idCol).cast("long").as("id"))
    val idsB = sc.broadcast(ids)
    val isEndpoint =
      udf((x: Long) => java.util.Arrays.binarySearch(idsB.value, x) >= 0)
    val Array(members) = collectLongs(nodeIds.filter(isEndpoint(col("id"))))
    idsB.destroy()
    val isNode = new java.util.BitSet(ids.length)
    members.foreach(m => isNode.set(uf.index(m)))
    // round 1: comp0(v) = min(v, Γ(v)) over every neighbor, node or not
    val comp0 = ids.clone()
    src.indices.foreach { e =>
      val (a, b) = (uf.index(src(e)), uf.index(dst(e)))
      comp0(a) = math.min(comp0(a), dst(e))
      comp0(b) = math.min(comp0(b), src(e))
    }
    // the contracted edges: (comp0(s), comp0(d)) for pairs of two nodes;
    // every label is itself an endpoint id, so it has an index
    val label = comp0.map(uf.index)
    src.indices.foreach { e =>
      val (a, b) = (uf.index(src(e)), uf.index(dst(e)))
      if (isNode.get(a) && isNode.get(b)) uf.union(label(a), label(b))
    }
    val (keys, labels) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofLong)
    ids.indices.foreach { i =>
      if (isNode.get(i)) { keys += ids(i); labels += uf.rootId(label(i)) }
    }
    nodeIds.select(col("id").as(idCol),
      lookup(sc, col("id"), keys.result(), labels.result()).as("component"))
  }

  /** Union-find over the sorted distinct ids `ids` (by index), the
    * smallest id as each class's root.
    */
  private final class MinUnionFind(val ids: Array[Long]) {
    private val parent = Array.tabulate(ids.length)(identity)
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    def root(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def rootId(i: Int): Long = ids(root(i))
    def union(i: Int, j: Int): Unit = {
      val (a, b) = (root(i), root(j))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
  }

  private def sortedDistinct(xs: Array[Long]*): Array[Long] = {
    val all = Array.concat(xs: _*)
    java.util.Arrays.sort(all)
    var n = 0
    all.indices.foreach { i =>
      if (i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 }
    }
    java.util.Arrays.copyOf(all, n)
  }

  /** The rows of a frame of long columns that have no null, as one
    * primitive array per column — packed per partition, so the driver
    * holds no per-row objects.
    */
  private def collectLongs(df: DataFrame): Array[Array[Long]] = {
    val n = df.columns.length
    val parts = df.na.drop().queryExecution.toRdd.mapPartitions { rows =>
      val cols = Array.fill(n)(new ArrayBuilder.ofLong)
      rows.foreach(r => (0 until n).foreach(j => cols(j) += r.getLong(j)))
      Iterator.single(cols.map(_.result()))
    }.collect()
    Array.tabulate(n)(j => Array.concat(parts.map(_(j)).toIndexedSeq: _*))
  }

  /** `c` through the map `keys(i) → values(i)` (`keys` sorted), identity
    * off the keys: a lookup in a broadcast, lazy, with no join.
    */
  private def lookup(
      sc: SparkContext, c: Column, keys: Array[Long], values: Array[Long]): Column = {
    val b = sc.broadcast((keys, values))
    udf { (x: Long) =>
      val (k, v) = b.value
      val i = java.util.Arrays.binarySearch(k, x)
      if (i >= 0) v(i) else x
    }.apply(c)
  }

  /** `df` persisted in the one signature-cache slot ([[lastSigCache]]). */
  private def persistSigs(df: DataFrame): DataFrame = {
    val cached =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prev = lastSigCache.getAndSet(cached)
    if (prev != null && (prev ne cached)) prev.unpersist(blocking = false)
    cached
  }

  /** Diagnostic: the largest LSH bucket population for a given config.
    * [[minhashLsh]]'s exactness contract is "exact while no bucket exceeds
    * maxBucketSize" — DedupAnnSpec gates `lshMaxBucket ≤ cap` on the real
    * sf0.1 corpus so a density change that silently trips the cap (the r2
    * 61%-recall class) fails the suite instead of shipping.
    */
  def lshMaxBucket(
      df: DataFrame, textCol: String, idCol: String,
      bands: Int, rowsPerBand: Int, shingleK: Int,
      seed: Long = 42L, blockCol: Option[String] = None): Long =
    bucketSizes(bandKeys(
      computeSignatures(df, textCol, idCol, bands, rowsPerBand, shingleK, seed, blockCol),
      bands, bands * rowsPerBand, minhashKey(rowsPerBand)))
      .agg(max("cnt")).collect()(0).getLong(0)

  // ---------- SimHash -----------------------------------------------------

  object SimHash {
    /** 64-bit simhash over word 2-shingles (Charikar 2002). */
    def fingerprint(text: String): Long = {
      val words = (if (text == null) "" else text)
        .toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty)
      val feats =
        if (words.length < 2) words.iterator
        else words.sliding(2).map(_.mkString(" "))
      val acc = new Array[Int](64)
      feats.foreach { f =>
        val h = scala.util.hashing.MurmurHash3.stringHash(f).toLong & 0xffffffffL |
          (scala.util.hashing.MurmurHash3.stringHash(f.reverse).toLong << 32)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      var fp = 0L
      var b = 0
      while (b < 64) { if (acc(b) > 0) fp |= (1L << b); b += 1 }
      fp
    }

    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist. Pigeonhole
    * blocking: split the 64-bit fingerprint into (maxDist+1) blocks; a
    * qualifying pair must agree on at least one block. The pairs come from
    * [[bandedPairs]] over one-element signatures (the fingerprint), with
    * block b as band b's key and `hamming ≤ maxDist` as the in-bucket
    * test — the same cap, cross-band skip, dedup and rebalance as
    * [[minhashLsh]], and the same static-input assumption: the
    * capped-bucket set is snapshotted when this frame is built.
    */
  def simhashPairs(
      df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3, maxBucketSize: Int = 100000): DataFrame = {
    val width = 64 / (maxDist + 1)
    // the low `width` bits; at width 64 (maxDist = 0) the whole fingerprint
    val mask = if (width == 64) -1L else (1L << width) - 1
    val fpUdf = udf((t: String) => Array(SimHash.fingerprint(t)))
    val sigs = df.select(col(idCol).as("id"), lit("").as("blk"),
      fpUdf(col(textCol)).as("sig"), lit(true).as("is_new"))
    bandedPairs(sigs, maxDist + 1, 1, maxBucketSize)(
      (fp, b) => (fp(0) >>> (b * width)) & mask,
      (a, b) => {
        val d = SimHash.hamming(a(0), b(0))
        if (d <= maxDist) d.toDouble else -1.0
      })
      .select(col("id_a"), col("id_b"), col("value").cast("int").as("hamming"))
  }

  /** The verifier's tokenization, shared by [[neardupVerified]] and
    * [[neardupVerifiedIncremental]]: it matches the CANDIDATE shingling
    * exactly — single-space split of the lowercased text, word k-grams
    * for shingleK > 1 (the n-gram-Jaccard variant — same strings MinHash
    * hashes, incl. the <k-words whole-text fallback), distinct. Sorted so
    * the per-pair intersection is ONE allocation-free merge walk
    * (sorted_intersect_size) instead of array_intersect+array_union hash
    * sets — the per-candidate verify cost that dominated at 1M pairs; the
    * sort runs once per DOCUMENT. |A∪B| = |A|+|B|-|A∩B| gives the same
    * integer sizes, hence bit-identical jaccard doubles (oracle parity).
    */
  def sortedGramTokens(text: Column, shingleK: Int): Column = {
    val ws = filter(split(lower(text), " "), w => length(w) > 0)
    val gramArr =
      if (shingleK == 1) ws
      else when(size(ws) >= shingleK,
        transform(sequence(lit(1), size(ws) - (shingleK - 1)),
          i => concat_ws(" ", slice(ws, i, lit(shingleK)))))
        .otherwise(when(size(ws) > 0, array(concat_ws(" ", ws)))
          .otherwise(array().cast("array<string>")))
    array_sort(array_distinct(gramArr))
  }

  /** Hashed-token twin of [[sortedGramTokens]]: the same distinct gram set
    * mapped through xxhash64 and sorted as LONGS — the shape the verify
    * joins actually shuffle and merge-walk. An 8-byte hash replaces a
    * ~20-30 byte gram string, so the candidate-pair join exchanges carry
    * 3-4× fewer bytes and the per-pair merge walk compares raw longs
    * instead of UTF8Strings (the per-candidate cost that dominates at 1M
    * pairs). Set sizes and intersection counts — hence the emitted
    * jaccard doubles — are IDENTICAL to the string twin unless two
    * distinct grams collide in 64 bits (P ≈ n²/2⁶⁵; ~1e-7 even at 10⁹
    * distinct grams per doc-pair universe), the same hash-keyed trade
    * LineDedup and SpanDedup already make; DedupAnnSpec locks hashed ≡
    * string-keyed output on the fixture corpus.
    */
  def sortedGramTokenHashes(text: Column, shingleK: Int): Column = {
    val ws = filter(split(lower(text), " "), w => length(w) > 0)
    val gramArr =
      if (shingleK == 1) ws
      else when(size(ws) >= shingleK,
        transform(sequence(lit(1), size(ws) - (shingleK - 1)),
          i => concat_ws(" ", slice(ws, i, lit(shingleK)))))
        .otherwise(when(size(ws) > 0, array(concat_ws(" ", ws)))
          .otherwise(array().cast("array<string>")))
    array_sort(transform(array_distinct(gramArr), g => xxhash64(g)))
  }

  /** Partition count for [[bandedPairs]]' candidate rebalance: the
    * session's configured shuffle parallelism (the scale-adaptive knob
    * clusters already size), passed as an EXPLICIT repartition count so
    * byte-based AQE coalescing cannot fold the narrow-bytes, fat-compute
    * verify stage into a single wave (the decideWindowed lesson in
    * CLAUDE.md).
    */
  private def verifyPartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** Scale-safe exact near-dup pairs: MinHash-LSH candidate generation
    * followed by exact word-set Jaccard verification — the 100 TB shape
    * (candidates are linear in corpus size; the exact O(len) verify runs
    * only on candidate pairs), with output identical to the brute-force
    * all-pairs [[jaccardPairs]] above the threshold.
    *
    * Candidate generation shingles at `shingleK` — the SAME k the
    * verifier tokenizes at, so the MinHash collision probability always
    * tracks the exact Jaccard being verified. Default k=1 verifies
    * word-SET Jaccard; k≥2 is the n-gram-Jaccard variant (the verified
    * metric is k-shingle-set Jaccard, which decays much faster under
    * small edits — a deliberate stricter similarity notion, not a recall
    * break, because candidates and verifier move together). 24 bands ×
    * 6 rows: a pair at J = 0.9 misses all bands with probability
    * (1-0.9^6)^24 ≈ 1.3e-8.
    *
    * Candidate pre-filter: in-bucket estimate ≥ minJaccard - 0.2. With
    * 144 hashes the estimator std at J = 0.9 is √(0.9·0.1/144) ≈ 2.5%,
    * so a true ≥ 0.9 pair estimating below 0.7 is an 8σ event (~1e-15) —
    * recall is untouched while the mid-similarity candidate bulk is
    * dropped inside the bucket UDF, before it ever becomes shuffle rows
    * (on the dense test corpus that beat id-only candidate emission 2×).
    *
    * `blockCol`: optional blocking key, folded into the LSH bucket key
    * (same-block candidates only — strictly smaller buckets and a
    * block-partitioned shuffle; equivalent to blocking the brute force).
    *
    * NOTE on oracle parity: the LSH path is probabilistic (miss ~1.3e-8
    * per pair at J = 0.9 given the band math above, plus the 8σ prefilter
    * tail) — exact on the committed fixtures and verified at sf0.001 and
    * sf0.1 (DedupAnnSpec exactness gates); regenerating the corpus
    * requires re-running the sf0.1 `oracle_gate.py … q_neardup_verified`
    * gate.
    *
    * Lost pushdown (deliberate): the `jaccard` column comes from
    * `sorted_jaccard_ge`, which reports itself non-deterministic so the
    * `jaccard >= t` filter cannot be inlined into the pair-join condition
    * (that re-ran the merge walk 2-3× per pair). The cost lands on
    * callers: NO predicate on this output — not even a cheap one on
    * id_a/id_b — is pushed below the final projection, so filter the
    * input `df` (or block with `blockCol`) instead of filtering the pairs
    * afterwards. The plan-shape specs in DedupAnnSpec (one walk, no dedup
    * exchange) are the canaries if a Spark upgrade changes this.
    */
  def neardupVerified(
      df: DataFrame, textCol: String, idCol: String,
      minJaccard: Double, bands: Int = 24, rowsPerBand: Int = 6,
      seed: Long = 42L, maxBucketSize: Int = 100000,
      blockCol: Option[String] = None,
      shingleK: Int = 1): DataFrame = {
    // the candidates arrive hash-partitioned on id_a (the core's rebalance)
    val cands = minhashLsh(df, textCol, idCol, bands, rowsPerBand,
      shingleK = shingleK, seed = seed,
      minEst = math.max(0.0, minJaccard - 0.2),
      maxBucketSize = maxBucketSize, blockCol = blockCol)
      .select("id_a", "id_b")
    // hashed tokens through the join + merge walk (3-4× narrower shuffle
    // rows, long compares) — see [[sortedGramTokenHashes]] for the
    // equivalence argument and the spec that locks it
    val toks = df.select(
      col(idCol).as("id"),
      sortedGramTokenHashes(col(textCol), shingleK).as("toks"))
    def side(suffix: String) = toks.select(
      col("id").as(s"id_$suffix"), col("toks").as(s"toks_$suffix"))
    cands.join(side("a"), Seq("id_a")).join(side("b"), Seq("id_b"))
      // ONE fused threshold walk per candidate pair (sub-threshold pairs
      // abort to -1.0 and are filtered — the rows the filter discarded
      // before; survivors complete the walk, bit-identical jaccard). The
      // expr is non-deterministic-flagged so the filter below cannot be
      // pushed into the join condition, which had been re-evaluating the
      // walk 2-3× per pair — see SortedJaccardGeExpr
      .withColumn("jaccard",
        vigil.functions.sorted_jaccard_ge(
          col("toks_a"), col("toks_b"), minJaccard))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Incremental verified near-dup: [[minhashLshIncremental]] candidates
    * (new×corpus ∪ new×new only) verified with the same exact word-set
    * Jaccard merge walk as [[neardupVerified]] — output identical to the
    * new-touching slice of a from-scratch run over the union.
    *
    * Scale shape: the corpus contributes its (stored) signature table to
    * candidate generation; the verify stage then tokenizes the text
    * tables with a NARROW full scan (the equi-joins evaluate the
    * tokenization projection over the whole corpusText ∪ batch union —
    * a shuffle or broadcast join computes its streamed side completely;
    * no per-row candidate pruning happens here). The scan is cheap (one
    * projection, no exchange before the join), and the expensive MinHash
    * kernel runs ONLY over the batch. To actually prune tokenization to
    * candidate rows at 100 TB, MATERIALIZE the candidate pair table and
    * semi-join the text tables against it — deriving the id set from
    * `cands` in-query self-references the pair generation and re-runs it
    * (2× the wall, measured r4), and persisting `cands` to break the
    * self-reference blinds AQE's join planning.
    * `corpusText` is the text table matching `corpusSigs` (idCol/textCol
    * columns); signatures must have been computed with the same
    * bands/rowsPerBand/seed and the same `shingleK` as passed here (the
    * candidate/verifier tokenization contract, see [[neardupVerified]];
    * the banding guard in the pair stage catches length mismatches, but
    * shingleK/seed mismatches are not detectable from the table alone).
    */
  def neardupVerifiedIncremental(
      corpusSigs: DataFrame, corpusText: DataFrame, newBatch: DataFrame,
      textCol: String, idCol: String, minJaccard: Double,
      bands: Int = 24, rowsPerBand: Int = 6, seed: Long = 42L,
      maxBucketSize: Int = 100000,
      blockCol: Option[String] = None,
      shingleK: Int = 1): DataFrame = {
    // the pair stage consumes its input twice (capped pre-pass + member
    // aggregation): corpusSigs is a stored table by contract (cheap
    // rescan), but the batch signatures are UDF-computed here — persist
    // them so the MinHash pass runs once per batch document
    val newSigs = persistSigs(computeSignatures(newBatch, textCol, idCol,
      bands, rowsPerBand, shingleK = shingleK, seed = seed,
      blockCol = blockCol))
    val cands = minhashLshIncremental(corpusSigs, newSigs, bands,
      rowsPerBand, minEst = math.max(0.0, minJaccard - 0.2),
      maxBucketSize = maxBucketSize)
      .select("id_a", "id_b")
    val toks = corpusText
      .select(col(idCol).as("id"), col(textCol).as("t"))
      .unionByName(newBatch.select(col(idCol).as("id"), col(textCol).as("t")))
      .select(col("id"), sortedGramTokenHashes(col("t"), shingleK).as("toks"))
    def side(suffix: String) = toks.select(
      col("id").as(s"id_$suffix"), col("toks").as(s"toks_$suffix"))
    cands.join(side("a"), Seq("id_a")).join(side("b"), Seq("id_b"))
      // one fused threshold walk per pair — same contract and
      // duplication-blocking rationale as in [[neardupVerified]]
      .withColumn("jaccard",
        vigil.functions.sorted_jaccard_ge(
          col("toks_a"), col("toks_b"), minJaccard))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  // ---------- exact n-gram Jaccard (verifier / oracle-pairable) ----------

  /** Brute-force word-set Jaccard pairs within a blocking column — the
    * exact verifier. Pure built-in columns so it is DuckDB-oracle-pairable
    * (integer intersect/union sizes divide to identical doubles).
    */
  def jaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      blockCol: String, minJaccard: Double): DataFrame = {
    // sorted token sets: per-pair intersection size is one merge walk
    // (see neardupVerified — same kernel, same oracle-parity argument)
    val toks = df.select(
      col(idCol).as("id"), col(blockCol).as("blk"),
      array_sort(array_distinct(
        filter(split(lower(col(textCol)), " "), w => length(w) > 0))).as("toks"))
      .withColumn("n", size(col("toks")))
    val a = toks.as("a")
    val b = toks.as("b")
    // lossless length prefilter: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so
    // J ≥ t requires the set sizes to be within a factor t — this prunes
    // most candidate pairs before the O(len) intersect work
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id") &&
        least(col("a.n"), col("b.n")).cast("double") >=
          lit(minJaccard) * greatest(col("a.n"), col("b.n")))
      // one fused threshold walk per length-compatible pair (was: the
      // jaccard filter pushed the unthresholded walk into the join
      // condition twice plus the projection — see SortedJaccardGeExpr;
      // survivors' doubles are bit-identical, sub-threshold pairs abort
      // to -1.0 behind the same filter that dropped them before)
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        vigil.functions.sorted_jaccard_ge(
          col("a.toks"), col("b.toks"), minJaccard).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }
}
