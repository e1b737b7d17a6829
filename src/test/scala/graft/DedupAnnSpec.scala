package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import vigil.{ComponentsBudget, LshReference, TextStats}
import vigil.ann.Ann
import vigil.dedup.Dedup

/** Dedup family (exact, MinHash-LSH, SimHash, Jaccard, winnowing) and ANN. */
class DedupAnnSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away today"
  private def corpus = Seq(
    (0L, base),
    (1L, base), // exact dup of 0
    (2L, base.replace("quick", "rapid")), // near dup of 0
    (3L, "completely different text about spark shuffles and partitions here"),
    (4L, base + " with a small tail appended at the end of it all"),
    (5L, "another unrelated document mentioning joins aggregations and windows")
  ).toDF("doc_id", "text")

  test("exact dedup flags later identical rows") {
    val r = Dedup.exact(corpus, "text", "doc_id")
      .select("doc_id", "is_dup").collect()
      .map(x => x.getLong(0) -> x.getBoolean(1)).toMap
    assert(!r(0L) && r(1L) && !r(2L) && !r(3L))
  }

  test("minhash estimates approach true jaccard; lsh finds near-dup pairs") {
    val sigA = Dedup.MinHash.signature(base, 128, 3, 42L)
    val sigB = Dedup.MinHash.signature(base.replace("quick", "rapid"), 128, 3, 42L)
    val shA = Dedup.MinHash.shingles(base, 3)
    val shB = Dedup.MinHash.shingles(base.replace("quick", "rapid"), 3)
    val trueJ = shA.intersect(shB).size.toDouble / shA.union(shB).size
    val estJ = Dedup.MinHash.estJaccard(sigA, sigB)
    assert(math.abs(trueJ - estJ) < 0.2, s"true=$trueJ est=$estJ")
    assert(Dedup.MinHash.estJaccard(sigA, sigA) == 1.0)

    val pairs = Dedup.minhashLsh(corpus, "text", "doc_id", minEst = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"exact dup must collide: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc must not pair: $pairs")
  }

  test("simhash: identical fp for identical text, close fp for near dup") {
    val a = Dedup.SimHash.fingerprint(base)
    val b = Dedup.SimHash.fingerprint(base.replace("quick", "rapid"))
    val c = Dedup.SimHash.fingerprint(
      "completely different text about spark shuffles and partitions here")
    assert(Dedup.SimHash.hamming(a, a) == 0)
    assert(Dedup.SimHash.hamming(a, b) < Dedup.SimHash.hamming(a, c))

    val pairs = Dedup.simhashPairs(corpus, "text", "doc_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 3L)))
    // maxDist = 0 keys each bucket on the whole fingerprint: the exact-dup
    // pair, renumbered to the two largest ids, survives a cap of 2
    val renumbered = corpus.withColumn("doc_id", pmod(col("doc_id") + 4, lit(6)))
    val exact = Dedup.simhashPairs(renumbered, "text", "doc_id", maxDist = 0,
      maxBucketSize = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((4L, 5L)), s"maxDist = 0 under a cap of 2: $exact")
  }

  test("jaccard pairs: exact dup = 1.0 within block") {
    val blocked = corpus.withColumn("source", lit("s"))
    val pairs = Dedup.jaccardPairs(blocked, "text", "doc_id", "source", 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(!pairs.contains((0L, 3L)))
  }

  test("winnowing: shared long runs share fingerprints; guarantees overlap") {
    val df = Seq((0L, base), (1L, base), (2L, "nothing in common at all zz"))
      .toDF("doc_id", "text")
      .withColumn("grams", TextStats.shingleHashes(col("text")))
      .select(col("doc_id"), TextStats.winnow(col("grams")).as("fp"))
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(rows(0L) == rows(1L))
    assert(rows(0L).intersect(rows(2L)).isEmpty)
  }

  test("WinnowFingerprintExpr is bit-identical to the pure-column path") {
    val texts = Seq(base, base + " extra tail words here", "one two", "x",
      "", "  ", "a b c d e f g h i j k l m n o p q r s t")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("grams", vigil.TextStats.shingleHashes(col("text")))
      .withColumn("fp_cols", vigil.TextStats.winnow(col("grams")))
      .withColumn("fp_expr", vigil.functions.winnow_fingerprint(col("text")))
    val bad = df.filter(col("fp_cols") =!= col("fp_expr")).collect()
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("ann: brute-force topk is sane and lsh refinement is a subset-rank") {
    val rng = new scala.util.Random(7)
    def vec(seed: Array[Float]): Seq[Float] = seed.toSeq
    val v0 = Array.fill(64)(rng.nextGaussian().toFloat)
    val near = v0.map(x => x + 0.01f * rng.nextGaussian().toFloat)
    val anti = v0.map(x => -x)
    val vecs = Seq(
      (0L, vec(v0)), (1L, vec(near)), (2L, vec(anti))
    ) ++ (3L to 30L).map(i => (i, vec(Array.fill(64)(rng.nextGaussian().toFloat))))
    val df = vecs.toDF("vec_id", "embedding")

    val bf = Ann.bruteForceTopK(df, df.filter(col("vec_id") === 0L),
      "vec_id", "embedding", k = 3).collect()
    assert(bf.head.getAs[Long]("nn_id") == 1L, "nearest must be the jittered copy")
    assert(bf.head.getAs[Double]("cos") > 0.99)
    assert(!bf.map(_.getAs[Long]("nn_id")).contains(2L), "antipode cannot be top-3")

    val lsh = Ann.lshTopK(df, df.filter(col("vec_id") === 0L),
      "vec_id", "embedding", k = 3).collect()
    assert(lsh.head.getAs[Long]("nn_id") == 1L,
      "lsh must recover the true nearest (same-sign signature)")

    val dups = Ann.cosineNearDupPairs(df, "vec_id", "embedding", minCos = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((0L, 1L)))
  }

  test("CosineSimExpr is bit-identical to the HOF fold it replaced") {
    // the normative formulation the flat-loop expression must reproduce:
    // sequential left folds, denominator = product of the two sqrts
    def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val dot = aggregate(zip_with(a, b, (x, y) => x * y),
        lit(0.0d), (acc, x) => acc + x)
      val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, x) => acc + x))
      val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0d), (acc, x) => acc + x))
      when(na === 0 || nb === 0, lit(0.0)).otherwise(dot / (na * nb))
    }
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = emb.as("a").join(emb.as("b"),
        col("a.vec_id") + 1 === col("b.vec_id"))
      .select(col("a.v").as("va"), col("b.v").as("vb"))
    val diff = pairs
      .select(Ann.cosine(col("va"), col("vb")).as("flat"),
        hofCosine(col("va"), col("vb")).as("hof"))
      .filter(col("flat") =!= col("hof")) // bit-level: NaN-free unit-ish vecs
      .count()
    assert(diff == 0L, "flat-loop cosine must be bit-identical to the HOF fold")
    // null / length-mismatch / zero-norm parity with the HOF semantics
    val edge = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(1.0, 2.0, 3.0))), // length mismatch
      (None, Some(Seq(1.0))),                          // null side
      (Some(Seq(0.0, 0.0)), Some(Seq(1.0, 1.0)))       // zero norm
    ).toDF("a", "b")
      .select(Ann.cosine(col("a"), col("b")).as("c")).collect()
    assert(edge(0).isNullAt(0) && edge(1).isNullAt(0))
    assert(edge(2).getDouble(0) == 0.0)
  }

  test("sorted_intersect_size equals array_intersect size on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        array_sort(array_distinct(filter(split(lower(col("text")), " "),
          w => length(w) > 0))).as("toks"))
    val pairs = docs.as("a").join(docs.as("b"),
        col("a.doc_id") < col("b.doc_id") && col("b.doc_id") <= col("a.doc_id") + 7)
      .select(col("a.toks").as("ta"), col("b.toks").as("tb"))
    val diff = pairs.select(
        vigil.functions.sorted_intersect_size(col("ta"), col("tb")).as("fast"),
        size(array_intersect(col("ta"), col("tb"))).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(diff == 0L, "merge-walk intersect size must equal array_intersect")
    // edge cases: empty side, disjoint, identical
    val edge = Seq(
      (Seq[String](), Seq("a", "b")),
      (Seq("a", "b"), Seq("c", "d")),
      (Seq("a", "b", "c"), Seq("a", "b", "c"))
    ).toDF("a", "b")
      .select(vigil.functions.sorted_intersect_size(col("a"), col("b")).as("s"))
      .collect().map(_.getInt(0)).toSeq
    assert(edge == Seq(0, 0, 3))
  }

  test("unreachable recall target throws instead of silently clamping") {
    // designCos = decision threshold (0.95) with wide 20-bit band keys
    // needs ~128 bands for miss <= 1e-7 — far past maxBands. The old code
    // clamped to maxBands silently (≈1.75% miss per threshold-level pair,
    // invisible to the oracle gates); now it must refuse loudly.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ex = intercept[IllegalArgumentException] {
      Ann.cosineNearDupPairs(emb, "vec_id", "embedding", minCos = 0.95,
        bandBits = 20, designCos = 0.95)
    }
    assert(ex.getMessage.contains("raise maxBands"))
  }

  test("maxDisagreeFor: binomial tail budget is sound and tight") {
    // designCos 0.9999 over 40 bits: p = acos/π ≈ 0.0045, so the budget is
    // small but nonzero; a pair AT designCos must pass with prob ≥ 1-miss
    val m = Ann.maxDisagreeFor(40, 0.9999, 1e-7)
    assert(m >= 2 && m <= 10, s"budget $m out of plausible range")
    // exact tail check: P(Binom(40, p) > m) <= 1e-7 and > at m-1 (tight)
    val p = math.acos(0.9999) / math.Pi
    def tailAbove(k: Int): Double = {
      val probs = (0 to 40).map(i =>
        (BigDecimal(spire(40, i)) * BigDecimal(math.pow(p, i)) *
          BigDecimal(math.pow(1 - p, 40 - i))).toDouble)
      probs.drop(k + 1).sum
    }
    def spire(n: Int, k: Int): Double =
      (1 to k).map(i => (n - k + i).toDouble / i).product
    assert(tailAbove(m) <= 1e-7)
    assert(tailAbove(m - 1) > 1e-7, "budget must be the smallest sufficient m")
    // perfect similarity needs no budget; orthogonal similarity ~ half bits
    assert(Ann.maxDisagreeFor(40, 1.0, 1e-7) == 0)
    assert(Ann.maxDisagreeFor(40, 0.0, 0.5) >= 19)
  }

  test("vector_sum aggregate equals per-element sum columns") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("g", pmod(col("vec_id"), lit(4)))
    val fast = emb.groupBy("g")
      .agg(vigil.functions.vector_sum(col("v"), 64).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val ref = emb.groupBy("g")
      .agg(array((0 until 64).map(i =>
        sum(element_at(col("v"), i + 1))): _*).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(fast.keySet == ref.keySet)
    // same partial/merge shape as per-column sums → equal to fp noise
    fast.foreach { case (g, s) =>
      s.zip(ref(g)).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
          s"group $g diverges: $a vs $b")
      }
    }
  }

  test("ivf: full probe equals brute force; partial probe is rank-consistent") {
    // double-cast once so brute (no internal cast) and ivf (casts inside)
    // compute bit-identical cosines
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val brute = rows(Ann.bruteForceTopK(emb, q, "vec_id", "embedding", k = 3))
    // probing EVERY centroid degenerates to exact search
    val full = rows(Ann.ivfTopK(emb, q, "vec_id", "embedding", k = 3,
      nCentroids = 8, nProbe = 8))
    assert(full.map(t => (t._1, t._2, t._3)).toSeq ==
      brute.map(t => (t._1, t._2, t._3)).toSeq,
      "nProbe = nCentroids must reproduce the exact top-k")
    // partial probe: approximate — every query still answered, and each
    // rank's cosine can only be ≤ the exact rank's cosine
    val part = rows(Ann.ivfTopK(emb, q, "vec_id", "embedding", k = 3,
      nCentroids = 8, nProbe = 2))
    assert(part.map(_._1).distinct.length == 5, "all queries answered")
    val bruteByQR = brute.map(t => (t._1, t._2) -> t._4).toMap
    part.foreach { case (qid, rank, _, cos) =>
      assert(cos <= bruteByQR((qid, rank)) + 1e-12,
        s"approximate rank-$rank cos must not beat exact for query $qid")
    }
  }

  test("incremental minhash dedup equals the new-touching slice of from-scratch") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    for (cap <- Seq(100000, 3)) {
      val scratch = toSet(Dedup.minhashLsh(docs, "text", "doc_id",
        bands = 24, rowsPerBand = 6, shingleK = 1, minEst = 0.7,
        maxBucketSize = cap))
      val corpusSigs = Dedup.computeSignatures(corpus, "text", "doc_id",
        bands = 24, rowsPerBand = 6, shingleK = 1)
      val newSigs = Dedup.computeSignatures(batch, "text", "doc_id",
        bands = 24, rowsPerBand = 6, shingleK = 1)
      val inc = toSet(Dedup.minhashLshIncremental(corpusSigs, newSigs,
        bands = 24, rowsPerBand = 6, minEst = 0.7, maxBucketSize = cap))
      val expected = scratch.filter(p => batchIds(p._1) || batchIds(p._2))
      assert(inc == expected,
        s"cap=$cap: incremental must equal the batch-touching slice " +
          s"(missing=${(expected -- inc).take(3)}, extra=${(inc -- expected).take(3)})")
      assert(inc.forall(p => batchIds(p._1) || batchIds(p._2)),
        "no corpus×corpus pair may be emitted")
      assert(expected.nonEmpty, "fixture must actually exercise the slice")
    }
  }

  test("incremental cosine near-dup equals the new-touching slice of from-scratch") {
    // planted near-dup corpus (same construction as q_cosine_neardup);
    // batch = every 3rd planted copy, corpus = everything else, so the
    // operator must EMIT new×corpus pairs and SUPPRESS the equally-real
    // corpus×corpus planted pairs
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val planted = base
      .select((col("vec_id") + lit(1000000L)).as("new_id"), col("embedding"))
      .select(col("new_id").as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x + sin(col("new_id") * (i + 1)) * lit(0.005)).cast("float"))
          .as("embedding"))
    val all = base.unionByName(planted)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val isBatch = col("vec_id") >= 1000000L &&
      pmod(col("vec_id") - 1000000L, lit(3)) === 0
    val batch = all.filter(isBatch)
    val corpus = all.filter(!isBatch)
    val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val full = toSet(Ann.cosineNearDupPairs(all, "vec_id", "embedding",
      minCos = 0.95, bandBits = 8, bands = 8))
    val corpusSigs = Ann.computeSignSignatures(corpus, "vec_id", "embedding",
      bandBits = 8, bands = 8)
    val inc = toSet(Ann.cosineNearDupPairsIncremental(corpusSigs, corpus,
      batch, "vec_id", "embedding", minCos = 0.95, bandBits = 8, bands = 8))
    val expected = full.filter(p => batchIds(p._1) || batchIds(p._2))
    assert(inc == expected,
      s"missing=${(expected -- inc).take(3)}, extra=${(inc -- expected).take(3)}")
    assert(expected.nonEmpty && full.size > expected.size,
      "fixture must exercise both emission and suppression")
  }

  /** 150 seeded random 64-dim vectors plus a perturbed copy of each at
    * id + 1000 (cos ≈ 0.9999+). Returns (all, batch, corpus): the batch is
    * every 3rd copy, the corpus the rest, so an incremental face must emit
    * new×corpus pairs and suppress the equally-real corpus×corpus ones.
    */
  private def plantedVectors(): (DataFrame, DataFrame, DataFrame) = {
    val rng = new scala.util.Random(3)
    val base = (0L until 150L).map(i => (i, Seq.fill(64)(rng.nextGaussian())))
    val copies = base.map { case (i, v) =>
      (i + 1000L, v.map(x => x + rng.nextGaussian() * 0.003))
    }
    val all = (base ++ copies).toDF("vec_id", "embedding")
    val isBatch = col("vec_id") >= 1000L && pmod(col("vec_id"), lit(3)) === 0
    (all, all.filter(isBatch), all.filter(!isBatch))
  }

  test("recall-designed lshTopK recovers every planted neighbor in rank order") {
    // q_ann_lsh's oracle pairing rests on this: with bands derived from
    // designCos = 0.999 at miss 1e-7, each query's top-5 must be EXACTLY
    // its 5 planted copies (all at cos ≥ ~0.9996, far above the ~0.51
    // background) — full recall, no background impostor. The rank ORDER
    // among the copies is data-dependent (the sin perturbation is not
    // monotone in j per direction) and is proven against brute force by
    // the DuckDB oracle, not here.
    val got = SparkEntry.queries("q_ann_lsh")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 50, s"10 queries × top-5, got ${got.length}")
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val expected = (1 to 5).map(j => qid + j * 1000000L).toSet
      assert(rows.map(_._3).toSet == expected,
        s"query $qid top-5 must be its planted copies, got ${rows.toSeq}")
      assert(rows.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    }
  }

  test("ivf stored index: round-trip search, re-assign, and append-batch are exact") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

    // the stored-table contract: build → write → read → search must be
    // bit-identical (incl. cosines) to the direct one-call path
    val direct = rows(Ann.ivfTopK(emb, q, "vec_id", "embedding", k = 3,
      nCentroids = 8, nProbe = 3))
    val (cdf, pdf) = Ann.ivfBuild(emb, "vec_id", "embedding", nCentroids = 8)
    val dir = java.nio.file.Files.createTempDirectory("vigil_ivf").toString
    cdf.write.mode("overwrite").parquet(s"$dir/centroids")
    pdf.write.mode("overwrite").parquet(s"$dir/posting")
    val viaStore = rows(Ann.ivfSearch(
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/posting"),
      q, "vec_id", "embedding", k = 3, nProbe = 3))
    assert(viaStore.toSeq == direct.toSeq)

    // assigning the index's own corpus against the STORED centroids must
    // reproduce its posting table (build-time and ingest-time assignment
    // share one kernel)
    val reassigned = Ann.ivfAssign(
      spark.read.parquet(s"$dir/centroids"), emb, "vec_id", "embedding")
    assert(reassigned.except(pdf).isEmpty && pdf.except(reassigned).isEmpty)

    // recurring-ingest: build on 2/3 of the corpus, ivfAssign the new 1/3
    // and append; full-probe search over the appended posting equals
    // brute force over the whole union
    val corpus = emb.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(3)) === 0)
    val (c2, p2) = Ann.ivfBuild(corpus, "vec_id", "embedding", nCentroids = 8)
    val appended = p2.unionByName(Ann.ivfAssign(c2, batch, "vec_id", "embedding"))
    val incFull = rows(Ann.ivfSearch(c2, appended, q, "vec_id", "embedding",
      k = 3, nProbe = 8))
    val brute = rows(Ann.bruteForceTopK(emb, q, "vec_id", "embedding", k = 3))
    assert(incFull.toSeq == brute.toSeq,
      "full-probe search over the appended index must equal brute force")
  }

  test("ivf: null and ragged vectors don't poison centroids or results") {
    // VectorSumAgg.update skips null/wrong-length vectors; the centroid
    // denominator must count only folded rows (r3 advice) and a cluster
    // with zero valid members must keep its previous centroid, not 0/0
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val polluted = emb
      .withColumn("embedding",
        when(pmod(col("vec_id"), lit(7)) === 0, lit(null).cast("array<double>"))
          .when(pmod(col("vec_id"), lit(11)) === 3, slice(col("embedding"), 1, 5))
          .otherwise(col("embedding")))
    val q = emb.filter(col("vec_id") < 5 && pmod(col("vec_id"), lit(7)) =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val full = rows(Ann.ivfTopK(polluted, q, "vec_id", "embedding", k = 3,
      nCentroids = 8, nProbe = 8))
    assert(full.forall(t => !t._4.isNaN), "no NaN cosines from polluted rows")
    // full probe over the polluted corpus ≡ brute force over it: invalid
    // rows may enter candidates but can never outrank a valid neighbor
    val brute = rows(Ann.bruteForceTopK(polluted.filter(col("embedding").isNotNull),
      q, "vec_id", "embedding", k = 3))
    assert(full.map(t => (t._1, t._2, t._3)).toSeq ==
      brute.map(t => (t._1, t._2, t._3)).toSeq,
      "full probe over polluted corpus must match brute force")
  }

  test("estJaccardAtLeast keeps a pair exactly at the threshold (ceil boundary)") {
    // minEst*n an exact integer in reals but rounded up in double:
    // 0.8*145 = 116.0000000000000064 → naive ceil demands 117 and drops a
    // pair with exactly 116/145 matches (r2 advice; epsilon guard)
    val n = 145
    val a = Array.tabulate(n)(i => i.toLong)
    val b = Array.tabulate(n)(i => if (i < 116) i.toLong else -1L - i)
    val est = Dedup.MinHash.estJaccardAtLeast(a, b, 0.8)
    assert(est >= 0.8, s"boundary pair dropped: est=$est (116/145=${116.0 / 145})")
    assert(est == 116.0 / 145)
  }

  test("cross-band skip is exact: skip-on equals skip-off, with and without caps") {
    // the r2 lesson: a first-colliding-band skip silently loses pairs
    // sliced out of an earlier band's CAPPED bucket. The pair core's
    // capped-aware skip must emit the identical pair set as no-skip at ANY
    // cap, for every generator and face — under a tiny cap both modes lose
    // the same (documented) sliced-out pairs, never different ones.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isBatchDoc = pmod(col("doc_id"), lit(3)) === 0
    def minhashSigs(df: DataFrame) = Dedup.computeSignatures(df, "text",
      "doc_id", bands = 24, rowsPerBand = 6, shingleK = 1)
    val (vecs, vecBatch, vecCorpus) = plantedVectors()
    // 4-bit keys: ~19 vectors per bucket, so caps 2 and 8 bite
    val vecSigs = Ann.computeSignSignatures(vecCorpus, "vec_id", "embedding",
      bandBits = 4, bands = 8)
    val faces: Seq[(String, Int => DataFrame)] = Seq(
      "minhashLsh" -> (cap => Dedup.minhashLsh(docs, "text", "doc_id",
        bands = 24, rowsPerBand = 6, shingleK = 1, minEst = 0.7,
        maxBucketSize = cap)),
      "minhashLshIncremental" -> (cap => Dedup.minhashLshIncremental(
        minhashSigs(docs.filter(!isBatchDoc)), minhashSigs(docs.filter(isBatchDoc)),
        bands = 24, rowsPerBand = 6, minEst = 0.7, maxBucketSize = cap)),
      "simhashPairs" -> (cap => Dedup.simhashPairs(docs, "text", "doc_id",
        maxDist = 3, maxBucketSize = cap)),
      "cosineNearDupPairs" -> (cap => Ann.cosineNearDupPairs(vecs, "vec_id",
        "embedding", minCos = 0.95, bandBits = 4, bands = 8, maxBucketSize = cap)),
      "cosineNearDupPairsIncremental" -> (cap => Ann.cosineNearDupPairsIncremental(
        vecSigs, vecCorpus, vecBatch, "vec_id", "embedding", minCos = 0.95,
        bandBits = 4, bands = 8, maxBucketSize = cap)))
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2)))
    val sizes = scala.collection.mutable.Map.empty[(String, Int), Int]
    for ((face, pairs) <- faces; cap <- Seq(2, 8, 100000)) {
      val on = rows(pairs(cap))
      val off = rows(LshReference.skipOff(pairs(cap)))
      assert(on.toSet == off.toSet,
        s"$face cap=$cap: skip-on ${on.toSet.size} pairs != skip-off " +
          s"${off.toSet.size}; missing=${(off.toSet -- on).take(3)} " +
          s"extra=${(on.toSet -- off).take(3)}")
      sizes((face, cap)) = on.toSet.size
      if (cap == 100000) {
        // MULTIPLICITY lock: with no bucket capped the pair-dedup
        // groupBy is ELIDED on the claim that each pair is emitted exactly
        // once (first colliding band only). The set compare above would
        // collapse a duplicate-emission regression, so count rows.
        val dups = on.groupBy(p => (p._1, p._2)).filter(_._2.length > 1).keys
        assert(dups.isEmpty,
          s"$face: uncapped skip path emitted duplicate pairs: ${dups.take(3).toList}")
      }
    }
    // the fixture exercises the caps: a cap of 2 slices pairs out of
    // every face (and the uncapped run is not empty)
    faces.foreach { case (face, _) =>
      assert(sizes((face, 2)) < sizes((face, 100000)), s"$face: $sizes")
    }
  }

  test("banding guard: sign signatures stored at 8 bands fail a 6-band query") {
    // a stored table built with other banding parameters used to index
    // past the end of the shorter signature in the hamming loop, or
    // compare a prefix without a word
    val (_, batch, corpus) = plantedVectors()
    val sigs8 = Ann.computeSignSignatures(corpus, "vec_id", "embedding",
      bandBits = 8, bands = 8)
    val e = intercept[Exception] {
      Ann.cosineNearDupPairsIncremental(sigs8, corpus, batch, "vec_id",
        "embedding", minCos = 0.95, bandBits = 8, bands = 6).collect()
    }
    val guard = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x }
    assert(guard.exists(_.getMessage.contains("different banding parameters")),
      s"expected the banding guard, got $e")
  }

  test("randomized exactness: neardupVerified equals brute on fuzz corpora") {
    // beyond the fixed fixtures: random corpora with random dup clusters,
    // LSH-candidates + exact verify must equal brute-force all-pairs at
    // the threshold on EVERY seed (miss prob ~1.3e-8/pair by the band
    // math — deterministic in practice; a real miss here is a bug)
    val vocab = Array("dados", "processo", "prazo", "resposta", "pedido",
      "governo", "cidade", "solicito", "documento", "informa", "lei",
      "portal", "acesso", "publico", "sistema", "registro")
    for (seed <- Seq(11L, 23L, 47L)) {
      val rng = new scala.util.Random(seed)
      def freshDoc() =
        Seq.fill(12 + rng.nextInt(25))(vocab(rng.nextInt(vocab.length)))
          .mkString(" ")
      def mutate(t: String) = { // near-dup: swap one word
        val w = t.split(" ")
        w(rng.nextInt(w.length)) = vocab(rng.nextInt(vocab.length))
        w.mkString(" ")
      }
      val docsRaw = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      var id = 0L
      while (docsRaw.length < 120) {
        val base = freshDoc()
        docsRaw += ((id, base)); id += 1
        val clones = rng.nextInt(4) // 0-3 near-dups per base
        (0 until clones).foreach { _ =>
          docsRaw += ((id, if (rng.nextBoolean()) base else mutate(base)))
          id += 1
        }
      }
      val df = docsRaw.toSeq.toDF("doc_id", "text")
        .withColumn("blk", lit("all"))
      def norm(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e12))).toSet
      val fast = norm(Dedup.neardupVerified(df, "text", "doc_id",
        minJaccard = 0.8).select("id_a", "id_b", "jaccard").collect())
      val brute = norm(Dedup.jaccardPairs(df, "text", "doc_id", "blk",
        minJaccard = 0.8).select("id_a", "id_b", "jaccard").collect())
      assert(fast == brute,
        s"seed $seed: LSH-verified (${fast.size}) != brute (${brute.size}); " +
          s"missing ${(brute -- fast).take(3)}, extra ${(fast -- brute).take(3)}")
    }
  }

  test("randomized exactness: cosineNearDupPairs finds every planted pair") {
    for (seed <- Seq(5, 19)) {
      val rng = new scala.util.Random(seed)
      val base = (0L until 150L).map { i =>
        (i, Seq.fill(64)(rng.nextGaussian()))
      }
      // planted near-dups: tiny deterministic perturbation (cos ≈ 0.9999+)
      val planted = base.map { case (i, v) =>
        (i + 1000L, v.map(x => x + rng.nextGaussian() * 0.003))
      }
      val df = (base ++ planted).toDF("vec_id", "embedding")
      val pairs = Ann.cosineNearDupPairs(df, "vec_id", "embedding",
        minCos = 0.95, seed = 42L + seed)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // exact truth by brute force over all C(300,2) pairs
      val all = (base ++ planted).map { case (i, v) => (i, v.toArray) }
      def cos(a: Array[Double], b: Array[Double]) = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < 64) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val truth = (for {
        x <- all.indices.iterator; y <- (x + 1 until all.length).iterator
        if cos(all(x)._2, all(y)._2) >= 0.95
      } yield (math.min(all(x)._1, all(y)._1), math.max(all(x)._1, all(y)._1))).toSet
      assert(pairs == truth,
        s"seed $seed: found ${pairs.size}, truth ${truth.size}; " +
          s"missing ${(truth -- pairs).take(3)}")
    }
  }

  test("plan: bucket window-cap and member aggregation share ONE exchange") {
    // the pre-aggregation row_number cap claims to add NO exchange: its
    // window partitions on the same (band, bh, blk) key the groupBy needs,
    // so the physical plan must contain exactly one bucket-keyed exchange
    // (a second would mean the window and the aggregation each shuffle)
    val pairs = Dedup.minhashLsh(corpus, "text", "doc_id", minEst = 0.8)
    val phys = pairs.queryExecution.executedPlan.toString
    val bucketExchanges = "hashpartitioning\\(band".r.findAllIn(phys).size
    assert(bucketExchanges == 1,
      s"expected 1 bucket-keyed exchange, saw $bucketExchanges:\n" +
        phys.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("plan: verify runs ONE fused walk per pair, outside the join condition," +
      " and the uncapped skip path has no pair-dedup exchange") {
    // r7: the `jaccard >= t` filter used to push through the verify join,
    // inlining the merge walk into the join condition twice (numerator +
    // denominator) plus once in the output projection — 2-3 walks per
    // candidate pair. The fused non-deterministic sorted_jaccard_ge must
    // appear exactly ONCE in the plan and the joins must carry NO
    // condition; and with the cross-band skip active and no capped bucket
    // each pair is emitted exactly once, so no (id_a, id_b)-keyed dedup
    // exchange may remain between the pair stream and the verify join.
    val verified = Dedup.neardupVerified(corpus, "text", "doc_id",
      minJaccard = 0.8)
    val phys = verified.queryExecution.executedPlan.toString
    // exactly one occurrence total ⇒ one eval per pair, and necessarily
    // none inlined into a join condition (which would add occurrences)
    val walks = "sorted_jaccard_ge".r.findAllIn(phys).size
    assert(walks == 1, s"expected exactly 1 fused walk in the plan, saw $walks:\n$phys")
    val pairDedup = "hashpartitioning\\(id_a#\\d+L?, id_b".r
    assert(pairDedup.findAllIn(phys).isEmpty,
      s"expected no (id_a, id_b) dedup exchange on the uncapped skip path:\n" +
        phys.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    // the sign-LSH generator rides the same core: no dedup exchange either
    val rng = new scala.util.Random(7)
    val vecs = (0L until 60L).map(i => (i, Seq.fill(64)(rng.nextGaussian())))
      .toDF("vec_id", "embedding")
    val vphys = Ann.cosineNearDupPairs(vecs, "vec_id", "embedding",
      minCos = 0.95).queryExecution.executedPlan.toString
    assert(pairDedup.findAllIn(vphys).isEmpty,
      s"expected no (id_a, id_b) dedup exchange in cosineNearDupPairs:\n" +
        vphys.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("sf0.1 density gate: no LSH bucket approaches the cap on real data") {
    // the exactness contract is "exact while no bucket exceeds the cap" —
    // the r2 regression (61% of true pairs silently dropped) was exactly
    // a density/cap interaction invisible at sf0.01. Gate the real sf0.1
    // corpus with 10× headroom so growth trips the suite before the cap.
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val maxBucket = Dedup.lshMaxBucket(docs, "text", "doc_id",
      bands = 24, rowsPerBand = 6, shingleK = 1)
    assert(maxBucket * 10 <= 100000,
      s"largest LSH bucket $maxBucket is within 10× of the 100k cap — " +
        "neardupVerified exactness is at risk; re-run the sf0.1 " +
        "`oracle_gate.py … q_neardup_verified` gate")
  }

  test("sf0.1-equivalent density: neardupVerified equals brute force on big clusters") {
    // constructed corpus with the sf0.1 cluster shape (hundreds of
    // near-dup members per cluster — the density where the r2 cap bug
    // lived), small enough for in-suite brute force
    val words = (0 until 60).map(i => s"w$i")
    val docsSeq = (0 until 4).flatMap { c =>
      (0 until 120).map { m =>
        val toks = words.updated(m % 60, s"c${c}m$m").mkString(" ")
        ((c * 1000 + m).toLong, s"cluster$c $toks")
      }
    } ++ (0 until 100).map(i =>
      ((9000 + i).toLong, (0 until 40).map(j => s"unique${i}_$j").mkString(" ")))
    val docs = docsSeq.toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = pairSet(docs.withColumn("g", lit(1)).transform(d =>
      Dedup.jaccardPairs(d, "text", "doc_id", "g", 0.9)))
    val fast = pairSet(Dedup.neardupVerified(docs, "text", "doc_id", 0.9))
    assert(brute.size > 20000, s"vacuous density test: only ${brute.size} true pairs")
    assert(fast == brute, s"${fast.size} vs ${brute.size}; " +
      s"missing=${(brute -- fast).take(3)} extra=${(fast -- brute).take(3)}")

    // components at the same density: the iterative operator must resolve
    // the four ~120-member clusters + 100 singletons exactly (union-find
    // twin over the verified pairs)
    val pairsDf = Dedup.neardupVerified(docs, "text", "doc_id", 0.9)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairsDf.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    val expected = docsSeq.map(_._1).map(id => id -> find(id)).toMap
    val got = Dedup.connectedComponents(docs, "doc_id", pairsDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected,
      got.toSeq.diff(expected.toSeq).take(5).toString)
    assert(expected.values.toSet.size < docsSeq.size,
      "vacuous: no multi-member components")
  }

  test("neardupVerified equals brute-force jaccardPairs on real testdata") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // global: LSH candidates + exact verify must reproduce all-pairs brute
    val brute = pairs(docs.withColumn("g", lit(1)).transform(d =>
      Dedup.jaccardPairs(d, "text", "doc_id", "g", 0.9)))
    val fast = pairs(Dedup.neardupVerified(docs, "text", "doc_id", 0.9))
    assert(fast == brute, s"global mismatch: ${fast.size} vs ${brute.size}")
    assert(brute.nonEmpty, "vacuous test: no near-dup pairs in corpus")
    // blocked: same equivalence with the source blocking key
    val bruteBlk = pairs(Dedup.jaccardPairs(docs, "text", "doc_id", "source", 0.9))
    val fastBlk = pairs(Dedup.neardupVerified(docs, "text", "doc_id", 0.9,
      blockCol = Some("source")))
    assert(fastBlk == bruteBlk,
      s"blocked mismatch: ${fastBlk.size} vs ${bruteBlk.size}")
  }

  test("n-gram Jaccard (shingleK=3) equals a brute trigram-set twin on the fixture") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    def shingles(t: String): Set[String] = {
      val ws = t.toLowerCase(java.util.Locale.ROOT).split(" ").filter(_.nonEmpty)
      if (ws.length >= 3) ws.sliding(3).map(_.mkString(" ")).toSet
      else if (ws.nonEmpty) Set(ws.mkString(" "))
      else Set.empty
    }
    val sh = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> shingles(t) }
    val brute = (for {
      i <- sh.indices.iterator
      j <- (i + 1) until sh.length
      (ia, sa) = sh(i); (ib, sb) = sh(j)
      inter = (sa & sb).size
      uni = (sa | sb).size
      if uni > 0 && inter.toDouble / uni >= 0.8
    } yield {
      val (x, y) = if (ia < ib) (ia, ib) else (ib, ia)
      (x, y, inter.toDouble / uni)
    }).toSet
    val fast = Dedup.neardupVerified(docs, "text", "doc_id", 0.8,
      bands = 32, rowsPerBand = 3, shingleK = 3) // q_jaccard_kgram config
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty, "vacuous: no trigram near-dups in the fixture")
    assert(fast == brute, s"${fast.size} vs ${brute.size}: " +
      s"missing=${(brute -- fast).take(3)} extra=${(fast -- brute).take(3)}")
    // stricter than k=1: a strict subset of the unigram pairs
    val k1 = Dedup.neardupVerified(docs, "text", "doc_id", 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val k3ids = fast.map(p => (p._1, p._2))
    assert(k3ids.subsetOf(k1) && k3ids.size < k1.size)
  }

  test("connectedComponents: star merge, singletons, and union-find twin on the fixture") {
    // star: (1,3),(2,3) with 1≁2 — components must merge all three
    // (greedy drop-id_b would keep both 1 and 2); 9 and 10 chain through
    // 11; 20 is a singleton
    val nodes = Seq(1L, 2L, 3L, 9L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 3L), (2L, 3L), (9L, 11L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      9L -> 9L, 10L -> 9L, 11L -> 9L, 20L -> 20L), got.toString)

    // fixture: equals a local union-find over the verified pair graph
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val vp = Dedup.neardupVerified(docs, "text", "doc_id", 0.9)
    val edges = vp.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = docs.select("doc_id").collect().map(_.getLong(0))
      .map(id => id -> find(id)).toMap
    val fromOp = Dedup.connectedComponents(docs, "doc_id", vp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromOp == expected,
      fromOp.toSeq.diff(expected.toSeq).take(5).toString)
    // non-vacuous: the fixture has a multi-hundred-member component
    val largest = expected.values.groupBy(identity).map(_._2.size).max
    assert(largest > 100, s"largest component $largest — fixture changed?")
  }

  test("connectedComponents: reliable-checkpoint mode produces identical labels") {
    // spark.vigil.checkpoint.dir swaps the iteration's localCheckpoint
    // for reliable checkpoint() (cluster deployments: local checkpoint
    // blocks die with executors — r6 VERDICT ask #5). Same graph, both
    // modes, identical labels.
    val nodes = Seq(1L, 2L, 3L, 9L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 3L), (2L, 3L), (9L, 11L), (10L, 11L))
      .toDF("id_a", "id_b")
    // budget 0: a graph this small would otherwise finish on the driver,
    // which writes no checkpoint
    val local = ComponentsBudget.connectedComponents(nodes, "doc_id", pairs, 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("vigil_ckpt").toString
    spark.conf.set("spark.vigil.checkpoint.dir", dir)
    try {
      val reliable = ComponentsBudget.connectedComponents(nodes, "doc_id", pairs, 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local, reliable.toString)
      val driver = Dedup.connectedComponents(nodes, "doc_id", pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(driver == local, driver.toString)
      // the reliable path actually wrote checkpoint data to the dir
      def anyFile(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
      assert(anyFile(new java.io.File(dir)),
        s"no reliable checkpoint data under $dir — mode did not engage")
    } finally spark.conf.unset("spark.vigil.checkpoint.dir")
  }

  test("connectedComponents: 800-id permuted path at budget 0 is one component") {
    // adversarial shape for label propagation: one long PATH. Node ids are
    // a deterministic permutation of 0..n-1 (the component min sits at a
    // random interior position, so "min at the head" can't mask a
    // propagation bug); edges link consecutive path positions. Budget 0
    // runs the distributed label rounds, not the driver finish.
    val n = 800
    val perm = (0 until n).sortBy(i => (i * 2654435761L) % 4294967296L)
      .map(_.toLong)
    val nodes = perm.toDF("doc_id")
    val pairs = perm.sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("id_a", "id_b")
    val got = ComponentsBudget.connectedComponents(nodes, "doc_id", pairs, 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 0L),
      s"path must be ONE component rooted at 0; got ${got.values.toSet.take(5)}")
  }

  test("topNgrams: hand counts, short-text guard, top-k plan shape") {
    val docs = Seq((1L, "a b a b a"), (2L, "a b a"), (3L, "x y"))
      .toDF("doc_id", "text")
    val got = TextStats.topNgrams(docs, "text", n = 3, k = 5)
    assert(got.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a b a", 3L), ("b a b", 1L))) // doc 3 has no trigram
    val bi = TextStats.topNgrams(docs, "text", n = 2, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(bi == Seq(("a b", 3L), ("b a", 3L))) // ties break gram-asc
    // per-partition top-k, no global sort materialization
    assert(TextStats.topNgrams(docs, "text").queryExecution
      .executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("vector kernels equal a plain-array reference: signatures, IVF assignments, PQ codes") {
    // seeded 64-dim vectors plus a ragged one, a zero vector and an
    // over-long one; the reference folds plain arrays in the same order
    val dim = 64
    val rng = new scala.util.Random(5L)
    val gauss = (n: Int) => Array.fill(n)(rng.nextGaussian())
    val vecs: Seq[(Long, Array[Double])] =
      (0 until 40).map(i => i.toLong -> gauss(dim)) ++
        Seq(40L -> gauss(37), 41L -> new Array[Double](dim), 42L -> gauss(dim + 5))
    val df = vecs.map { case (i, v) => (i, v.toSeq) }.toDF("id", "v")

    val (bandBits, bands, seed) = (6, 4, 42L)
    val planeRng = new scala.util.Random(seed)
    val planes = Array.fill(bandBits * bands)(Array.fill(dim)(planeRng.nextGaussian()))
    def dot(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { d += a(i) * b(i); i += 1 }
      d
    }
    val sigWant = vecs.map { case (i, v) =>
      i -> (0 until bands).map { b =>
        (0 until bandBits).foldLeft(0L) { (k, r) =>
          if (dot(planes(b * bandBits + r), v) >= 0) k | (1L << r) else k
        }
      }
    }.toMap
    val sigGot = Ann.computeSignSignatures(df, "id", "v", bandBits, bands, dim, seed)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(sigGot == sigWant)

    val cents = (0 until 6).map(_ => gauss(dim)) :+ new Array[Double](dim)
    def cos(c: Array[Double], v: Array[Double]) = {
      var d = 0.0; var nv = 0.0; var nc = 0.0; var i = 0
      while (i < math.min(c.length, v.length)) {
        d += c(i) * v(i); nv += v(i) * v(i); nc += c(i) * c(i); i += 1
      }
      if (nv == 0 || nc == 0) 0.0 else d / math.sqrt(nv * nc)
    }
    val cidWant = vecs.map { case (i, v) =>
      i -> cents.indices.foldLeft((0, Double.MinValue)) { case ((b, bc), j) =>
        val c = cos(cents(j), v); if (c > bc) (j, c) else (b, bc)
      }._1
    }.toMap
    val centsDf = cents.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toDF("cid", "c_vec")
    val cidGot = Ann.ivfAssign(centsDf, df, "id", "v").collect()
      .map(r => r.getAs[Long]("nn_id") -> r.getAs[Int]("cid")).toMap
    assert(cidGot == cidWant)

    val (numSub, kCodes) = (8, 5)
    val sd = dim / numSub
    val book = Array.fill(numSub, kCodes)(gauss(sd))
    val codeWant = vecs.map { case (i, v) =>
      i -> (0 until numSub).map { s =>
        val sub = Array.tabulate(sd)(k => if (s * sd + k < v.length) v(s * sd + k) else 0.0)
        (0 until kCodes).minBy { c =>
          var d = 0.0; var k = 0
          while (k < sd) { val t = book(s)(c)(k) - sub(k); d += t * t; k += 1 }
          d
        }
      }
    }.toMap
    val bookDf = (for (s <- 0 until numSub; c <- 0 until kCodes)
      yield (s, c, book(s)(c).toSeq)).toDF("sub", "cid", "c_vec")
    val codeGot = vigil.ann.Pq.pqAssign(bookDf, df, "id", "v", dim).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(codeGot == codeWant)
  }
}
