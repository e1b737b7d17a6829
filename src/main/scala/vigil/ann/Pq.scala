package vigil.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding search — the compressed-index
  * ANN tier next to sign-LSH ([[Ann.lshTopK]]) and IVF ([[Ann.ivfTopK]]).
  * Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
  * Search" (TPAMI 2011) — public paper; implementation is original.
  *
  * The vector space is split into `numSub` contiguous subspaces of
  * dim/numSub dims each; each subspace gets its own k-means codebook of
  * `kCodes` centroids, and a vector is stored as `numSub` small ints (its
  * nearest centroid per subspace). At dim=64 float and numSub=8,
  * kCodes≤256 that is 8 bytes per vector instead of 256 — a 32×
  * compression, which is what lets a 10^12-vector corpus keep its ENTIRE
  * index in cluster memory while the raw vectors stay on cold storage.
  *
  * Search is asymmetric-distance computation (ADC): per query, a
  * numSub × kCodes lookup table of partial dot products is built ONCE
  * (driver-side — queries are a bounded set, same contract as
  * [[Ann.bruteForceTopK]]'s broadcast), and each candidate costs numSub
  * table lookups + adds instead of a dim-wide dot product — 8 adds vs 64
  * multiplies here, and the gap widens with dim. The ADC scan produces a
  * `shortlist` of candidates per query that a refine step re-ranks with
  * the EXACT cosine over the original vectors (the standard PQ serving
  * pipeline), so emitted `cos` values are bit-identical to
  * [[Ann.bruteForceTopK]]'s and a shortlist covering the corpus makes
  * the whole operator EQUAL brute force (spec-asserted) — the same
  * provable-exactness degeneration as IVF's nProbe = nCentroids.
  *
  * Scale shape: training touches only codebook-sized aggregates
  * (numSub × kCodes × subDim doubles to the driver per Lloyd step);
  * coding is one narrow pass; the ADC scan is a broadcast-nested-loop
  * over the CODES table only (numSub small ints per row — the big frame
  * stays narrow); original vectors are touched by exactly one
  * shortlist-sized join per side. Codebook and codes are plain
  * DataFrames — write them to tables, assign new ingest batches against
  * the stored codebook with [[pqAssign]] (no retraining), and serve with
  * [[pqSearch]]: the ivfBuild/ivfAssign/ivfSearch production split.
  */
object Pq {

  private def subDimOf(dim: Int, numSub: Int): Int = {
    require(numSub > 0 && dim % numSub == 0,
      s"Pq: dim=$dim must be a positive multiple of numSub=$numSub")
    dim / numSub
  }

  /** Slice a (possibly ragged) vector into numSub zero-padded subvectors.
    * Missing trailing dims read as 0.0 — the same "fold what exists"
    * stance as the IVF kernels, but deterministic per subspace.
    */
  private def subvectors(vs: Seq[Double], dim: Int, numSub: Int): Array[Array[Double]] = {
    // a UDF's Seq argument arrives as a List: index an array, not the list
    val v = vs.toArray
    val sd = dim / numSub
    Array.tabulate(numSub) { s =>
      Array.tabulate(sd) { i =>
        val j = s * sd + i
        if (j < v.length) v(j) else 0.0
      }
    }
  }

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  /** Nearest-centroid code per subspace (argmin L2, ties to the lower
    * cid). One kernel serves training assignment, final coding, AND
    * [[pqAssign]] — a divergence would silently skew the codebook.
    */
  private def codeUdf(cents: Array[Array[Array[Double]]], dim: Int, numSub: Int) =
    udf((v: Seq[Double]) => {
      val svs = subvectors(v, dim, numSub)
      Array.tabulate(numSub) { s =>
        val cs = cents(s)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          val d = l2sq(cs(c), svs(s))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    })

  private def subvecsUdf(dim: Int, numSub: Int) =
    udf((v: Seq[Double]) => subvectors(v, dim, numSub).map(_.toSeq))

  /** Codebook table → driver array (bounded: numSub × kCodes × subDim).
    * ONE collect derives numSub/kCodes/subDim from the rows themselves
    * (no extra agg jobs on the serve path) and validates the geometry
    * against the caller's `dim` — a codebook from a different build
    * must fail naming the contract, not mis-slice subspaces.
    */
  private def collectCodebook(
      codebookDf: DataFrame, dim: Int): Array[Array[Array[Double]]] = {
    val rows = codebookDf.select("sub", "cid", "c_vec").collect()
    require(rows.nonEmpty, "Pq: empty codebook table")
    val numSub = rows.iterator.map(_.getInt(0)).max + 1
    val kCodes = rows.iterator.map(_.getInt(1)).max + 1
    val cents: Array[Array[Array[Double]]] = Array.ofDim(numSub)
    (0 until numSub).foreach(s => cents(s) = new Array[Array[Double]](kCodes))
    rows.foreach { r =>
      cents(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    val sd = cents(0)(0).length
    require(sd * numSub == dim,
      s"Pq: codebook geometry (numSub=$numSub × subDim=$sd) does not " +
        s"cover dim=$dim — this codebook was built for a different " +
        "vector dimensionality")
    cents
  }

  /** Train the PQ index: per-subspace k-means (deterministic residue-class
    * seeding + `iterations` Lloyd steps, ALL subspaces in one
    * map-side-combined aggregation per step — grouping key (sub, cid), so
    * adding subspaces adds groups, not passes). Returns
    * (codebook: (sub, cid, c_vec), codes: (nn_id, code)) — both storable.
    * Null vectors are dropped at the door (cannot be neighbors, would
    * poison seeding); ragged vectors are zero-padded per subspace.
    */
  def pqBuild(
      corpus: DataFrame, idCol: String, vecCol: String,
      numSub: Int = 8, kCodes: Int = 16, iterations: Int = 3,
      dim: Int = 64, seed: Long = 42L): (DataFrame, DataFrame) = {
    val sd = subDimOf(dim, numSub)
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).cast("long").as("nn_id"),
      col(vecCol).cast("array<double>").as("nn_vec"))
      .filter(col("nn_vec").isNotNull)

    // subvector frame: (nn_id, sub, sv) — seeding only; the Lloyd step
    // recomputes the (narrow, cheap) subvector projection per iteration
    // alongside the assignment it needs anyway
    val svf = c
      .select(col("nn_id"),
        posexplode(subvecsUdf(dim, numSub)(col("nn_vec"))).as(Seq("sub", "sv")))

    // residue-class seeding per subspace: min_by map-side agg, no sort
    val seedRows = svf
      .withColumn("cid", pmod(hash(col("nn_id"), lit(seed)), lit(kCodes)))
      .withColumn("hk", hash(col("nn_id"), lit(seed + 1)))
      .groupBy("sub", "cid")
      .agg(min_by(col("sv"), struct(col("hk"), col("nn_id"))).as("v"))
      .collect()
    val cents: Array[Array[Array[Double]]] = Array.ofDim(numSub)
    (0 until numSub).foreach(s => cents(s) = new Array[Array[Double]](kCodes))
    seedRows.foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    (0 until numSub).foreach { s =>
      val first = cents(s).find(_ != null).getOrElse(
        throw new IllegalArgumentException("pqBuild: empty corpus"))
      (0 until kCodes).foreach(c0 => if (cents(s)(c0) == null) cents(s)(c0) = first)
    }

    var it = 0
    while (it < iterations) {
      // one aggregation updates every (sub, cid) mean; vector_sum counts
      // only rows it actually folded (empty cells keep their centroid)
      val means = c
        .select(posexplode(arrays_zip(
          subvecsUdf(dim, numSub)(col("nn_vec")).as("sv"),
          codeUdf(cents, dim, numSub)(col("nn_vec")).as("cid")))
          .as(Seq("sub", "z")))
        .select(col("sub"), col("z.cid").as("cid"), col("z.sv").as("sv"))
        .groupBy("sub", "cid")
        .agg(vigil.functions.vector_sum(col("sv"), sd).as("s"),
          count(when(col("sv").isNotNull && size(col("sv")) === sd, 1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        val s = r.getSeq[Double](2)
        val n = r.getLong(3).toDouble
        if (n > 0) next(r.getInt(0))(r.getInt(1)) = Array.tabulate(sd)(i => s(i) / n)
      }
      (0 until numSub).foreach(s => cents(s) = next(s))
      it += 1
    }

    import spark.implicits._
    val codebookDf = (for {
      s <- 0 until numSub; c0 <- 0 until kCodes
    } yield (s, c0, cents(s)(c0).toSeq)).toDF("sub", "cid", "c_vec")
    val codes = c.select(col("nn_id"),
      codeUdf(cents, dim, numSub)(col("nn_vec")).as("code"))
    (codebookDf, codes)
  }

  /** Code a new ingest batch against a STORED codebook — append to the
    * codes table; no retraining, no corpus touch. Coding the index's own
    * corpus reproduces its codes table exactly (spec-asserted).
    */
  def pqAssign(
      codebookDf: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, dim: Int = 64): DataFrame = {
    val cents = collectCodebook(codebookDf, dim)
    val numSub = cents.length
    batch.select(col(idCol).cast("long").as("nn_id"),
      col(vecCol).cast("array<double>").as("nn_vec"))
      .filter(col("nn_vec").isNotNull)
      .select(col("nn_id"), codeUdf(cents, dim, numSub)(col("nn_vec")).as("code"))
  }

  /** Serve top-k from a stored PQ index. ADC scan over the CODES table
    * (numSub lookups per candidate, per-query tables precomputed
    * driver-side), shortlist per query, then exact-cosine refine over the
    * original vectors joined back for shortlist rows only. Emitted cos is
    * the exact double-fold cosine — bit-identical to
    * [[Ann.bruteForceTopK]]; shortlist ≥ |corpus| makes the output EQUAL
    * brute force. `queries` must be a small bounded set (collected for
    * the lookup tables, broadcast for the refine), exactly like the brute
    * baseline.
    */
  def pqSearch(
      codebookDf: DataFrame, codes: DataFrame, corpusVecs: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      shortlist: Int = 0, dim: Int = 64): DataFrame = {
    val cents = collectCodebook(codebookDf, dim)
    val numSub = cents.length
    val kCodes = cents(0).length
    val sl = if (shortlist > 0) shortlist else math.max(4 * k, 32)

    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("q_vec"))
      .filter(col("q_vec").isNotNull)

    // per-query ADC tables: dotTab(sub)(cid) = q_sub · c(sub)(cid);
    // cnorm2 is query-independent. Bounded: |queries| × numSub × kCodes.
    val cnorm2: Array[Array[Double]] = Array.tabulate(numSub, kCodes) { (s, c0) =>
      var n = 0.0; var i = 0
      val cv = cents(s)(c0)
      while (i < cv.length) { n += cv(i) * cv(i); i += 1 }
      n
    }
    val qRows = q.collect()
    val dotTabs: Map[Long, (Array[Array[Double]], Double)] = qRows.map { r =>
      val qid = r.getLong(0)
      val svs = subvectors(r.getSeq[Double](1), dim, numSub)
      val tab = Array.tabulate(numSub, kCodes) { (s, c0) =>
        var d = 0.0; var i = 0
        val cv = cents(s)(c0); val sv = svs(s)
        while (i < cv.length) { d += cv(i) * sv(i); i += 1 }
        d
      }
      var qn = 0.0
      r.getSeq[Double](1).foreach(x => qn += x * x)
      qid -> (tab, math.sqrt(qn))
    }.toMap

    val adcUdf = udf((qid: Long, code: Seq[Int]) => {
      // stored-table contract: a code row from a DIFFERENT numSub/kCodes
      // build would silently sum the wrong partials (the same bug class
      // as a mismatched LSH signature width) — fail with the contract
      require(code.length == numSub,
        s"pqSearch: code length ${code.length} != codebook numSub $numSub " +
          "— the codes table was built against a different codebook")
      val (tab, qn) = dotTabs(qid)
      var dot = 0.0; var cn = 0.0
      var s = 0
      while (s < code.length) {
        val c0 = code(s)
        require(c0 >= 0 && c0 < kCodes,
          s"pqSearch: code id $c0 outside codebook kCodes $kCodes")
        dot += tab(s)(c0); cn += cnorm2(s)(c0)
        s += 1
      }
      if (qn == 0.0 || cn == 0.0) 0.0 else dot / (qn * math.sqrt(cn))
    })

    val spark = q.sparkSession
    import spark.implicits._
    val qids = qRows.map(_.getLong(0)).toSeq.toDF("query_id")
    val adc = codes.crossJoin(broadcast(qids))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("adc", adcUdf(col("query_id"), col("code")))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("nn_id").asc)
    val short = adc.withColumn("r", row_number().over(wa))
      .filter(col("r") <= sl)
      .select("query_id", "nn_id")

    val refined = short
      .join(corpusVecs.select(col(idCol).cast("long").as("nn_id"),
        col(vecCol).cast("array<double>").as("nn_vec")), Seq("nn_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", Ann.cosine(col("q_vec"), col("nn_vec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("nn_id").asc)
    refined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "nn_id", "cos")
  }

  /** Build + search in one call — the bounded-query convenience shape
    * (mirrors [[Ann.ivfTopK]]). Production splits build from serve via
    * the stored codebook/codes tables.
    */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      numSub: Int = 8, kCodes: Int = 16, iterations: Int = 3,
      shortlist: Int = 0, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val (codebook, codes) =
      pqBuild(corpus, idCol, vecCol, numSub, kCodes, iterations, dim, seed)
    pqSearch(codebook, codes, corpus, queries, idCol, vecCol, k, shortlist, dim)
  }
}
