package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import vigil.{Decide, Pipeline, Review, TableIO, TextStats}
import vigil.ann.Ann
import vigil.dedup.Dedup

/** One named output of an iteration: its row count and row hash. */
final case class Output(name: String, rows: Long, hash: BigDecimal)

/** Output quality against the generator's goldens. `quality` and `exact`
  * are the workload's end-to-end figures; `named` holds them again under
  * their per-layer names.
  */
final case class Quality(quality: Double, exact: Double, ok: Boolean,
    named: Map[String, Double])

/** A benchmark workload: seeded set-up, one timed iteration, output checks
  * and, for the traced run, reference calls into single layers.
  */
trait Workload {
  def name: String
  def rows: Long
  /** Untimed iterations before timing, and the fewest timed ones. Sized so
    * that the timed ones alone usually fill the run on a 4-core host.
    */
  def warmups: Int
  def minIters: Int
  /** Generates and stages the input under `dir`; returns a size summary. */
  def setup(spark: SparkSession, dir: String, seed: Long): String
  /** One run of the workload. Each output's row count and hash must repeat
    * on every iteration; `expected` rows, when given, must match too.
    */
  def iterate(spark: SparkSession, it: Int, tr: Tracer): Seq[Output]
  def expectedRows: Map[String, Long]
  /** Removes what iteration `it` stored. */
  def cleanup(it: Int): Unit
  /** Scores what iteration `it` produced against the goldens. */
  def check(spark: SparkSession, it: Int): Quality
  /** Per-layer figures from the traced iteration's spans and jobs. */
  def traced(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Double]
  /** Per-layer figures from reference calls into single layers. */
  def layers(spark: SparkSession, run: Bench.Probe): Map[String, Double]
  /** A fixed sample of the workload's own texts for the kernel timings. */
  def sample: Array[String]
}

object Workloads {
  def apply(name: String, work: String): Workload = name match {
    case "turns_store" => new TurnsStore(work)
    case "turns_stream" => new TurnsStream(work)
    case "docs_dedup" => new DocsDedup(work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val Cfg: Decide.Config = Decide.Default.copy(targetLang = "pt")
  val TurnCols = Seq("conv_id", "turn_idx", "keep", "scrubbed_text")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `write` on `df` with a row hash over `cols` observed on the same
    * pass.
    */
  def observed(name: String, df: DataFrame, cols: Seq[String])(
      write: DataFrame => Unit): Output = {
    val obs = Observation(name)
    val h = Inputs.rowHash(cols)
    write(df.observe(obs, h.head, h.tail: _*))
    val m = obs.get
    val hash = Option(m("hash")).map(v => BigDecimal(v.toString)).getOrElse(BigDecimal(0))
    Output(name, m("rows").toString.toLong, hash)
  }

  def deleteTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))

  def spanMs(spans: Seq[Span], name: String): Double =
    spans.filter(_.name == name).map(s => (s.end - s.start).toDouble).sum

  /** Jobs started while a span named `name` was open. */
  def jobsUnder(spans: Seq[Span], jobs: Seq[JobRec], name: String): JobSum = {
    val in = spans.filter(_.name == name)
    JobSum(jobs.filter(j => in.exists(s => s.start <= j.start && j.start <= s.end)))
  }

  /** contem_pii F1 and byte-exact scrub share against the Synth goldens. */
  def scoreTurns(got: Array[(String, Int, Boolean, String)],
      golden: Map[(String, Int), (Boolean, String)]): Quality = {
    var tp = 0L; var fp = 0L; var fn = 0L; var exact = 0L
    got.foreach { case (c, t, pii, scrub) =>
      val (expPii, expScrub) = golden((c, t))
      if (pii && expPii) tp += 1
      else if (pii) fp += 1
      else if (expPii) fn += 1
      if (scrub == expScrub) exact += 1
    }
    val f1 = if (tp == 0) 0.0 else 2.0 * tp / (2 * tp + fp + fn)
    val ex = exact.toDouble / golden.size
    Quality(f1, ex, got.length == golden.size && f1 >= 0.99,
      Map("pii_f1" -> f1, "scrub_exact_frac" -> ex))
  }
}

import Workloads._

/** `Decide.decideWindowed` to noop over one-sentence turns with a long
  * conversation-length tail: the stateless flagship, no table IO.
  */
final class TurnsStream(work: String) extends Workload {
  val name = "turns_stream"
  val warmups = 4
  val minIters = 5
  private var in: TurnsInput = _
  def rows: Long = in.rows
  def sample: Array[String] = in.sample

  def setup(spark: SparkSession, dir: String, seed: Long): String = {
    in = Inputs.turns(spark, dir, seed, targetTurns = 40000, repeat = 1, mega = 4000)
    s"${in.rows} turns, ${in.convs} conversations, longest ${in.maxConvTurns} turns"
  }

  def iterate(spark: SparkSession, it: Int, tr: Tracer): Seq[Output] =
    tr.span("decide") {
      Seq(tr.span("Decide.decideWindowed") {
        observed("decided", Decide.decideWindowed(in.df, Cfg), TurnCols)(noop)
      })
    }

  def expectedRows: Map[String, Long] = Map("decided" -> in.rows)
  def cleanup(it: Int): Unit = ()

  // the timed output goes to noop, so this collects a fresh run
  def check(spark: SparkSession, it: Int): Quality = {
    val got = Decide.decideWindowed(in.df, Cfg)
      .select("conv_id", "turn_idx", "contem_pii", "scrubbed_text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2), r.getString(3)))
    scoreTurns(got, in.golden)
  }

  def traced(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Double] = {
    val dw = jobsUnder(spans, jobs, "Decide.decideWindowed")
    Map("Decide.exchange_mb" -> dw.shuffleWriteMb,
      "Decide.max_task_frac" -> dw.maxTaskFrac,
      "Decide.decideWindowed_s" -> spanMs(spans, "Decide.decideWindowed") / 1000)
  }

  def layers(spark: SparkSession, run: Bench.Probe): Map[String, Double] = {
    val st = run("Decide.scoreTurns")(noop(Decide.scoreTurns(in.df, Cfg)))
    Map("Decide.scoreTurns_s" -> st.wallS, "Decide.scoreTurns_task_s" -> st.jobs.taskS)
  }
}

/** The production shape: `Pipeline.run` (score, bucketed write with
  * lineage, conversation decisions from a re-read), its returned view
  * materialized to noop, then `Review.reviewTable` over the stored table.
  */
final class TurnsStore(work: String) extends Workload {
  val name = "turns_store"
  val warmups = 1
  val minIters = 2
  private var in: TurnsInput = _
  def rows: Long = in.rows
  def sample: Array[String] = in.sample
  private val snap = "bench"
  private def path(it: Int) = s"$work/store-$it"

  def setup(spark: SparkSession, dir: String, seed: Long): String = {
    in = Inputs.turns(spark, dir, seed, targetTurns = 5000, repeat = 3, mega = 0)
    s"${in.rows} turns, ${in.convs} conversations, longest ${in.maxConvTurns} turns"
  }

  private def store(spark: SparkSession, turns: DataFrame, p: String, tr: Tracer): Output = {
    val view = tr.span("Pipeline.run")(Pipeline.run(spark, turns, p, snap, Cfg, nBuckets = 16))
    tr.span("Pipeline.join")(observed("view", view, TurnCols)(noop))
  }

  def iterate(spark: SparkSession, it: Int, tr: Tracer): Seq[Output] = {
    val p = path(it)
    val out = tr.span("store")(store(spark, in.df, p, tr))
    val review = tr.span("review") {
      tr.span("Review.reviewTable") {
        val r = Review.reviewTable(TableIO.readScored(spark, p, snap))
        observed("review", r, r.columns.toSeq)(noop)
      }
    }
    Seq(out, review)
  }

  def expectedRows: Map[String, Long] = Map("view" -> in.rows)
  def cleanup(it: Int): Unit = deleteTree(path(it))

  def check(spark: SparkSession, it: Int): Quality = {
    val got = TableIO.readScored(spark, path(it), snap)
      .select("conv_id", "turn_idx", "contem_pii", "scrubbed_text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2), r.getString(3)))
    scoreTurns(got, in.golden)
  }

  def traced(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Double] = {
    val run = jobsUnder(spans, jobs, "Pipeline.run")
    val tio = run.site("TableIO.writeScored")
    val pipe = run.site("Pipeline.run")
    Map("TableIO.writeScored_s" -> tio.wallS,
      "TableIO.written_mb" -> tio.outputMb,
      "Pipeline.conv_s" -> pipe.wallS,
      "Pipeline.reread_mb" -> pipe.inputMb,
      "Pipeline.run_s" -> spanMs(spans, "Pipeline.run") / 1000,
      "Pipeline.join_s" -> spanMs(spans, "Pipeline.join") / 1000,
      "Review.reviewTable_s" -> spanMs(spans, "Review.reviewTable") / 1000)
  }

  def layers(spark: SparkSession, run: Bench.Probe): Map[String, Double] = {
    val st = run("Decide.scoreTurns")(noop(Decide.scoreTurns(in.df, Cfg)))
    val dw = run("Decide.decideWindowed")(noop(Decide.decideWindowed(in.df, Cfg)))
    // source reads: a counting pass-through on the input text, summed per
    // job, so reads are attributed to the module that submitted the job
    val reads = spark.sparkContext.longAccumulator("perfbench.textReads")
    val counted = udf { (s: String) => reads.add(1L); s }
    run.counters.textReadsAcc = reads.id
    val p = s"$work/probe"
    val probe = run("probe.Pipeline.run") {
      store(spark, in.df.withColumn("text", counted(col("text"))), p, new Tracer("probe"))
    }
    run.counters.textReadsAcc = -1L
    deleteTree(p)
    Map("Decide.scoreTurns_s" -> st.wallS, "Decide.scoreTurns_task_s" -> st.jobs.taskS,
      "Decide.decideWindowed_s" -> dw.wallS,
      "Decide.exchange_mb" -> dw.jobs.shuffleWriteMb,
      "Decide.max_task_frac" -> dw.jobs.maxTaskFrac,
      "TableIO.source_reads_per_turn" ->
        probe.jobs.site("TableIO.writeScored").textReads.toDouble / in.rows,
      "Pipeline.source_reads_per_turn" -> probe.jobs.textReads.toDouble / in.rows)
  }
}

/** Verified near-dup pairs, their connected components and embedding
  * near-dup pairs over seeded corpora with planted clusters, each written
  * to parquet, then a cheap n-gram pass in the same session.
  */
final class DocsDedup(work: String) extends Workload {
  val name = "docs_dedup"
  val warmups = 1
  val minIters = 2
  private var in: DedupInput = _
  def rows: Long = in.nDocs.toLong + in.nVecs
  def sample: Array[String] = in.sample
  private val MinJaccard = 0.9
  private val MinCos = 0.95
  private def base(it: Int) = s"$work/dedup-$it"
  private var persistentAfter = 0
  private var lastPairs = 0L

  def setup(spark: SparkSession, dir: String, seed: Long): String = {
    in = Inputs.dedup(spark, dir, seed, nBase = 600, nVecBase = 1200, MinJaccard)
    s"${in.nDocs} docs (${in.plantedDocPairs.size} planted pairs, " +
      s"${in.bruteDocPairs.size} true pairs), ${in.nVecs} vectors " +
      s"(${in.plantedVecPairs.size} planted pairs)"
  }

  def iterate(spark: SparkSession, it: Int, tr: Tracer): Seq[Output] = {
    val b = base(it)
    def parquet(p: String)(df: DataFrame): Unit = df.write.mode("overwrite").parquet(p)
    val (pairs, labels) = tr.span("docs") {
      val pairs = tr.span("Dedup.neardupVerified") {
        observed("pairs", Dedup.neardupVerified(in.docs, "text", "doc_id", MinJaccard),
          Seq("id_a", "id_b"))(parquet(s"$b/pairs"))
      }
      val labels = tr.span("Dedup.connectedComponents") {
        observed("labels", Dedup.connectedComponents(in.docs, "doc_id",
          spark.read.parquet(s"$b/pairs")), Seq("doc_id", "component"))(parquet(s"$b/labels"))
      }
      (pairs, labels)
    }
    lastPairs = pairs.rows
    val vpairs = tr.span("vectors") {
      tr.span("Ann.cosineNearDupPairs") {
        observed("vpairs", Ann.cosineNearDupPairs(in.vecs, "vec_id", "embedding",
          minCos = MinCos), Seq("id_a", "id_b"))(parquet(s"$b/vpairs"))
      }
    }
    persistentAfter = spark.sparkContext.getPersistentRDDs.size
    val top = tr.span("followup") {
      tr.span("session.followup") {
        TextStats.topNgrams(in.docs, "text", n = 3, k = 20).collect()
      }
    }
    Seq(pairs, labels, vpairs,
      Output("topngrams", top.length, BigDecimal(top.map(_.toString).mkString("|").hashCode)))
  }

  def expectedRows: Map[String, Long] = Map("labels" -> in.nDocs.toLong)
  def cleanup(it: Int): Unit = deleteTree(base(it))

  def check(spark: SparkSession, it: Int): Quality = {
    def pairSet(p: String) = spark.read.parquet(p).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val docPairs = pairSet(s"${base(it)}/pairs")
    val vecPairs = pairSet(s"${base(it)}/vpairs")
    val found = in.plantedDocPairs.count(docPairs) + in.plantedVecPairs.count(vecPairs)
    val recall = found.toDouble / (in.plantedDocPairs.size + in.plantedVecPairs.size)
    val union = (docPairs ++ in.bruteDocPairs).size
    val exact = if (union == 0) 1.0 else (docPairs & in.bruteDocPairs).size.toDouble / union
    Quality(recall, exact, recall >= 0.99, Map("dup_recall" -> recall))
  }

  def traced(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Double] = {
    val nd = jobsUnder(spans, jobs, "Dedup.neardupVerified")
    Map("Dedup.neardupVerified_s" -> spanMs(spans, "Dedup.neardupVerified") / 1000,
      "Dedup.shuffle_mb" -> nd.shuffleWriteMb,
      "Dedup.connectedComponents_s" -> spanMs(spans, "Dedup.connectedComponents") / 1000,
      "Dedup.cc_jobs" -> jobsUnder(spans, jobs, "Dedup.connectedComponents").n.toDouble,
      "Ann.cosineNearDupPairs_s" -> spanMs(spans, "Ann.cosineNearDupPairs") / 1000,
      "Ann.shuffle_mb" -> jobsUnder(spans, jobs, "Ann.cosineNearDupPairs").shuffleWriteMb,
      "session.persistent_rdds_after" -> persistentAfter.toDouble,
      "session.followup_s" -> spanMs(spans, "session.followup") / 1000)
  }

  def layers(spark: SparkSession, run: Bench.Probe): Map[String, Double] = {
    // the candidate stages on their own: Dedup.minhashLsh at the banding and
    // prefilter neardupVerified uses for this threshold; cosineNearDupPairs
    // with an always-true cosine filter (banding and prefilter depend only
    // on designCos, which is unchanged)
    var cands = 0L
    run("Dedup.minhashLsh") {
      cands = Dedup.minhashLsh(in.docs, "text", "doc_id", bands = 24, rowsPerBand = 6,
        shingleK = 1, minEst = math.max(0.0, MinJaccard - 0.2)).count()
    }
    var vcands = 0L
    run("Ann.candidates") {
      vcands = Ann.cosineNearDupPairs(in.vecs, "vec_id", "embedding", minCos = -1.0).count()
    }
    Map("Dedup.candidate_pairs" -> cands.toDouble,
      "Dedup.verify_yield" -> (if (cands == 0) 0.0 else lastPairs.toDouble / cands),
      "Ann.candidate_pairs" -> vcands.toDouble)
  }
}
