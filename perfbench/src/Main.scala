package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import vigil.{LangModel, PiiCore, TextClean}

/** The benchmark's JVM side: one workload, one seed, one session.
  *
  * Order of a run: session start, set-up three times (generate and stage
  * the input), the workload's warm-up iterations, timed iterations for
  * `--seconds` and at least the workload's minimum,
  * the last one's outputs scored against the goldens; with `--trace 1` one
  * traced iteration, reference calls into single layers and the kernel
  * timings. Every iteration's outputs are checked (row counts, and row
  * hashes equal to the first iteration's).
  *
  * Prints one line `PERFBENCH_RESULT {json}` holding every metric it
  * measured; `run.py` turns it into the benchmark's result line.
  *
  * Usage: perfbench.Bench --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --spans FILE
  */
object Bench {

  final case class Probed(wallS: Double, jobs: JobSum)

  /** Runs a body under its own span and job counters. */
  final class Probe(val counters: Counters, tracer: Tracer) {
    def apply(name: String)(body: => Any): Probed = {
      counters.reset()
      val t0 = System.nanoTime()
      tracer.span(name)(body)
      val wall = (System.nanoTime() - t0) / 1e9
      val jobs = counters.snapshot()
      tracer.addJobs(jobs)
      Probed(wall, JobSum(jobs))
    }
  }

  /** Single-thread µs per text for the per-turn kernels, no Spark. */
  def kernels(sample: Array[String], msEach: Long = 300L): Map[String, Double] = {
    var sink = 0L
    def usPer(texts: Array[String])(f: String => Any): Double = {
      texts.foreach(t => sink += f(t).hashCode) // warm the call site
      var passes = 0
      val t0 = System.nanoTime()
      while (passes < 3 || System.nanoTime() - t0 < msEach * 1000000L) {
        texts.foreach(t => sink += f(t).hashCode); passes += 1
      }
      (System.nanoTime() - t0) / 1e3 / (passes.toLong * texts.length)
    }
    val cleaned = sample.map(TextClean.clean)
    val m = Map(
      "PiiCore.detect_us" -> usPer(sample)(PiiCore.detect),
      "LangModel.scoreBoth_us" -> usPer(cleaned)(LangModel.scoreBoth),
      "TextClean.clean_us" -> usPer(sample)(TextClean.clean))
    if (sink == 42L) System.err.println("unreachable")
    m
  }

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors

    val calib0 = Host.calibStepsPerMs()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // graft.Bench's settings for micro corpora: one wave per core
      .config("spark.vigil.decide.wavesPerCore", "1")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep the status store small, so live heap reflects the engine
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secs(t0)

    val wl = Workloads(opt("workload"), s"$work/out")
    val tracer = new Tracer(s"${wl.name}-$seed")
    val counters = new Counters(spark.sparkContext)
    spark.sparkContext.addSparkListener(counters)
    val probe = new Probe(counters, tracer)

    var attempted = 0
    var failed = 0
    var first: Option[Seq[Output]] = None
    def verify(outs: Seq[Output]): Boolean = {
      val rowsOk = wl.expectedRows.forall { case (n, r) =>
        outs.find(_.name == n).exists(_.rows == r) }
      val same = first.forall(_ == outs)
      if (first.isEmpty) first = Some(outs)
      if (!rowsOk || !same)
        System.err.println(s"perfbench: output check failed: $outs vs ${first.get}, " +
          s"expected rows ${wl.expectedRows}")
      rowsOk && same
    }
    def attempt[T](body: => T)(ok: T => Boolean): Option[T] = {
      attempted += 1
      try {
        val r = body
        if (ok(r)) Some(r) else { failed += 1; None }
      } catch {
        case e: Exception =>
          failed += 1
          e.printStackTrace()
          None
      }
    }
    var it = 0
    def nextIt(): Int = { it += 1; it }

    // set-up: generate and stage three times, keep the last
    var summary = ""
    val setupRuns = (0 until 3).map { r =>
      val t = System.nanoTime()
      summary = wl.setup(spark, s"$work/input-$r", seed)
      secs(t)
    }
    (0 until 2).foreach(r => Workloads.deleteTree(s"$work/input-$r"))
    System.err.println(s"perfbench: ${wl.name} seed $seed: $summary")

    val tw = System.nanoTime()
    kernels(wl.sample, 100L) // compiles the per-turn kernels before the first job
    // a fixed count, so every run times the same stretch of the JIT's
    // warm-up curve however fast the host is at the moment
    val warm = mutable.ArrayBuffer.empty[Double]
    while (warm.size < wl.warmups) {
      val i = nextIt()
      val t = System.nanoTime()
      attempt(wl.iterate(spark, i, tracer))(verify)
      wl.cleanup(i)
      warm += secs(t)
    }
    val warmupS = secs(tw)
    System.err.println(f"perfbench: session $sessionS%.2f s, set-up " +
      setupRuns.map(x => f"$x%.2f").mkString(" ") + " s, warm-up " +
      warm.map(x => f"$x%.2f").mkString(" ") + f" s (total $warmupS%.2f s)")

    final case class Iter(wallS: Double, jobs: JobSum, heapMb: Double)
    val iters = mutable.ArrayBuffer.empty[Iter]
    val tm = System.nanoTime()
    var n = 0
    var last = 0
    while (n < wl.minIters || secs(tm) < seconds) {
      if (last > 0) wl.cleanup(last)
      last = nextIt()
      counters.reset()
      val t = System.nanoTime()
      val ok = attempt(wl.iterate(spark, last, tracer))(verify)
      val wall = secs(t)
      val jobs = JobSum(counters.snapshot())
      val heap = Host.liveHeapMb()
      if (ok.isDefined) iters += Iter(wall, jobs, heap)
      n += 1
    }

    System.err.println("perfbench: iterations " +
      iters.map(x => f"${x.wallS}%.2f").mkString(" ") + " s")
    // the goldens are checked on the last timed iteration's outputs
    val quality = attempt(wl.check(spark, last))(_.ok)
    wl.cleanup(last)

    def med(f: Iter => Double) = Stats.median(iters.map(f).toSeq)
    val runS = med(_.wallS)
    val m = mutable.LinkedHashMap[String, Double](
      "run_s" -> runS,
      "rows_per_s" -> (if (runS > 0) wl.rows / runS else 0.0),
      "task_s" -> med(_.jobs.taskS),
      "setup_s" -> (sessionS + Stats.median(setupRuns) + warmupS),
      "peak_heap_mb" -> (if (iters.isEmpty) 0.0 else iters.map(_.heapMb).max),
      "ok_frac" -> (1.0 - failed.toDouble / attempted),
      "quality" -> quality.map(_.quality).getOrElse(0.0),
      "exact_frac" -> quality.map(_.exact).getOrElse(0.0),
      "rows" -> wl.rows.toDouble,
      "iterations" -> iters.size.toDouble,
      "spark.jobs" -> med(_.jobs.n.toDouble),
      "spark.tasks" -> med(_.jobs.tasks.toDouble),
      "spark.gc_s" -> med(_.jobs.gcS),
      "spark.shuffle_write_mb" -> med(_.jobs.shuffleWriteMb),
      "spark.input_mb" -> med(_.jobs.inputMb),
      "spark.spill_mb" -> med(_.jobs.spillMb),
      "spark.core_busy_frac" -> med(x => x.jobs.taskS / (x.wallS * cores)))
    quality.foreach(q => m ++= q.named)

    if (trace) {
      tracer.enabled = true
      val i = nextIt()
      Host.liveHeapMb() // as before every timed iteration
      counters.reset()
      val t = System.nanoTime()
      attempt(tracer.span(wl.name)(wl.iterate(spark, i, tracer)))(verify)
      val tracedS = secs(t)
      val jobs = counters.snapshot()
      tracer.addJobs(jobs)
      wl.cleanup(i)
      m ++= wl.traced(tracer.spans, jobs)
      m("trace.overhead_s") = tracedS - runS
      m ++= tracer.span("layers")(wl.layers(spark, probe))
      m ++= kernels(wl.sample)
      for (dw <- m.get("Decide.decideWindowed_s"); st <- m.get("Decide.scoreTurns_s"))
        m("Decide.conv_s") = dw - st
      val out = java.nio.file.Paths.get(opt("spans"))
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, tracer.toJson.getBytes("UTF-8"))
      System.err.println(s"perfbench: spans in $out\n${tracer.selfTable}")
    }
    m("host.calib_steps_per_ms") = (calib0 + Host.calibStepsPerMs()) / 2

    spark.stop()
    val correct = failed == 0 && quality.isDefined && iters.nonEmpty
    val metrics = m.map { case (k, v) => s""""${Json.esc(k)}":${Json.num(v)}""" }
      .mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":$correct,"attempted":$attempted,""" +
      s""""failed":$failed,"summary":"${Json.esc(summary)}","metrics":$metrics}""")
  }
}
