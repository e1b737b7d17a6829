package vigil.tools

import org.apache.spark.sql.SparkSession
import vigil.{Decide, Synth}

/** Scaling-efficiency bench (north rule: throughput at N vs 4N parallelism).
  *
  * Runs the flagship keep+scrub pipeline over a synthesized corpus at the
  * parallelism given by SPARK_GRAFT_CPUS, printing one JSON line with
  * turns/sec. scripts/scaling_bench.sh drives this via spark-submit at
  * local-cluster[1,8,12g] (N = 1 executor) and local-cluster[4,8,12g]
  * (4N = 4 executor JVMs) on the SAME corpus and reports per-pair
  * eff = (thr_4N / thr_N) / 4 for BENCH/BASELINE.md.
  *
  * Args: [nConvs] (default 30000; ~150k turns with the default tail cap),
  * or `calib` — a pure-CPU register-only workload (fixed task count ×
  * fixed xorshift iterations, no DRAM traffic, no shuffle) run at the
  * same two configs. Its pair efficiency isolates the HOST asymmetry
  * between an 8-core-active and a 32-core-active window (turbo clocks,
  * shared LLC/DRAM) that a real N- vs 4N-host cluster does not share;
  * eff_normalized = eff_job / eff_calib is the cluster-shaped number
  * (methodology in BENCH/BASELINE.md).
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("calib")) { calibMain(); return }
    if (args.headOption.contains("memcalib")) { memCalibMain(); return }
    val nConvs = if (args.nonEmpty) args(0).toInt else 30000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER=submit → respect spark-submit's --master (e.g.
    // local-cluster[N,c,m] for true multi-executor-JVM scaling evidence)
    val builder0 = SparkSession.builder()
    val builder =
      if (sys.env.get("SPARK_GRAFT_MASTER").contains("submit")) builder0
      else builder0.master(s"local[$cpus]")
    val spark = builder
      // the scoring stage now runs on the REDUCE side of the conv_id
      // exchange (decideWindowed ships raw width and scores after), so
      // the shuffle stage needs the same ≥5-waves-per-core sizing as the
      // scan splits below: `cpus` partitions would be ONE wave of heavy
      // tasks and the slowest straggler would idle every other core. AQE
      // partition coalescing must be OFF for this stage — it sizes by
      // shuffle BYTES, which are small (raw width), and would merge the
      // compute-heavy reduce tasks back into one straggler-bound wave
      .config("spark.sql.shuffle.partitions", cpus.toInt * 5)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = Decide.Default.copy(targetLang = "pt")
    // generation must not be the bottleneck being measured: synthesize
    // once, write to parquet, re-read (also what a real job would scan)
    // repeat=3: ~300-char turns, matching real transcript lengths (short
    // template sentences understate per-row compute and overstate the
    // serialization share, which caps thread scaling)
    val corpusPath = s"/tmp/vigil_bench_corpus_${nConvs}_r3"
    val fs = new org.apache.hadoop.fs.Path(corpusPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(corpusPath))) {
      Synth.corpusDF(spark, nConvs, maxLen = 200, repeat = 3)
        .repartition(64)
        .write.mode("overwrite").parquet(corpusPath)
    }
    // scan granularity: small parquet files coalesce into few mega-splits
    // under the default 128MB maxPartitionBytes, capping the heavy narrow
    // stage at ~6 tasks — size splits so every core gets ≥3 waves
    val dataBytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(corpusPath)).getLength
    // ~5 waves per core so one straggler never idles a whole wave
    val targetSplit = math.max(512L << 10, dataBytes / (cpus.toInt * 5))
    spark.conf.set("spark.sql.files.maxPartitionBytes", targetSplit.toString)
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    val turns = spark.read.parquet(corpusPath)
    println(s"scan partitions: ${turns.rdd.getNumPartitions} " +
      s"(data ${dataBytes >> 20}MB, split ${targetSplit >> 20}MB)")
    val nTurns = turns.count()

    // warmup (JIT + codegen caches), then timed runs. decideWindowed: the
    // score-once single-pass shape (same as the driver-bench flagship) —
    // no executor-storage cache, so memory per executor is bounded by the
    // window buffers and the identical job runs at any cluster size
    // (a whole-corpus persist of the scored frame OOMs small executors).
    def once(): Double = {
      val t0 = System.nanoTime()
      Decide.decideWindowed(turns, cfg)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    val times = Seq(once(), once(), once())
    val best = times.min
    val thr = nTurns / best
    println(
      s"""{"bench":"scaling","cpus":$cpus,"n_convs":$nConvs,""" +
        s""""n_turns":$nTurns,"times_sec":[${times.mkString(",")}],""" +
        s""""best_sec":$best,"turns_per_sec":$thr}""")
    spark.stop()
  }

  /** Memory-BANDWIDTH calibration leg: each task streams a thread-private
    * 128 MB long array (allocated once per executor thread, reused across
    * tasks) with a stride-8 (64-byte = one cache line) read pattern —
    * far beyond LLC residency, so every line comes from DRAM (the stride
    * is sequential and prefetch-friendly: this probes peak STREAMING
    * bandwidth, the upper bound of what the memory system gives; latency-
    * bound access would scale no better). 64 tasks × 16 passes. Aggregate bandwidth
    * demand scales with ACTIVE CORES, so the pair efficiency of this leg
    * measures what the HOST MEMORY SYSTEM itself gives an 8-core-active
    * vs 32-core-active window — the asymmetry the register-only `calib`
    * cannot see (it measures clocks), and the one a real 1-host vs
    * 4-host cluster does not share (each real host brings its own DRAM).
    * A job whose pair eff falls between calib (register ceiling) and
    * memcalib (DRAM floor) is bounded by the host's shared memory
    * system in exact proportion to its DRAM-traffic share.
    */
  private def memCalibMain(): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder0 = SparkSession.builder()
    val builder =
      if (sys.env.get("SPARK_GRAFT_MASTER").contains("submit")) builder0
      else builder0.master(s"local[$cpus]")
    val spark = builder
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tasks = 64
    val words = (128 << 20) / 8 // 16M longs = 128 MB per thread
    val passes = 16
    def once(): Double = {
      val t0 = System.nanoTime()
      val acc = spark.sparkContext.parallelize(1 to tasks, tasks).map { s =>
        val a = ScalingBench.tlArray.get()
        var sum = 0L
        var p = 0
        while (p < passes) {
          // stride 8 longs = 64 B: one load per cache line, whole line
          // fetched from DRAM (array >> LLC share)
          var i = (s + p) % 8
          while (i < words) { sum += a(i); i += 8 }
          p += 1
        }
        sum
      }.reduce(_ + _)
      if (acc == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }
    once()
    val times = Seq(once(), once(), once())
    val best = times.min
    // bytes actually moved from DRAM: one 64B line per stride-8 step
    val bytes = tasks.toLong * passes * (words / 8) * 64
    println(
      s"""{"bench":"memcalib","cpus":$cpus,"tasks":$tasks,""" +
        s""""times_sec":[${times.mkString(",")}],"best_sec":$best,""" +
        s""""gbytes_per_sec":${bytes / best / 1e9}}""")
    spark.stop()
  }

  /** Per-thread streamed array for [[memCalibMain]] — allocated once per
    * executor thread, reused across tasks (a per-task 128 MB allocation
    * would measure the allocator, not the memory bus).
    */
  private[tools] lazy val tlArray: ThreadLocal[Array[Long]] =
    ThreadLocal.withInitial(() => {
      val a = new Array[Long]((128 << 20) / 8)
      var i = 0
      while (i < a.length) { a(i) = i * 0x9e3779b97f4a7c15L; i += 1 }
      a
    })

  /** Pure-CPU calibration leg: 640 tasks × 2^26 xorshift64 steps each —
    * register-only (no allocation, no DRAM streaming, no shuffle), so with
    * perfect core scaling wall time is ∝ 1/cores and pair eff is 1.0.
    * Whatever it measures short of 1.0 is host-environment asymmetry
    * (8-core turbo vs 32-core all-core clocks, co-tenant noise), not
    * engine behavior.
    */
  private def calibMain(): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder0 = SparkSession.builder()
    val builder =
      if (sys.env.get("SPARK_GRAFT_MASTER").contains("submit")) builder0
      else builder0.master(s"local[$cpus]")
    val spark = builder
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tasks = 640
    val iters = 1L << 26
    def once(): Double = {
      val t0 = System.nanoTime()
      val acc = spark.sparkContext.parallelize(1 to tasks, tasks).map { s =>
        var x = 0x9e3779b97f4a7c15L + s
        var i = 0L
        while (i < iters) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          i += 1
        }
        x
      }.reduce(_ ^ _)
      if (acc == 42L) println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    once()
    val times = Seq(once(), once(), once())
    val best = times.min
    println(
      s"""{"bench":"calib","cpus":$cpus,"tasks":$tasks,""" +
        s""""times_sec":[${times.mkString(",")}],"best_sec":$best,""" +
        s""""steps_per_sec":${tasks * iters / best}}""")
    spark.stop()
  }
}
