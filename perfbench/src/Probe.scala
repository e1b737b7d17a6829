package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One Spark job as the listener saw it, with its task counters summed.
  * `site` is the innermost engine frame that submitted it, as
  * "Class.method" ("TableIO.writeScored"), or "-" when no engine frame was
  * on the stack.
  */
final case class JobRec(
    id: Int, site: String, start: Long, var end: Long = -1L,
    var tasks: Int = 0, var taskMs: Long = 0L, var maxTaskMs: Long = 0L,
    var gcMs: Long = 0L, var inputBytes: Long = 0L, var outputBytes: Long = 0L,
    var shuffleWriteBytes: Long = 0L, var spillBytes: Long = 0L,
    var textReads: Long = 0L)

object JobRec {
  private val Frame = """^(?:at )?vigil\.(?:[a-z]+\.)*([A-Za-z0-9]+)\$?\.([^(]+)\(.*""".r

  /** "Class.method" of the innermost `vigil` frame in a long call site. */
  def site(callSite: String): String =
    callSite.linesIterator.map(_.trim).collectFirst {
      case Frame(cls, method) =>
        val m = method.split('$').filter(p => p.nonEmpty && p != "anonfun" && !p.forall(_.isDigit))
        s"$cls.${m.headOption.getOrElse(method)}"
    }.getOrElse("-")
}

/** Listener counters for every job since the last [[reset]]. Stages map to
  * their job, tasks to their stage, so each counter is attributable to the
  * call site that submitted it.
  */
final class Counters(sc: org.apache.spark.SparkContext) extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byStage = mutable.Map.empty[Int, JobRec]
  // SQL execution id -> site: jobs that adaptive execution submits carry
  // the execution's id, not the caller's stack
  private val execSite = mutable.Map.empty[String, String]
  /** Id of the accumulator whose per-task updates count source text reads. */
  @volatile var textReadsAcc: Long = -1L

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSite(x.executionId.toString) = JobRec.site(x.details) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val fromExec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(execSite.get).filter(_ != "-")
    val site = fromExec.getOrElse(JobRec.site(e.stageInfos.map(_.details).mkString("\n")))
    val j = JobRec(e.jobId, site, e.time)
    jobs += j
    e.stageIds.foreach(s => byStage(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    byStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.maxTaskMs = math.max(j.maxTaskMs, m.executorRunTime)
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      val acc = textReadsAcc
      if (acc >= 0 && e.taskInfo != null)
        e.taskInfo.accumulables.find(_.id == acc)
          .flatMap(_.update).foreach(u => j.textReads += u.toString.toLong)
    }
  }

  def reset(): Unit = {
    org.apache.spark.PerfbenchShim.drainListenerBus(sc)
    synchronized { jobs.clear(); byStage.clear() }
  }

  /** Every job since [[reset]], after all queued events are delivered. */
  def snapshot(): Seq[JobRec] = {
    org.apache.spark.PerfbenchShim.drainListenerBus(sc)
    synchronized { jobs.map(_.copy()).toSeq }
  }
}

/** Sums over a set of jobs. */
final case class JobSum(jobs: Seq[JobRec]) {
  private def mb(b: Long) = b / 1048576.0
  def n: Int = jobs.size
  def tasks: Int = jobs.map(_.tasks).sum
  def taskS: Double = jobs.map(_.taskMs).sum / 1000.0
  def gcS: Double = jobs.map(_.gcMs).sum / 1000.0
  def wallS: Double = jobs.map(j => math.max(0L, j.end - j.start)).sum / 1000.0
  def inputMb: Double = mb(jobs.map(_.inputBytes).sum)
  def outputMb: Double = mb(jobs.map(_.outputBytes).sum)
  def shuffleWriteMb: Double = mb(jobs.map(_.shuffleWriteBytes).sum)
  def spillMb: Double = mb(jobs.map(_.spillBytes).sum)
  def textReads: Long = jobs.map(_.textReads).sum
  /** Share of all task time held by the single longest task. */
  def maxTaskFrac: Double = {
    val total = jobs.map(_.taskMs).sum
    if (total == 0) 0.0 else jobs.map(_.maxTaskMs).max.toDouble / total
  }
  def site(s: String): JobSum = JobSum(jobs.filter(_.site == s))
}

/** A timed interval; `parent` is -1 for a root. */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)

/** In-memory span recorder for the driver thread. Spans nest by call; job
  * spans from the listener attach to the innermost span open when the job
  * started. Nothing is written until [[toJson]] is called.
  */
final class Tracer(val runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0
  @volatile var enabled = false

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = synchronized {
      val i = nextId; nextId += 1
      open.push((i, name, System.currentTimeMillis())); i
    }
    try body
    finally synchronized {
      val (i, n, s) = open.pop()
      val parent = if (open.nonEmpty) open.top._1 else -1
      done += Span(i, n, parent, s, System.currentTimeMillis())
      assert(i == id)
    }
  }

  /** Adds the listener's jobs that started under a traced span. */
  def addJobs(jobs: Seq[JobRec]): Unit = synchronized {
    val outer = done.toSeq
    jobs.foreach { j =>
      val in = outer.filter(s => s.start <= j.start && j.start <= s.end)
      if (in.nonEmpty) {
        val parent = in.maxBy(s => (s.start, -s.end, s.id))
        val i = nextId; nextId += 1
        // a job no engine frame submitted belongs to the benchmark call
        // around it, e.g. the noop write that materializes a lazy frame
        val name = s"${if (j.site == "-") parent.name else j.site}.job"
        done += Span(i, name, parent.id, j.start, math.max(j.start, j.end))
      }
    }
  }

  def spans: Seq[Span] = synchronized { done.sortBy(s => (s.start, s.id)).toSeq }

  /** Span length minus the union of its children's lengths (children of
    * one span may overlap when jobs run concurrently).
    */
  def selfMs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (math.max(k.start, s.start), math.min(k.end, s.end))).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    (s.end - s.start) - covered
  }

  def toJson: String = spans.map { s =>
    s"""{"run":"${Json.esc(runId)}","id":${s.id},"name":"${Json.esc(s.name)}",""" +
      s""""parent":${s.parent},"start_ms":${s.start},"end_ms":${s.end},""" +
      s""""self_ms":${selfMs(s)}}"""
  }.mkString("[\n", ",\n", "\n]\n")

  /** Per-name totals of span and self time, longest self time first. */
  def selfTable: String = {
    val rows = spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, ss.map(s => s.end - s.start).sum, ss.map(selfMs).sum)
    }.sortBy(-_._4)
    (f"${"span"}%-34s ${"count"}%6s ${"total_ms"}%9s ${"self_ms"}%9s" +:
      rows.map { case (n, c, t, s) => f"$n%-34s $c%6d $t%9d $s%9d" }).mkString("\n")
  }
}

object Host {
  /** Single-thread register-only loop: xorshift64 steps per ms over about
    * `ms` milliseconds. It reads lower when the host is busy, whatever the
    * code under test does.
    */
  def calibStepsPerMs(ms: Long = 200L): Double = {
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var n = 0L
    while (System.nanoTime() - t0 < ms * 1000000L) {
      var i = 0
      while (i < 100000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      n += 100000
    }
    if (x == 42L) System.err.println("unreachable")
    n / ((System.nanoTime() - t0) / 1e6)
  }

  /** Heap in use after a full collection, in MB. The first collection
    * lets Spark's cleaner drop the blocks of unreachable RDDs and shuffles;
    * the second frees them, so the reading does not depend on when the
    * cleaner last ran.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
