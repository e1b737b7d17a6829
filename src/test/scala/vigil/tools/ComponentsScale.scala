package vigil.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import vigil.dedup.Dedup

/** Scale probe for `Dedup.connectedComponents` above its 2^20-edge driver
  * budget, on three seeded pair graphs:
  *  - `cliques`: 20,000 disjoint cliques of 12 ids (1.32M edges), the
  *    near-dup shape, which round 1 already collapses;
  *  - `random`: 1.5M pairs drawn by `xxhash64` over 1M node ids;
  *  - `path`: the sorted path 0 – 1 – … – 1,200,000 (1.2M edges), the
  *    adversarial shape for min-label rounds.
  *
  * For each graph and repetition it prints wall time, Spark jobs, the
  * label rounds and pointer jumps, a label hash (the xor of
  * `xxhash64(doc_id, component)` over every node) and
  * `sc.getPersistentRDDs.size` before and after the call. Wall time and jobs cover
  * the call and the one action that computes the hash. Rounds and jumps
  * are counted from the SQL executions each `Dedup` method starts:
  * rounds = `componentsWithin`'s actions minus its budget count, jumps =
  * `shortcut`'s actions; other methods' actions are listed as they are.
  *
  * `sbt "Test/runMain vigil.tools.ComponentsScale [graph…] [reps=N]"`
  * (default: all three graphs, reps=1). It needs ~6 GB of driver heap
  * (`SPARK_DRIVER_MEM=6g`) and runs at local[4].
  */
object ComponentsScale {

  /** (nodes `doc_id`, pairs `id_a`, `id_b`) of a named graph. */
  def graph(spark: SparkSession, name: String): (DataFrame, DataFrame) = {
    def ids(n: Long) = spark.range(n).select(col("id").as("doc_id"))
    name match {
      case "cliques" =>
        val (k, size) = (20000L, 12)
        val pairs = spark.range(k).select(col("id").as("c"))
          .select(explode(array((for (i <- 0 until size; j <- i + 1 until size)
            yield struct(lit(i).as("i"), lit(j).as("j"))): _*)).as("e"), col("c"))
          .select((col("c") * size + col("e.i")).as("id_a"),
            (col("c") * size + col("e.j")).as("id_b"))
        (ids(k * size), pairs)
      case "random" =>
        val n = 1000000L
        val pairs = spark.range(1500000L).select(
          pmod(xxhash64(col("id"), lit(1L)), lit(n)).as("id_a"),
          pmod(xxhash64(col("id"), lit(2L)), lit(n)).as("id_b"))
        (ids(n), pairs)
      case "path" =>
        val n = 1200000L
        (ids(n + 1), spark.range(n).select(col("id").as("id_a"), (col("id") + 1).as("id_b")))
      case other => throw new IllegalArgumentException(s"unknown graph $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val reps = args.collectFirst { case a if a.startsWith("reps=") => a.drop(5).toInt }
      .getOrElse(1)
    val names = args.filterNot(_.startsWith("reps=")).toSeq match {
      case Seq() => Seq("cliques", "random", "path")
      case ns => ns
    }
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val actions = mutable.Map.empty[String, Int].withDefaultValue(0)
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          val frame = x.details.split("\n").map(_.trim)
            .find(_.startsWith("vigil.dedup.Dedup$."))
            .map(_.stripPrefix("vigil.dedup.Dedup$.").takeWhile(_ != '('))
          frame.foreach(m => actions.synchronized(actions(m) += 1))
        case _ =>
      }
    })
    for (rep <- 1 to reps; name <- names) {
      val (nodes, pairs) = graph(spark, name)
      org.apache.spark.VigilSparkShim.waitListenerBusEmpty(sc)
      val persistedBefore = sc.getPersistentRDDs.size
      jobs.set(0)
      actions.synchronized(actions.clear())
      val t0 = System.nanoTime()
      val hash = Dedup.connectedComponents(nodes, "doc_id", pairs)
        .agg(bit_xor(xxhash64(col("doc_id"), col("component"))), count(lit(1)))
        .head()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.VigilSparkShim.waitListenerBusEmpty(sc)
      val acts = actions.synchronized(actions.toMap)
      val rounds = acts.getOrElse("componentsWithin", 0) - 1
      val jumps = acts.getOrElse("shortcut", 0)
      val other = acts.keys.filterNot(Set("componentsWithin", "shortcut"))
        .toSeq.sorted.map(m => s"$m=${acts(m)}").mkString(",")
      println(f"graph=$name rep=$rep wall_s=$wall%.2f jobs=${jobs.get} " +
        f"rounds=$rounds jumps=$jumps other_actions=[$other] " +
        f"label_hash=${hash.getLong(0)} nodes=${hash.getLong(1)} " +
        f"persistent_rdds=$persistedBefore->${sc.getPersistentRDDs.size}")
    }
    spark.stop()
  }
}
