package vigil

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.VigilSparkShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job counts for specs that bound how many Spark jobs a call starts. */
object SparkJobs {

  /** Spark jobs started while `body` runs. */
  def during(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    VigilSparkShim.waitListenerBusEmpty(sc)
    sc.addSparkListener(l)
    try { body; VigilSparkShim.waitListenerBusEmpty(sc) }
    finally sc.removeSparkListener(l)
    jobs.get
  }
}
