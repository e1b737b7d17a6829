package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Result locks for `SparkEntry` queries that no oracle pairs: an
  * order-independent row hash at sf0.01 that must equal a constant recorded
  * before the refactor that touched the query, at one core and at four.
  * `pipeline_transcripts` (the flagship) was recorded before the
  * conversation-decision refactor, `q_review_triage_transcripts` before the
  * per-turn review kernel, `q_conv_assembly`, `q_pii_scrub` and
  * `q_lang_score` before the streaming refactor, and `q_ppl_buckets`,
  * `q_lm_buckets` and `q_quality_classifier` before the single-pass turn
  * kernel, and the four queries that reach `Dedup.neardupVerified`
  * (`q_doc_filter`, `q_doc_filter_build`, `q_doc_filter_incremental`,
  * `q_pretrain_pipeline`) before the banded-LSH pair core.
  *
  * The transcript queries read no file: `SparkEntry.transcripts` takes its
  * scale from the directory name alone (sf0.01 → 2,000 Synth
  * conversations). The other queries read the sf0.01 documents table;
  * `q_doc_filter_build` writes the stored tables that
  * `q_doc_filter_incremental`, locked after it, reads.
  *
  * The suites share one local[4] SparkContext, and a JVM holds only one, so
  * the local[1] hash comes from a child JVM running [[FlagshipLockSpec.main]]
  * on this JVM's classpath and module options.
  */
class FlagshipLockSpec extends AnyFunSuite {
  import FlagshipLockSpec._

  lazy val spark: SparkSession = session("local[4]")

  /** `main` in a child JVM; returns the hashes it prints, by query. */
  private def hashesInChildJvm(master: String): Map[String, String] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = rt.getInputArguments.asScala.filter(a =>
      a.startsWith("--add-opens") || a.startsWith("-D"))
    val cmd = Seq(javaBin, "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.FlagshipLockSpec", master)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8").getLines().toList
    assert(proc.waitFor() == 0, out.takeRight(20).mkString("\n"))
    val got = out.collect { case l if l.startsWith(Prefix) =>
      val Array(q, h) = l.stripPrefix(Prefix).split(" ", 2)
      q -> h
    }.toMap
    assert(got.keySet == Locked.map(_._1).toSet, out.takeRight(20).mkString("\n"))
    got
  }

  private lazy val local1 = hashesInChildJvm("local[1]")

  Locked.foreach { case (query, expected) =>
    test(s"$query row hash is locked at local[1] and local[4]") {
      assert(hash(spark, query) == expected, s"$query at local[4]")
      assert(local1(query) == expected, s"$query at local[1]")
    }
  }
}

object FlagshipLockSpec {
  /** `rows:sum of xxhash64` of `pipeline_transcripts` at sf0.01. */
  val PipelineTranscripts = "4256:238196791668216167642"
  /** `rows:sum of xxhash64` of `q_review_triage_transcripts` at sf0.01. */
  val ReviewTriageTranscripts = "331:21941937658985251946"
  /** `rows:sum of xxhash64` of `q_conv_assembly` at sf0.01. */
  val ConvAssembly = "2000:-153581073347702666747"
  /** `rows:sum of xxhash64` of `q_pii_scrub` at sf0.01. */
  val PiiScrub = "500:13563538109353928269"
  /** `rows:sum of xxhash64` of `q_lang_score` at sf0.01. */
  val LangScore = "500:115193367542508361719"

  /** `rows:sum of xxhash64` of `q_ppl_buckets` at sf0.01. */
  val PplBuckets = "500:-114957020942900159054"
  /** `rows:sum of xxhash64` of `q_lm_buckets` at sf0.01. */
  val LmBuckets = "500:62415029671063645927"
  /** `rows:sum of xxhash64` of `q_quality_classifier` at sf0.01. */
  val QualityClassifier = "500:84982561720998424686"

  /** `rows:sum of xxhash64` of `q_doc_filter` at sf0.01. */
  val DocFilter = "500:-37729896746840379503"
  /** `rows:sum of xxhash64` of `q_doc_filter_build` at sf0.01. */
  val DocFilterBuild = "3:20070728643964334091"
  /** `rows:sum of xxhash64` of `q_doc_filter_incremental` at sf0.01. */
  val DocFilterIncremental = "167:57463001934804303779"
  /** `rows:sum of xxhash64` of `q_pretrain_pipeline` at sf0.01. */
  val PretrainPipeline = "23:3324280970834440793"

  /** The sf0.01 test-data directory the locked queries run over. */
  val SfDir = "/root/testdata/sf0.01"

  /** The locked queries and their hashes, in test order. */
  val Locked: Seq[(String, String)] = Seq(
    "pipeline_transcripts" -> PipelineTranscripts,
    "q_review_triage_transcripts" -> ReviewTriageTranscripts,
    "q_conv_assembly" -> ConvAssembly,
    "q_pii_scrub" -> PiiScrub,
    "q_lang_score" -> LangScore,
    "q_ppl_buckets" -> PplBuckets,
    "q_lm_buckets" -> LmBuckets,
    "q_quality_classifier" -> QualityClassifier,
    "q_doc_filter" -> DocFilter,
    "q_doc_filter_build" -> DocFilterBuild,
    "q_doc_filter_incremental" -> DocFilterIncremental,
    "q_pretrain_pipeline" -> PretrainPipeline)

  private val Prefix = "row hash: "

  def session(master: String): SparkSession = SparkSession.builder()
    .master(master)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def hash(spark: SparkSession, query: String): String =
    rowHash(SparkEntry.queries(query)(spark, SfDir))

  /** Row count and the sum of each row's xxhash64 over its columns in name
    * order, doubles rounded to float first so that neither summation order
    * nor partitioning can move the hash.
    */
  def rowHash(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => col(f.name).cast("float")
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .first()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  /** Prints each locked query's hash at the master given as the only
    * argument, one `row hash: <query> <hash>` line per query. */
  def main(args: Array[String]): Unit = {
    val spark = session(args(0))
    spark.sparkContext.setLogLevel("ERROR")
    try Locked.foreach { case (q, _) => println(s"$Prefix$q ${hash(spark, q)}") }
    finally spark.stop()
  }
}
