package vigil

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Partition-granular table IO with per-partition lineage and
  * checkpoint-resume (north rule S11; SURVEY.md §2.1).
  *
  * No Iceberg runtime jar exists in this environment (verified against
  * /opt/spark/jars), so the layout is Iceberg-shaped Parquet behind this
  * narrow interface: data partitioned by a stable hash bucket of conv_id
  * (`bucket=N/` directories — the same physical layout Iceberg's
  * bucket(conv_id) transform produces), plus a `_lineage` sidecar table
  * with one row per (bucket, run): input snapshot id, rule-version hash,
  * keep/drop/scrub counters, written_at. Resume = left-anti join of the
  * planned buckets against `_lineage` — only unfinished buckets are
  * recomputed, which is exactly Iceberg's overwrite-by-partition recovery
  * story. A real catalog can slot in behind these methods unchanged.
  */
object TableIO {

  /** Rule-version hash: any change to the normative pattern set or scrub
    * rules changes this value, invalidating lineage rows for resume.
    */
  lazy val ruleVersionHash: String = {
    val normative =
      Patterns.CpfFormatted.pattern + Patterns.Email.pattern +
        Patterns.Rg.pattern + PiiTypes.ScrubToken.toSeq.sorted.mkString +
        Exclusions.Lower.mkString("|") + Toxicity.Lexicon.sorted.mkString("|")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(normative.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  def bucketOf(nBuckets: Int) = pmod(hash(col("conv_id")), lit(nBuckets))

  /** Decide and write per-turn scored turns (the [[Decide.scoreTurns]]
    * frame) partitioned by conv_id bucket, appending one lineage row per
    * bucket. Buckets already present in `_lineage` for this (snapshotId,
    * ruleVersionHash) are skipped — checkpoint-resume; the skip is a filter
    * on conv_id below the exchange, so a resume scores only pending turns.
    *
    * Clustered write: `repartition(nParts, conv_id)` with `nParts` the
    * smallest multiple of `nBuckets` ≥ the scored frame's own partition
    * count: there are never fewer write tasks than input tasks, so the
    * average rows per task never grow. HashPartitioning and [[bucketOf]]
    * hash conv_id with the same Murmur3 (seed 42), so partition p holds
    * exactly bucket p mod nBuckets and the snapshot gets at most `nParts`
    * files, not input tasks × nBuckets (TableIOEvalSpec's canary fails if
    * a Spark upgrade breaks that). The exchange sits above scoring in the
    * plan: scoring stays on the input splits. The conversation window
    * ([[Decide.convWindows]], under `cfg`'s rules: one sort on conv_id and
    * one WindowExec) sits above it and reuses its partitioning, so each
    * stored row carries majority_lang, pii_density, drop_conversation and
    * the final keep with no further exchange (plan-asserted in
    * PipelineSpec). Skew bound: one conversation's scored rows, and its
    * window buffer, all land in one write task.
    *
    * One pass over the scoring: the partitioned data write is the only
    * action over `scored`'s lineage. The lineage counters come from a
    * column-pruned re-read of the buckets this call just wrote (this
    * snapshot's partitions, minus the `done` buckets); the stored boolean
    * `scrubbed` column (`scrubbed_text =!= clean`) lets that count read no
    * text. `kept`/`dropped` count the final keep. The re-read relies on the
    * assumption resume already relies on: the same snapshot id means the
    * same input, so the written buckets hold exactly this call's rows.
    * The ≤ nBuckets lineage rows are appended as one file per call.
    *
    * Returns the number of buckets actually processed this call.
    */
  def writeScored(
      spark: SparkSession,
      scored: DataFrame,
      path: String,
      snapshotId: String,
      nBuckets: Int = 64,
      cfg: Decide.Config = Decide.Default): Long = {
    val withBucket = scored
      .withColumn("scrubbed", col("scrubbed_text") =!= col("clean"))
      .withColumn("snapshot", lit(snapshotId))
      .withColumn("bucket", bucketOf(nBuckets))

    val done: Set[Int] = lineage(spark, path) match {
      case Some(l) =>
        l.filter(col("input_snapshot_id") === snapshotId &&
            col("rule_version_hash") === ruleVersionHash)
          .select("bucket").distinct()
          .collect().map(_.getInt(0)).toSet
      case None => Set.empty
    }
    val notDone = !col("bucket").isin(done.toSeq: _*)

    val pending = withBucket.filter(notDone)
    // conv_id alone: column pruning drops the scoring, so neither the
    // resume check nor planning the partition count scores a turn
    val keys = pending.select("conv_id")
    if (done.nonEmpty && keys.isEmpty) return 0L
    val nParts = nBuckets * math.max(1,
      (keys.rdd.getNumPartitions + nBuckets - 1) / nBuckets)
    val decided = Decide.convWindows(pending.repartition(nParts, col("conv_id")), cfg)

    // dynamic partition OVERWRITE, not append: a crash after the data job
    // commits but before the lineage append would leave a committed bucket
    // with no lineage row; the resume recomputes that bucket, and overwrite
    // makes the recompute REPLACE the orphan data instead of duplicating it
    // (exactly Iceberg's overwrite-by-partition recovery semantics). The
    // snapshot partition level scopes the overwrite: a NEW snapshot lands
    // in its own partitions and never clobbers a previous snapshot's data
    decided.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("snapshot", "bucket")
      .parquet(s"$path/data")

    // lineage counters per bucket from the written files. The explicit
    // schema reads only the two counter columns, and tolerates other
    // snapshots whose files lack them
    val lin = spark.read
      .schema(decided.select("keep", "scrubbed", "snapshot", "bucket").schema)
      .parquet(s"$path/data")
      .filter(col("snapshot") === snapshotId && notDone)
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_turns"),
        sum(col("keep").cast("long")).as("kept"),
        sum((!col("keep")).cast("long")).as("dropped"),
        sum(col("scrubbed").cast("long")).as("scrubbed")
      )
      .withColumn("input_snapshot_id", lit(snapshotId))
      .withColumn("rule_version_hash", lit(ruleVersionHash))
      .withColumn("written_at", lit(snapshotId)) // deterministic: snapshot-scoped
    // at most nBuckets rows: collect once, append them from the driver
    val rows = lin.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), LineageSchema)
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(s"$path/_lineage")
    rows.length.toLong
  }

  /** The `_lineage` columns, one row per (bucket, run). */
  val LineageSchema: StructType = StructType(Seq(
    StructField("bucket", IntegerType),
    StructField("n_turns", LongType),
    StructField("kept", LongType),
    StructField("dropped", LongType),
    StructField("scrubbed", LongType),
    StructField("input_snapshot_id", StringType),
    StructField("rule_version_hash", StringType),
    StructField("written_at", StringType)))

  /** The `_lineage` table, if any run wrote one, read with its fixed
    * [[LineageSchema]]: building the frame submits no schema-inference job,
    * and rows from files written before the `scrubbed` counter existed read
    * it as null, whichever file lists first.
    */
  def lineage(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(s"$path/_lineage")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.schema(LineageSchema).parquet(p.toString)) else None
  }

  /** Snapshot-scoped read of the scored turns: partition-prunes to ONE
    * snapshot's directories. [[Pipeline.run]] returns this — `$path/data`
    * holds every snapshot ever written (asserted in TableIOEvalSpec), so
    * reading it whole would duplicate turns across snapshots.
    *
    * The data schema comes from the Spark schema in the footer of one of
    * this snapshot's own files, read on the driver: an inferred read takes
    * it from whichever file lists first, possibly an older snapshot's with
    * other columns, and submits a Spark job to read that one footer. Only
    * the data columns are given, so `snapshot` and `bucket` keep the types
    * Spark infers from the partition paths. A snapshot with no
    * Spark-written file falls back to the inferred read.
    */
  def readScored(spark: SparkSession, path: String, snapshotId: String): DataFrame = {
    val reader = snapshotSchema(spark, path, snapshotId) match {
      case Some(schema) => spark.read.schema(schema)
      case None => spark.read
    }
    reader.parquet(s"$path/data").filter(col("snapshot") === snapshotId)
  }

  /** The Spark schema stored in the footer of the first data file under
    * the snapshot's partition directory, if there is one. */
  private def snapshotSchema(
      spark: SparkSession, path: String, snapshotId: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(s"$path/data/snapshot=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(snapshotId))
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return None
    val files = fs.listFiles(dir, true)
    var schema: Option[StructType] = None
    while (schema.isEmpty && files.hasNext) {
      val f = files.next().getPath
      val hidden = f.getName.startsWith("_") || f.getName.startsWith(".")
      if (!hidden && f.getName.endsWith(".parquet")) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(SparkSchemaKey) finally reader.close()
        schema = Option(json).map(DataType.fromJson(_).asInstanceOf[StructType])
      }
    }
    schema
  }

  /** The footer key under which Spark's Parquet writer stores the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"
}
