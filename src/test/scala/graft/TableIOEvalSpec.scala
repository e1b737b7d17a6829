package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import vigil.{Decide, Eval, SaltedDecide, SparkJobs, Synth, TableIO}
import vigil.media.Media

/** Lineage + checkpoint-resume, eval metrics, media plumbing. */
class TableIOEvalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private type Counters = (Long, Long, Long, Long)

  /** `_lineage` rows of one snapshot: bucket → (n_turns, kept, dropped,
    * scrubbed). Fails on a bucket with more than one row. */
  private def lineageOf(dir: String, snap: String): Map[Int, Counters] = {
    val rows = TableIO.lineage(spark, dir).get
      .filter(col("input_snapshot_id") === snap)
      .select("bucket", "n_turns", "kept", "dropped", "scrubbed").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
    assert(rows.map(_._1).distinct.length == rows.length, "one lineage row per bucket")
    rows.toMap
  }

  /** The lineage counters by their defining formulas, straight from a
    * decided frame per bucket: `keep` and `scrubbed_text =!= clean`. */
  private def countersOf(decided: DataFrame, nBuckets: Int): Map[Int, Counters] = {
    val keep = col("keep")
    decided.groupBy(TableIO.bucketOf(nBuckets).as("bucket"))
      .agg(count(lit(1)), sum(keep.cast("long")), sum((!keep).cast("long")),
        sum((col("scrubbed_text") =!= col("clean")).cast("long")))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
  }

  test("writeScored writes bucketed data + lineage; resume skips done buckets") {
    val dir = Files.createTempDirectory("vigil_tio").toString
    val cfg = Decide.Default.copy(targetLang = "pt")
    val input = Synth.corpusDF(spark, 60)
    val scored = Decide.scoreTurns(input, cfg)

    val n1 = TableIO.writeScored(spark, scored, dir, snapshotId = "snap-1",
      nBuckets = 8, cfg = cfg)
    assert(n1 > 0)
    val total = TableIO.readScored(spark, dir, "snap-1").count()
    assert(total == scored.count())
    val lin = TableIO.lineage(spark, dir).get
    assert(lin.count() == n1)
    val sums = lin.agg(sum("n_turns"), sum("kept"), sum("dropped")).collect()(0)
    assert(sums.getLong(0) == total)
    assert(sums.getLong(1) + sums.getLong(2) == total)
    val expected = countersOf(Decide.decideWindowed(input, cfg), 8)
    assert(lineageOf(dir, "snap-1") == expected)

    // resume with the same snapshot: everything already done → no-op
    val n2 = TableIO.writeScored(spark, scored, dir, snapshotId = "snap-1",
      nBuckets = 8, cfg = cfg)
    assert(n2 == 0, "second run with identical snapshot must skip all buckets")
    assert(TableIO.readScored(spark, dir, "snap-1").count() == total, "no duplicate rows")

    // a new snapshot processes again (append semantics per snapshot)
    val n3 = TableIO.writeScored(spark, scored, dir, snapshotId = "snap-2",
      nBuckets = 8, cfg = cfg)
    assert(n3 == n1)
    assert(lineageOf(dir, "snap-2") == expected)
  }

  test("partial-failure resume: only missing buckets are recomputed") {
    val dir = Files.createTempDirectory("vigil_resume").toString
    val cfg = Decide.Default.copy(targetLang = "pt")
    val input = Synth.corpusDF(spark, 60)
    val scored = Decide.scoreTurns(input, cfg)
    // simulate a crashed run: process only buckets {0,1,2} (filtered input),
    // recording their lineage
    val part = scored.filter(TableIO.bucketOf(8) < 3)
    val nPart = TableIO.writeScored(spark, part, dir, "snap-1", nBuckets = 8, cfg = cfg)
    assert(nPart > 0 && nPart <= 3)
    val expected = countersOf(Decide.decideWindowed(input, cfg), 8)
    assert(lineageOf(dir, "snap-1") == expected.filter(_._1 < 3))
    // a lineage file written before the `scrubbed` counter existed, named
    // to list first: its rows read `scrubbed` as null, and the column
    // stays in the schema whichever file lists first
    val old = s"$dir/old_lineage"
    Seq((0, 5L, 4L, 1L, "snap-0", TableIO.ruleVersionHash, "snap-0"))
      .toDF("bucket", "n_turns", "kept", "dropped", "input_snapshot_id",
        "rule_version_hash", "written_at")
      .coalesce(1).write.parquet(old)
    val oldFile = new java.io.File(old).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(oldFile.toPath, java.nio.file.Paths.get(s"$dir/_lineage/a-pre-scrubbed.parquet"))
    // resume with the FULL input: already-done buckets must be skipped
    val nRest = TableIO.writeScored(spark, scored, dir, "snap-1", nBuckets = 8, cfg = cfg)
    assert(nRest > 0)
    assert(TableIO.readScored(spark, dir, "snap-1").count() == scored.count(),
      "after resume the table holds exactly one copy of every turn")
    assert(lineageOf(dir, "snap-1") == expected)
    val pre = TableIO.lineage(spark, dir).get.filter(col("input_snapshot_id") === "snap-0")
      .select("bucket", "n_turns", "scrubbed").collect()
    assert(pre.length == 1 && pre(0).getInt(0) == 0 && pre(0).getLong(1) == 5L &&
      pre(0).isNullAt(2), pre.mkString)
    assert(SparkJobs.during(spark)(TableIO.lineage(spark, dir)) == 0, "lineage infers no schema")
  }

  test("a scoped view takes its schema from its own snapshot") {
    val dir = Files.createTempDirectory("vigil_scoped_schema").toString
    val cfg = Decide.Default.copy(targetLang = "pt")
    val corpus = Synth.corpusDF(spark, 30)
    // an older, narrower snapshot (no conversation decisions) that lists
    // before the one Pipeline.run writes
    Decide.scoreTurns(corpus, cfg)
      .withColumn("snapshot", lit("a-old")).withColumn("bucket", TableIO.bucketOf(4))
      .write.partitionBy("snapshot", "bucket").parquet(s"$dir/data")
    val view = vigil.Pipeline.run(spark, corpus, dir, "snap-1", cfg, nBuckets = 4)
    val stored = spark.read.parquet(s"$dir/data/snapshot=snap-1").drop("bucket").schema
    assert(stored.fieldNames.contains("keep") && stored.fieldNames.contains("majority_lang"))
    assert(view.drop("snapshot", "bucket").schema == stored,
      s"scoped view schema:\n${view.schema.treeString}")
    assert(view.filter(col("keep").isNotNull).count() == corpus.count())

    // a numeric snapshot id keeps the partition type Spark infers from paths
    val num = Files.createTempDirectory("vigil_numeric_snapshot").toString
    val numView = vigil.Pipeline.run(spark, corpus, num, "20260101", cfg, nBuckets = 4)
    val inferred = spark.read.parquet(s"$num/data").schema
    assert(numView.schema("snapshot").dataType == inferred("snapshot").dataType)
    assert(numView.schema("snapshot").dataType == org.apache.spark.sql.types.IntegerType)
    assert(numView.schema("bucket").dataType == inferred("bucket").dataType)
    assert(numView.count() == corpus.count())
  }

  test("readScored builds a snapshot's view from its footer, with no job") {
    val dir = Files.createTempDirectory("vigil_footer_schema").toString
    val cfg = Decide.Default.copy(targetLang = "pt")
    vigil.Pipeline.run(spark, Synth.corpusDF(spark, 30), dir, "snap-1", cfg, nBuckets = 4)
    val inferred = spark.read.parquet(s"$dir/data").filter(col("snapshot") === "snap-1")
    var view: DataFrame = null
    assert(SparkJobs.during(spark) { view = TableIO.readScored(spark, dir, "snap-1") } == 0)
    assert(view.schema.treeString == inferred.schema.treeString)
    def rows(df: DataFrame) =
      df.orderBy("conv_id", "turn_idx").collect().map(_.toSeq.map(String.valueOf)).toSeq
    assert(rows(view) == rows(inferred))
    // a snapshot with no file falls back to the inferred read: empty
    assert(TableIO.readScored(spark, dir, "no-such-snapshot").count() == 0)
  }

  test("each writeScored call appends exactly one _lineage file") {
    val dir = Files.createTempDirectory("vigil_lineage_files").toString
    val cfg = Decide.Default.copy(targetLang = "pt")
    val scored = Decide.scoreTurns(Synth.corpusDF(spark, 60), cfg)
    def files = Option(new java.io.File(s"$dir/_lineage")
      .listFiles((_: java.io.File, n: String) => n.endsWith(".parquet")))
      .map(_.length).getOrElse(0)
    val calls = Seq(
      "snap-1" -> scored.filter(TableIO.bucketOf(8) < 3), // a crashed run
      "snap-1" -> scored, // its resume
      "snap-2" -> scored)
    calls.zipWithIndex.foreach { case ((snap, df), i) =>
      val n = TableIO.writeScored(spark, df, dir, snap, nBuckets = 8, cfg = cfg)
      assert(n > 1, s"call $i wrote $n buckets")
      assert(files == i + 1, s"after call $i: $files lineage files")
    }
    assert(TableIO.lineage(spark, dir).get.count() ==
      spark.read.parquet(s"$dir/data").select("snapshot", "bucket").distinct().count())
  }

  test("Pipeline.run reads every source turn exactly once") {
    val dir = Files.createTempDirectory("vigil_reads").toString
    Synth.corpusDF(spark, 40).write.parquet(s"$dir/in")
    val reads = spark.sparkContext.longAccumulator("textReads")
    val counted = udf { (s: String) => reads.add(1L); s }
    val turns = spark.read.parquet(s"$dir/in").withColumn("text", counted(col("text")))
    val n = spark.read.parquet(s"$dir/in").count()
    val view = vigil.Pipeline.run(spark, turns, s"$dir/store", "snap-1",
      Decide.Default.copy(targetLang = "pt"), nBuckets = 8)
    assert(reads.value == n, s"Pipeline.run read ${reads.value} turns for $n")
    view.write.format("noop").mode("overwrite").save()
    assert(reads.value == n, "the returned view reads the stored table, not the source")
  }

  test("Pipeline.run resume reads only the turns of pending buckets") {
    val dir = Files.createTempDirectory("vigil_resume_reads").toString
    Synth.corpusDF(spark, 60).write.parquet(s"$dir/in")
    val reads = spark.sparkContext.longAccumulator("textReads")
    val counted = udf { (s: String) => reads.add(1L); s }
    val turns = spark.read.parquet(s"$dir/in").withColumn("text", counted(col("text")))
    val cfg = Decide.Default.copy(targetLang = "pt")
    // a crashed first run that finished buckets {0, 1, 2} only
    vigil.Pipeline.run(spark, turns.filter(TableIO.bucketOf(8) < 3), s"$dir/store",
      "snap-1", cfg, nBuckets = 8)
    val before = reads.value
    vigil.Pipeline.run(spark, turns, s"$dir/store", "snap-1", cfg, nBuckets = 8)
    val pending = spark.read.parquet(s"$dir/in").filter(TableIO.bucketOf(8) >= 3).count()
    assert(pending > 0)
    assert(reads.value - before == pending,
      s"resume read ${reads.value - before} turns for $pending pending")
  }

  test("a Pipeline.run view still reads after a later run at the same path") {
    val dir = Files.createTempDirectory("vigil_view_later_run").toString
    val cfg = Decide.Default.copy(targetLang = "pt")
    val cols = Seq("conv_id", "turn_idx", "majority_lang", "pii_density",
      "drop_conversation", "keep")
    def dump(df: DataFrame) =
      df.select(cols.head, cols.tail: _*).orderBy("conv_id", "turn_idx").collect().toSeq
    val r1 = vigil.Pipeline.run(spark, Synth.corpusDF(spark, 30), dir, "snap-1", cfg, 4)
    val before = dump(r1)
    assert(before.nonEmpty)
    vigil.Pipeline.run(spark, Synth.corpusDF(spark, 30, seed = 7), dir, "snap-2", cfg, 4)
    assert(dump(r1) == before)
  }

  test("clustered write: each bucket directory holds nParts / nBuckets files") {
    val dir = Files.createTempDirectory("vigil_files").toString
    val scored = Decide.scoreTurns(Synth.corpusDF(spark, 60).repartition(3),
      Decide.Default.copy(targetLang = "pt"))
    // 3 input partitions: nParts is the smallest multiple of nBuckets ≥ 3
    for ((nBuckets, perBucket) <- Seq(2 -> 2, 4 -> 1)) {
      val snap = s"b$nBuckets"
      TableIO.writeScored(spark, scored, dir, snap, nBuckets)
      val buckets = new java.io.File(s"$dir/data/snapshot=$snap").listFiles()
        .filter(_.getName.startsWith("bucket=")).sortBy(_.getName)
      assert(buckets.length == nBuckets)
      buckets.foreach { b =>
        val files = b.list().count(_.startsWith("part-"))
        assert(files == perBucket, s"${b.getName} holds $files data files")
      }
    }
  }

  test("upgrade canary: repartition(k·n, conv_id) partition p holds exactly bucket p mod n") {
    val turns = Synth.corpusDF(spark, 60)
    for ((n, k) <- Seq(8 -> 1, 8 -> 3, 5 -> 2, 16 -> 2)) {
      val misaligned = turns.repartition(k * n, col("conv_id"))
        .filter(spark_partition_id() % n =!= TableIO.bucketOf(n))
        .count()
      assert(misaligned == 0,
        s"HashPartitioning no longer agrees with bucketOf($n) at ${k * n} partitions")
    }
  }

  test("orphan bucket (data committed, lineage lost) is replaced, not duplicated") {
    val dir = Files.createTempDirectory("vigil_orphan").toString
    val cfg = Decide.Default.copy(targetLang = "pt")
    val scored = Decide.scoreTurns(Synth.corpusDF(spark, 60), cfg)
    TableIO.writeScored(spark, scored, dir, "snap-1", nBuckets = 8, cfg = cfg)
    val total = TableIO.readScored(spark, dir, "snap-1").count()
    // simulate a crash between the data commit and the lineage append:
    // the data is on disk but no lineage row records it
    val linPath = new org.apache.hadoop.fs.Path(s"$dir/_lineage")
    linPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(linPath, true)
    // resume recomputes the "unfinished" buckets; dynamic partition
    // overwrite must REPLACE the orphan data (append would double it)
    TableIO.writeScored(spark, scored, dir, "snap-1", nBuckets = 8, cfg = cfg)
    assert(TableIO.readScored(spark, dir, "snap-1").count() == total,
      "orphan bucket data must not be duplicated on resume")
    // and a different snapshot must NOT clobber snap-1's partitions
    TableIO.writeScored(spark, scored, dir, "snap-2", nBuckets = 8, cfg = cfg)
    assert(spark.read.parquet(s"$dir/data").count() == 2 * total,
      "a new snapshot lands in its own partitions")
    assert(TableIO.readScored(spark, dir, "snap-1").count() == total)
  }

  test("rule version hash is stable and sensitive") {
    assert(TableIO.ruleVersionHash.length == 16)
    assert(TableIO.ruleVersionHash == TableIO.ruleVersionHash)
  }

  test("confusion matrix + lenient bool + error ids (evaluate.py semantics)") {
    val pred = Seq((1, "sim"), (2, "no"), (3, "TRUE"), (4, "0"), (5, "y"))
      .toDF("ID", "p").withColumn("p", Eval.lenientBool(col("p")))
    val truth = Seq((1, true), (2, true), (3, false), (4, false), (5, true))
      .toDF("ID", "t")
    val m = Eval.confusion(pred, truth, Seq("ID"), "p", "t")
    assert(m == Eval.Metrics(tp = 2, fp = 1, fn = 1, tn = 1))
    assert(math.abs(m.f1 - 2.0 * (2.0 / 3) * (2.0 / 3) / (4.0 / 3)) < 1e-12)
    val (fnIds, fpIds) = Eval.errorIds(pred, truth, Seq("ID"), "p", "t")
    assert(fnIds == Seq("2") && fpIds == Seq("3"))
    // zero-division guards
    val z = Eval.Metrics(0, 0, 0, 0)
    assert(z.precision == 0.0 && z.recall == 0.0 && z.f1 == 0.0)
  }

  test("reportText reproduces the reference console report byte-for-byte") {
    // the fixture was captured by CALLING the reference's print_report
    // (scripts/evaluate.py:106-141) on these two metric sets: one with
    // errors (FN>0 → the CRÍTICO marker, fractional scores) and one
    // perfect (✅ marker, 100% scores); any drift in padding, emoji,
    // accents or float formatting fails the equality
    val expected = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource("/eval_report_expected.txt").toURI)), "UTF-8")
    val got = Eval.reportText(Eval.Metrics(tp = 40, fp = 12, fn = 3, tn = 95)) +
      Eval.reportText(Eval.Metrics(tp = 5, fp = 0, fn = 0, tn = 5))
    assert(got == expected,
      got.zip(expected).indexWhere(p => p._1 != p._2).toString)
  }

  test("histogram bins are half-open [lo, hi)") {
    val df = Seq(0.0, 0.49, 0.5, 0.89, 0.9, 0.99, 1.0).toDF("v")
    val h = Eval.histogram(df, "v").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(h(0) == 2) // 0.0, 0.49
    assert(h(1) == 1) // 0.5
    assert(h(4) == 1) // 0.89 → [0.8,0.9)? no: bins 0,.5,.6,.7,.8,.9 → idx4=[0.8,0.9)
    assert(!h.contains(6) && h.values.sum == 6, "1.0 excluded by the top bin")
  }

  test("media plumbing: deterministic stub features + resize batch shape") {
    val docs = Seq((0L, "hello world payload"), (1L, "another media payload"),
      (2L, "third one here")).toDF("doc_id", "text")
    val media = Media.synthesize(docs, "doc_id", "text")
    assert(media.columns.toSeq ==
      Seq("media_id", "kind", "payload", "meta"))
    val feats = Media.extractFeatures(spark, media).orderBy("media_id").collect()
    assert(feats.length == 3)
    val kinds = feats.map(_.getAs[String]("kind")).toSet
    assert(kinds.subsetOf(Set("image", "audio", "video")))
    // determinism
    val feats2 = Media.extractFeatures(spark, media).orderBy("media_id").collect()
    assert(feats.map(_.toString).toSeq == feats2.map(_.toString).toSeq)
    val imgs = Media.resizeImages(spark, media, 64, 48).collect()
    imgs.foreach { r =>
      assert(r.getAs[Int]("width") == 64 && r.getAs[Int]("height") == 48)
      assert(r.getAs[Array[Byte]]("payload").nonEmpty)
    }
    // frame sampling: stride-2 over the video rows; indices are the
    // original frame positions and every sampled frame is non-empty
    val frames = Media.sampleFrames(spark, media, stride = 2)
      .orderBy("media_id", "frame_idx").collect()
    assert(frames.nonEmpty)
    frames.foreach { r =>
      assert(r.getAs[Int]("frame_idx") % 2 == 0)
      assert(r.getAs[Array[Byte]]("frame").nonEmpty)
    }
    val videoIds = media.filter(col("kind") === "video")
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(frames.map(_.getAs[Long]("media_id")).toSet == videoIds)
  }

  test("media header codec: true PNG dims and WAV duration, stub fallback") {
    // minimal PNG: 8-byte signature + IHDR chunk (len, "IHDR", w, h)
    def be32(v: Int) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes("US-ASCII") ++ be32(640) ++ be32(480) ++
      Array[Byte](8, 6, 0, 0, 0)
    // minimal WAV: RIFF/WAVE + fmt chunk (byteRate 16000 B/s) + 32000B data
    def le32(v: Int) = Array[Byte](
      v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)
    val data = "data".getBytes("US-ASCII") ++ le32(32000) ++
      new Array[Byte](32000)
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(4 + fmt.length + data.length) ++
      "WAVE".getBytes("US-ASCII") ++ fmt ++ data

    // minimal JPEG: SOI, APP0 (skipped by length), DQT (skipped), SOF0
    // with height 333 / width 217, then EOI — exercises the segment walk
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array[Byte](0xff.toByte, marker.toByte,
        ((payload.length + 2) >> 8).toByte, ((payload.length + 2) & 0xff).toByte) ++
        payload
    val sof0 = Array[Byte](8, // precision
      (333 >> 8).toByte, (333 & 0xff).toByte, // height
      (217 >> 8).toByte, (217 & 0xff).toByte, // width
      3) // components
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte) ++
      seg(0xe0, "JFIF\u0000".getBytes("US-ASCII") ++ Array[Byte](1, 2, 0, 0, 1, 0, 1, 0, 0)) ++
      seg(0xdb, new Array[Byte](65)) ++
      seg(0xc0, sof0) ++
      Array[Byte](0xff.toByte, 0xd9.toByte)

    assert(Media.HeaderCodec.pngDims(png).contains((640, 480)))
    assert(Media.HeaderCodec.wavDurationMs(wav).contains(2000L)) // 32000/16000
    assert(Media.HeaderCodec.jpegDims(jpeg).contains((217, 333)))
    assert(Media.HeaderCodec.pngDims("not a png".getBytes).isEmpty)
    assert(Media.HeaderCodec.wavDurationMs("not a wav".getBytes).isEmpty)
    assert(Media.HeaderCodec.jpegDims("not a jpeg".getBytes).isEmpty)
    // truncated mid-segment: the corrupt-length guard must bail, not loop
    assert(Media.HeaderCodec.jpegDims(jpeg.take(8)).isEmpty)
    // T.81 B.1.1.2 fill bytes: extra 0xFF padding before markers is legal
    // and must not desync the walk
    val filled = Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xff.toByte) ++ // two fill bytes before the APP0 marker
      seg(0xe0, "JFIF ".getBytes("US-ASCII") ++ Array[Byte](1, 2, 0, 0, 1, 0, 1, 0, 0)) ++
      Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte) ++ // fill before SOF
      seg(0xc0, sof0) ++
      Array[Byte](0xff.toByte, 0xd9.toByte)
    assert(Media.HeaderCodec.jpegDims(filled).contains((217, 333)))

    // end to end through the Spark plumbing: real headers → true values
    val media = Seq(
      (0L, "image", png, "f", png.length.toLong),
      (1L, "audio", wav, "f", wav.length.toLong),
      (2L, "image", "raw text".getBytes, "f", 8L), // falls back to stub
      (3L, "image", jpeg, "f", jpeg.length.toLong)
    ).toDF("media_id", "kind", "payload", "source", "declared_len")
      .select(col("media_id"), col("kind"), col("payload"),
        struct(col("source"), col("declared_len")).as("meta"))
    val f = Media.extractFeatures(spark, media).orderBy("media_id").collect()
    assert(f(0).getAs[Int]("width") == 640 && f(0).getAs[Int]("height") == 480)
    assert(f(1).getAs[Long]("duration_ms") == 2000L)
    val (sw, sh) = Media.StubCodec.imageDims("raw text".getBytes)
    assert(f(2).getAs[Int]("width") == sw && f(2).getAs[Int]("height") == sh)
    assert(f(3).getAs[Int]("width") == 217 && f(3).getAs[Int]("height") == 333)
  }

  test("Pipeline.run is snapshot-scoped: a rerun does not fold prior snapshots") {
    val dir = Files.createTempDirectory("vigil_snap_scope").toString
    val cfg = Decide.Default.copy(targetLang = "pt")
    val corpus = Synth.corpusDF(spark, 12)
    val r1 = vigil.Pipeline.run(spark, corpus, dir, "snap-1", cfg)
    val n1 = r1.count()
    assert(n1 == corpus.count())
    // rerun at the SAME path with a NEW snapshot id: prior snapshot's rows
    // persist on disk (append semantics per snapshot) but must not leak
    // into this run's conversation decisions or returned frame
    val r2 = vigil.Pipeline.run(spark, corpus, dir, "snap-2", cfg)
    assert(r2.count() == n1, "returned frame must cover ONLY the new snapshot")
    val batch = SaltedDecide.convDecisions(Decide.scoreTurns(corpus, cfg), cfg)
      .select("conv_id", "majority_lang", "pii_density", "drop_conversation")
    val got = r2.select("conv_id", "majority_lang", "pii_density",
      "drop_conversation").distinct()
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty,
      "conversation decisions must be computed from the current snapshot only")
  }

  test("J2 suffix merge + SQL function registration") {
    val pred = Seq((1, true, "x"), (2, false, "y")).toDF("ID", "flag", "note")
    val truth = Seq((1, true, "a"), (2, true, "b")).toDF("ID", "flag", "note")
    val merged = Eval.mergeWithSuffixes(pred, truth, Seq("ID"))
    assert(merged.columns.toSet ==
      Set("ID", "flag_pred", "note_pred", "flag_true", "note_true"))
    assert(merged.count() == 2)

    vigil.Vigil.registerFunctions(spark)
    val r = spark.sql(
      "SELECT pii_analyze('Meu CPF é 123.456.789-00').scrubbed AS s, " +
        "clean_text('  a   b ') AS c, " +
        "lang_score('please send me the report about the work').lang AS l, " +
        "size(winnow_fingerprint('one two three four five six seven')) AS n")
      .collect()(0)
    assert(r.getString(0) == "Meu CPF é <CPF>")
    assert(r.getString(1) == "a b")
    assert(r.getString(2) == "en")
    assert(r.getInt(3) >= 1)
    val r2 = spark.sql(
      "SELECT word_ngrams('a b c', 2) AS wg, char_ngrams('abcd', 3) AS cg, " +
        "repetition_stats('a b a b').dup2_chars AS d")
      .collect()(0)
    assert(r2.getSeq[String](0) == Seq("a b", "b c"))
    assert(r2.getSeq[String](1) == Seq("abc", "bcd"))
    assert(r2.getLong(2) >= 0L)
    // non-literal n fails loudly, not silently
    val e = intercept[Exception] {
      spark.sql("SELECT char_ngrams('ab', length('abc'))").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }
}
