package graft

import graft.pipeline._
import graft.tfrecord.TFRecords
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

class MainSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def decodedRows(df: DataFrame): Set[(String, String, Seq[Long], Int)] =
    df.selectExpr("filename", "dataset", "timestamp_ms", "size(logits)")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[Long](2),
        r.getInt(3))).toSet

  test("end-to-end: listing → decode → embed → assemble → tfrecord → read") {
    val out = Files.createTempDirectory("main_e2e").toString
    Main.run(Main.fixtureListing(spark, sfDir), out,
      Main.Config(mode = Main.FullVideo))
    val back = TFRecords.read(spark, out, Main.sampleSchema(Main.FullVideo))
    val rows = decodedRows(back)
    assert(rows.nonEmpty)
    // every decoded sample: one row per kept video, logits row per frame
    assert(rows.forall { case (f, ds, ts, nLogits) =>
      f.matches(".*\\.(mp4|mkv|avi)") &&
        Set("train", "val", "test")(ds) &&
        ts == ts.sorted && ts.size == nLogits
    })
  }

  test("golden determinism: two runs produce identical decoded multisets") {
    val o1 = Files.createTempDirectory("main_g1").toString
    val o2 = Files.createTempDirectory("main_g2").toString
    Main.run(Main.fixtureListing(spark, sfDir), o1,
      Main.Config(mode = Main.FullVideo))
    Main.run(Main.fixtureListing(spark, sfDir), o2,
      Main.Config(mode = Main.FullVideo))
    val r1 = decodedRows(
      TFRecords.read(spark, o1, Main.sampleSchema(Main.FullVideo)))
    val r2 = decodedRows(
      TFRecords.read(spark, o2, Main.sampleSchema(Main.FullVideo)))
    assert(r1 === r2)
  }

  test("round-trip equality: sink+read ≡ direct in-memory assembly") {
    val out = Files.createTempDirectory("main_rt").toString
    val listing = Main.fixtureListing(spark, sfDir)
    Main.run(listing, out,
      Main.Config(mode = Main.FullVideo, embeddingDim = 8))
    val back = TFRecords.read(spark, out,
      Main.sampleSchema(Main.FullVideo))

    // recompute the same samples WITHOUT the sink
    val prepared = Ingest.splitByHash(
      Ingest.withLabel(Ingest.filterVideos(listing)), 0.70, 0.15, 0.15)
    val frames = Frames.extract(prepared, new SyntheticFrameDecoder(), 500)
    val embedded = Embed.run(frames, new HashEmbedder(8), 16).toDF()
    val direct = Samples.fullVideo(embedded, Seq("timestamp_ms", "logits"))

    def norm(df: DataFrame) =
      df.selectExpr("filename", "dataset", "timestamp_ms",
        "transform(logits, l -> aggregate(l, 0D, (a, x) -> a + x)) AS lsum")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getSeq[Long](2),
          r.getSeq[Double](3))).toSet
    assert(norm(back) === norm(direct))
    assert(norm(back).nonEmpty)
  }

  test("SparkEntry.entry runs the pipeline and returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("single_frame and crop_video modes run end-to-end through the sink") {
    val listing = Main.fixtureListing(spark, sfDir)
    val oSingle = Files.createTempDirectory("main_sf").toString
    Main.run(listing, oSingle,
      Main.Config(mode = Main.SingleFrame, embeddingDim = 8))
    val single = TFRecords.read(spark, oSingle,
      Main.sampleSchema(Main.SingleFrame))
    // one sample per frame, all lists length 1
    assert(single.count() > 0)
    assert(single.selectExpr("max(size(timestamp_ms))", "max(size(logits))")
      .head().toSeq === Seq(1, 1))

    val oCrop = Files.createTempDirectory("main_cv").toString
    // explicit short windows: the reference-default 15000/1000 would crop
    // nothing out of the ≤3.5s synthetic fixture videos
    Main.run(listing, oCrop,
      Main.Config(mode = Main.CropVideo, embeddingDim = 8,
        sequenceLengthMs = 2000, periodMs = 500))
    val crop = TFRecords.read(spark, oCrop,
      Main.sampleSchema(Main.CropVideo))
    assert(crop.count() > 0)
    // every window respects the validity rule at read-back
    assert(crop.selectExpr(
      "count_if(NOT (window_end = 2000 OR (window_start >= 0 AND " +
        "window_end <= 1000.0 * frame_total / frame_per_sec)))")
      .head().getLong(0) === 0L)
  }

  test("single_frame over a 40-file real-media glob starts only the " +
      "write's jobs") {
    val root = Files.createTempDirectory("main_jobs")
    def jpeg(v: Float) = AviMjpegFrameDecoder.encodeJpeg(
      Array.fill(8 * 8 * 3)(v), 8, 8)
    for (i <- 0 until 40) {
      val frames = Seq(jpeg(i / 40f), jpeg(1 - i / 40f))
      val (ext, bytes) = i % 3 match {
        case 0 => ("avi", AviMjpegFrameDecoder.write(8, 8, 2, 1, frames))
        case 1 => ("mp4", Mp4FrameDecoder.write(8, 8, 2, 1, frames))
        case _ => ("mkv", MkvFrameDecoder.write(8, 8, 2, 1, frames))
      }
      val dir = Files.createDirectories(root.resolve(s"label${i % 4}/clips"))
      Files.write(dir.resolve(f"v$i%02d.$ext"), bytes)
    }
    val out = Files.createTempDirectory("main_jobs_out").toString
    val cfg = Main.Config(mode = Main.SingleFrame, embeddingDim = 8)
    val (_, counts) = Counters.during(spark)(Main.run(
      Ingest.listFilesWithContent(spark, s"$root/*/clips/*"), out, cfg,
      new AutoFrameDecoder()))
    // the listing adds none: a per-file listing job would make this 3
    assert(counts.jobs === 2)
    // two 500 ms ticks per 1 s clip, one single_frame sample each
    assert(TFRecords.read(spark, out, Main.sampleSchema(Main.SingleFrame))
      .count() === 80)
  }

  test("parseArgs covers the reference driver's local flag surface") {
    val cli = Main.parseArgs(Array(
      "--mode", "crop_video", "--batch_size", "8",
      "--frame-sample-rate", "250", "--sequence_length", "4000",
      "--period", "2000", "--num_shards", "2", "--seed", "7",
      "--output_dir", "/tmp/x", "--input-dir", "/data/videos/*"))
    assert(cli.cfg === Main.Config(mode = Main.CropVideo, sampleRateMs = 250,
      batchSize = 8, sequenceLengthMs = 4000, periodMs = 2000,
      numShards = 2, seed = 7))
    assert(cli.outDir === Some("/tmp/x"))
    assert(cli.inputDir === Some("/data/videos/*"))
  }

  test("parseArgs defaults match the reference driver's defaults") {
    val cfg = Main.parseArgs(Array.empty[String]).cfg
    // run_preprocess.py:86-109: mode single_frame, frame_sample_rate 500,
    // sequence_length 15000, period 1000
    assert(cfg.mode === Main.SingleFrame)
    assert(cfg.sampleRateMs === 500L)
    assert(cfg.sequenceLengthMs === 15000L)
    assert(cfg.periodMs === 1000L)
  }

  test("parseArgs keeps positional back-compat and rejects bad input") {
    val cli = Main.parseArgs(Array("/root/testdata/sf0.01", "/tmp/out"))
    assert(cli.sfDir === "/root/testdata/sf0.01")
    assert(cli.outDir === Some("/tmp/out"))
    intercept[IllegalArgumentException](Main.parseArgs(Array("--mode", "nope")))
    intercept[IllegalArgumentException](Main.parseArgs(Array("--bogus", "1")))
    intercept[IllegalArgumentException](Main.parseArgs(Array("--seed")))
    // Dataflow-only flags fail with a pointer, never silently ignore
    intercept[IllegalArgumentException](
      Main.parseArgs(Array("--project_id", "p")))
    // counts, rates and lengths must be positive; the error names the flag
    for (flag <- Seq("--frame_sample_rate", "--batch_size", "--num_shards",
        "--sequence_length", "--period", "--embedding_dim")) {
      assert(Main.parseArgs(Array(flag, "1")).cfg !== Main.Config())
      for (v <- Seq("0", "-1")) {
        val e = intercept[IllegalArgumentException](
          Main.parseArgs(Array(flag, v)))
        assert(e.getMessage.contains(flag), e.getMessage)
      }
    }
    // a non-numeric or overflowing value names its flag as well
    for ((flag, v) <- Seq("--num_shards" -> "4x",
        "--batch_size" -> "3000000000", "--seed" -> "x")) {
      val e = intercept[IllegalArgumentException](
        Main.parseArgs(Array(flag, v)))
      assert(e.getMessage.contains(flag), e.getMessage)
    }
  }
}
