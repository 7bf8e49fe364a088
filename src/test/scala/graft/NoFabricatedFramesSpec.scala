package graft

import java.nio.file.{Files, Path}

import graft.pipeline._
import graft.tfrecord.TFRecords

/** No frame is made up for real input: the `--input_dir` path
  * (`Main.main`'s listing and router, driven here through `Main.run`)
  * either real-decodes a file or fails the job with an
  * `IllegalArgumentException` naming it. Without JavaCV, that holds for
  * every file no pure-JVM decoder reads: bytes with no known magic, and
  * mp4/mkv whose codec is not MJPEG.
  */
class NoFabricatedFramesSpec extends SparkSpec {

  private val cfg = Main.Config(mode = Main.SingleFrame, embeddingDim = 8)

  /** A one-file corpus `<root>/cat/clips/<name>`; returns the file. */
  private def corpusOf(name: String, bytes: Array[Byte]): Path = {
    val clips = Files.createDirectories(
      Files.createTempDirectory("nofab").resolve("cat/clips"))
    Files.write(clips.resolve(name), bytes)
  }

  private def runOver(file: Path): String = {
    val out = Files.createTempDirectory("nofab_out").toString
    Main.run(Ingest.listFilesWithContent(spark, s"${file.getParent}/*"),
      out, cfg, new AutoFrameDecoder())
    out
  }

  private val jpeg = AviMjpegFrameDecoder.encodeJpeg(
    Array.fill(8 * 8 * 3)(0.5f), 8, 8)

  test("a real MJPEG AVI alone writes one sample per sampled frame") {
    // 2 frames at 2 fps: a 1 s clip, ticks at 0 and 500 ms
    val good = corpusOf("good.avi",
      AviMjpegFrameDecoder.write(8, 8, 2, 1, Seq(jpeg, jpeg)))
    val out = runOver(good)
    val rows = TFRecords.read(spark, out, Main.sampleSchema(Main.SingleFrame))
      .selectExpr("filename", "timestamp_ms").collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getString(0).endsWith(good.toString)))
    assert(rows.map(_.getSeq[Long](1)).toSet === Set(Seq(0L), Seq(500L)))
  }

  test("a file no pure-JVM decoder reads fails the job, naming the file") {
    assume(!FfmpegFrameDecoder.available, "JavaCV decodes these files")
    val bad = Seq(
      corpusOf("text.avi", "not a video, just text".getBytes),
      corpusOf("h264.mp4", Mp4FrameDecoder.write(8, 8, 2, 1,
        Seq(Array[Byte](0, 0, 0, 1)), sampleEntry = "avc1")),
      corpusOf("h264.mkv", MkvFrameDecoder.write(8, 8, 2, 1,
        Seq(Array[Byte](0, 0, 0, 1)), codecId = "V_MPEG4/ISO/AVC")))
    bad.foreach { file =>
      val e = rootCause(intercept[Exception](runOver(file)))
      assert(e.isInstanceOf[IllegalArgumentException], s"$file: $e")
      assert(e.getMessage.contains(file.toString), e.getMessage)
    }
  }
}
