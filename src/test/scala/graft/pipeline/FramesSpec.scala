package graft.pipeline

import graft.SparkSpec

/** Records the content-byte lengths a probe decoder observes (JVM-static so
  * executor-side task copies report into the same queue under local mode).
  */
object ContentProbeSink {
  val lengths = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
}

class ContentProbe extends FrameDecoder {
  override def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] = {
    ContentProbeSink.lengths.add(if (content == null) -1 else content.length)
    Iterator.empty
  }
}

class FramesSpec extends SparkSpec {
  import spark.implicits._

  test("O7 synthetic decode is deterministic across calls") {
    val d = new SyntheticFrameDecoder(height = 4, width = 4, maxFrames = 5)
    val a = d.decode("v/l/s/x.mp4", null, 500).toSeq
    val b = d.decode("v/l/s/x.mp4", null, 500).toSeq
    assert(a.size === b.size)
    a.zip(b).foreach { case (fa, fb) =>
      assert(fa.timestampMs === fb.timestampMs)
      assert(fa.image.sameElements(fb.image))
    }
  }

  test("O7 frame cadence: timestamps step by sampleRateMs, fps derived") {
    val d = new SyntheticFrameDecoder(maxFrames = 7)
    val frames = d.decode("v/l/s/y.mkv", null, 250).toSeq
    assert(frames.map(_.timestampMs) === frames.indices.map(_ * 250L))
    assert(frames.forall(_.framePerSec === 4.0)) // 1000/250
    assert(frames.forall(_.frameTotal === frames.size.toDouble))
  }

  test("O7 Frames.extract expands files 1→N with context carried through") {
    val files = Seq(
      ("v/en/s/a.mp4", "en", "train"),
      ("v/fr/s/b.mp4", "fr", "test")).toDF("filename", "label", "dataset")
    val frames = Frames.extract(files,
      new SyntheticFrameDecoder(height = 2, width = 2), 500)
    val rows = frames.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.image.length === 2 * 2 * 3))
    assert(rows.forall(r => r.image.forall(p => p >= 0f && p < 1f)))
    val byFile = rows.groupBy(_.filename)
    assert(byFile.keySet === Set("v/en/s/a.mp4", "v/fr/s/b.mp4"))
    byFile.foreach { case (_, fs) =>
      assert(fs.map(_.timestamp_ms).sorted.toSeq ===
        fs.indices.map(_ * 500L))
      assert(fs.forall(_.frame_total == fs.length.toDouble))
    }
    assert(rows.filter(_.filename.contains("a.mp4")).forall(_.label == "en"))
  }

  test("O7 binary content reaches the decoder when present") {
    ContentProbeSink.lengths.clear()
    val files = Seq(("v/l/s/a.mp4", "l", "train", Array[Byte](1, 2, 3, 4)))
      .toDF("filename", "label", "dataset", "content")
    Frames.extract(files, new ContentProbe, 500).collect()
    import scala.jdk.CollectionConverters._
    assert(ContentProbeSink.lengths.asScala.toSeq === Seq(4))
    // and without a content column the decoder receives null
    ContentProbeSink.lengths.clear()
    Frames.extract(files.drop("content"), new ContentProbe, 500).collect()
    assert(ContentProbeSink.lengths.asScala.toSeq === Seq(-1))
  }

  test("O7 production decoder without its runtime fails loudly") {
    // the routers' default fallback: it must fail with an actionable
    // message rather than decode nothing
    val e = intercept[IllegalArgumentException] {
      new FfmpegFrameDecoder().decode("x.mp4", null, 500)
    }
    assert(e.getMessage.contains("JavaCV"))
  }

  // ---- the kept frame path end to end: Ingest.listFilesWithContent →
  // Main.run's filter/label/split → Frames.extract through the
  // content-magic router, bytes read through Hadoop ----------------------

  private def framesOf(dir: String): Map[String, Seq[FrameRow]] = {
    val files = Ingest.splitByHash(Ingest.withLabel(Ingest.filterVideos(
      Ingest.listFilesWithContent(spark, dir))), 0.70, 0.15, 0.15)
    Frames.extract(files, new AutoFrameDecoder(), 500L).collect().toSeq
      .groupBy(_.filename.split('/').last)
  }

  private def put(dir: String, name: String, bytes: Array[Byte]): Unit =
    java.nio.file.Files.write(java.nio.file.Path.of(dir, name), bytes)

  test("undecodable listed files fail, naming the file; non-videos " +
      "filtered") {
    val dir = java.nio.file.Files.createTempDirectory("frames_fake").toString
    Seq("notes.txt", "d.webm").foreach(n => put(dir, n, s"fake-$n".getBytes))
    // nothing listed survives the extension filter: no rows, no failure
    assert(framesOf(dir).isEmpty)
    // each fake-content video name, alone, fails with a typed error
    Seq("a.mp4", "b.mkv", "c.avi").foreach { n =>
      val one = java.nio.file.Files.createTempDirectory("frames_bad")
      java.nio.file.Files.writeString(one.resolve(n), s"fake-$n")
      val e = rootCause(intercept[Exception](framesOf(one.toString)))
      assert(e.isInstanceOf[IllegalArgumentException], e.toString)
      assert(e.getMessage.contains(s"$one/$n"), e.getMessage)
    }
  }

  test("listed real y4m and MJPEG-AVI files REAL-decode through Frames.extract") {
    val dir = java.nio.file.Files.createTempDirectory("frames_real").toString
    // a real y4m (75%-red constant frame) under a LYING .mp4 extension
    // and a real MJPEG-AVI (solid mid-gray)
    val redFrame = {
      val f = new Array[Byte](2 * 2 + 2 * 1)
      java.util.Arrays.fill(f, 0, 4, 82.toByte)
      f(4) = 90.toByte; f(5) = 240.toByte
      f
    }
    put(dir, "red.mp4",
      Y4MFrameDecoder.write(2, 2, 2, 1, "420mpeg2", Seq(redFrame)))
    val gray = Array.fill(4 * 4 * 3)(0.5f)
    put(dir, "gray.avi", AviMjpegFrameDecoder.write(4, 4, 2, 1,
      Seq(AviMjpegFrameDecoder.encodeJpeg(gray, 4, 4))))
    val byFile = framesOf(dir)
    assert(byFile.keySet === Set("gray.avi", "red.mp4"))
    // the real containers carry their REAL dimensions and pixels
    val gray0 = byFile("gray.avi").head
    assert(gray0.height === 4 && gray0.width === 4)
    assert(math.abs(gray0.image(0) - 0.5f) < 3f / 255f) // JPEG round-trip
    val red0 = byFile("red.mp4").head
    assert(red0.height === 2 && red0.width === 2)
    assert(red0.image(0) === 1.0f) // BT.601 75%-red clamps R to 1 (the golden)
  }

  test("a listed real ISO-BMFF mp4 under a lying .mkv name REAL-decodes") {
    val dir = java.nio.file.Files.createTempDirectory("frames_mp4").toString
    // a genuine MJPEG-in-mp4 (solid blue): routing is by ftyp magic
    val blue = Array.tabulate(4 * 4 * 3)(i =>
      if (i % 3 == 2) 0.9f else 0.05f)
    put(dir, "blue.mkv", Mp4FrameDecoder.write(4, 4, 2, 1,
      Seq(AviMjpegFrameDecoder.encodeJpeg(blue, 4, 4))))
    val rows = framesOf(dir)("blue.mkv")
    assert(rows.length === 1)
    assert(rows.head.height === 4 && rows.head.width === 4)
    assert(rows.head.image(0) < 0.15f) // dark red channel
    assert(rows.head.image(2) > 0.8f) // bright blue channel — real pixels
  }
}
