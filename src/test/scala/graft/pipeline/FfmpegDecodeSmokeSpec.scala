package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the load-if-present FFmpeg seam honest: when the JavaCV jars are
  * on the classpath (a real deployment), encode a tiny clip with
  * FFmpegFrameRecorder and assert [[FfmpegFrameDecoder]] recovers the
  * expected frame cadence from it; in the offline container (no codec
  * jars) every test here CANCELS — visibly, not silently — via `assume`.
  *
  * Everything JavaCV-facing is reflective for the same reason the decoder
  * itself is: the library must compile and test without the jars.
  */
class FfmpegDecodeSmokeSpec extends AnyFunSuite {

  private def encodeClip(path: String, w: Int, h: Int, nFrames: Int,
      fps: Double): Unit = {
    val recCls = Class.forName("org.bytedeco.javacv.FFmpegFrameRecorder")
    val convCls = Class.forName("org.bytedeco.javacv.Java2DFrameConverter")
    val frameCls = Class.forName("org.bytedeco.javacv.Frame")
    val rec = recCls
      .getConstructor(classOf[String], classOf[Int], classOf[Int])
      .newInstance(path, Integer.valueOf(w), Integer.valueOf(h))
    recCls.getMethod("setFormat", classOf[String]).invoke(rec, "mp4")
    recCls.getMethod("setFrameRate", classOf[Double])
      .invoke(rec, java.lang.Double.valueOf(fps))
    val conv = convCls.getConstructor().newInstance()
    val convert = convCls.getMethod("convert",
      classOf[java.awt.image.BufferedImage])
    val record = recCls.getMethod("record", frameCls)
    recCls.getMethod("start").invoke(rec)
    try {
      (0 until nFrames).foreach { i =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        val g = img.createGraphics()
        g.setColor(new java.awt.Color((i * 37) % 256, 64, 192))
        g.fillRect(0, 0, w, h)
        g.dispose()
        record.invoke(rec, convert.invoke(conv, img))
      }
    } finally recCls.getMethod("stop").invoke(rec)
  }

  test("decode of a freshly-encoded clip recovers the sampled cadence") {
    assume(FfmpegFrameDecoder.available,
      "JavaCV not on classpath — offline container, smoke skipped")
    val f = java.io.File.createTempFile("graft-ffmpeg-smoke", ".mp4")
    try {
      // 2 seconds of 4 fps video; sampling every 500 ms must yield ~4-5
      // frames at timestamps 0, 500, 1000, ...
      encodeClip(f.getAbsolutePath, w = 32, h = 32, nFrames = 8, fps = 4.0)
      val sampleRateMs = 500L
      val frames = new FfmpegFrameDecoder()
        .decode(f.getAbsolutePath, null, sampleRateMs).toList
      assert(frames.nonEmpty, "real decoder produced no frames")
      assert(frames.size >= 3 && frames.size <= 6,
        s"2s clip sampled at 500ms should give 4±1 frames, got ${frames.size}")
      frames.zipWithIndex.foreach { case (fr, i) =>
        assert(fr.timestampMs == i * sampleRateMs,
          s"frame $i at ${fr.timestampMs}ms, expected ${i * sampleRateMs}ms")
        assert(fr.height == 32 && fr.width == 32)
        assert(fr.framePerSec == FrameDecoder.effectiveFps(sampleRateMs))
        assert(fr.image.length == 32 * 32 * 3)
        assert(fr.image.forall(p => p >= 0.0f && p <= 1.0f),
          "pixels must be normalized to [0,1]")
      }
    } finally f.delete()
  }

  test("decode from in-memory bytes matches decode from a path") {
    assume(FfmpegFrameDecoder.available,
      "JavaCV not on classpath — offline container, smoke skipped")
    val f = java.io.File.createTempFile("graft-ffmpeg-smoke2", ".mp4")
    try {
      encodeClip(f.getAbsolutePath, w = 16, h = 16, nFrames = 6, fps = 4.0)
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val dec = new FfmpegFrameDecoder()
      val fromPath = dec.decode(f.getAbsolutePath, null, 500L)
        .map(fr => (fr.timestampMs, fr.height, fr.width)).toList
      val fromBytes = dec.decode(f.getName, bytes, 500L)
        .map(fr => (fr.timestampMs, fr.height, fr.width)).toList
      assert(fromBytes == fromPath,
        "byte-stream decode (the Spark content-column path) must match " +
          "the path decode")
    } finally f.delete()
  }

  test("the default fallback decodes with JavaCV, refuses without") {
    val auto = new AutoFrameDecoder()
    if (FfmpegFrameDecoder.available) {
      val f = java.io.File.createTempFile("graft-ffmpeg-smoke3", ".mp4")
      try {
        // an H.264 mp4: the mp4 router hands its pixels to the fallback
        encodeClip(f.getAbsolutePath, w = 16, h = 16, nFrames = 6, fps = 4.0)
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        def shape(d: FrameDecoder) = d.decode(f.getName, bytes, 500L)
          .map(fr => (fr.timestampMs, fr.height, fr.width)).toList
        assert(shape(auto) == shape(new FfmpegFrameDecoder()))
      } finally f.delete()
    } else {
      val e = intercept[IllegalArgumentException](
        auto.decode("v/l/s/clip.avi", "not a video".getBytes, 500L).toList)
      assert(e.getMessage.contains("v/l/s/clip.avi"), e.getMessage)
    }
  }
}
