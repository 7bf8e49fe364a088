package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** The production decoder/embedder bind their native runtimes (JavaCV,
  * ONNX Runtime) reflectively. This offline container has neither: the
  * routers' default fallback must then refuse a file it cannot decode
  * with an actionable message naming that file, and the embedder must
  * refuse at setup — never substitute frames or logits, and never an
  * opaque ClassNotFoundException from deep inside a Spark task.
  */
class LoadIfPresentSpec extends AnyFunSuite {

  test("without JavaCV the default fallback refuses, naming the file") {
    assert(!FfmpegFrameDecoder.available)
    val e = intercept[IllegalArgumentException](
      new FfmpegFrameDecoder().decode("x.mp4", null, 500).toList)
    assert(e.getMessage.contains("x.mp4") && e.getMessage.contains("JavaCV"))
    // the routers hand what no pure-JVM decoder reads to that decoder:
    // unrecognized bytes, and real-codec mp4/mkv pixels
    val payload = Seq(Array[Byte](0, 0, 0, 1))
    val avcMp4 = Mp4FrameDecoder.write(4, 4, 2, 1, payload,
      sampleEntry = "avc1")
    val avcMkv = MkvFrameDecoder.write(4, 4, 2, 1, payload,
      codecId = "V_MPEG4/ISO/AVC")
    Seq(new AutoFrameDecoder() -> avcMp4, new AutoFrameDecoder() -> avcMkv,
      new AutoFrameDecoder() -> "not a video".getBytes,
      new Mp4FrameDecoder() -> avcMp4, new MkvFrameDecoder() -> avcMkv)
      .foreach { case (d, bytes) =>
        val refused = intercept[IllegalArgumentException](
          d.decode("v/l/s/clip.avi", bytes, 500).toList)
        assert(refused.getMessage.contains("v/l/s/clip.avi") &&
          refused.getMessage.contains("JavaCV"),
          s"${d.getClass.getSimpleName}: ${refused.getMessage}")
      }
  }

  test("without ONNX Runtime the embedder refuses at setup") {
    assert(!OnnxEmbedder.available)
    val e = intercept[IllegalArgumentException](
      new OnnxEmbedder("/models/m.onnx", Seq(299, 299, 3)).setup())
    assert(e.getMessage.contains("/models/m.onnx") &&
      e.getMessage.contains("onnxruntime"))
  }

  test("uninitialized OnnxEmbedder refuses to embed outside Embed.run") {
    val e = intercept[IllegalArgumentException](
      new OnnxEmbedder("/m.onnx", Seq(2)).embed(Seq(Array(1f, 2f))))
    assert(e.getMessage.contains("Embed.run"))
  }
}
