package graft.pipeline

import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite

/** [[FrameSampler]] is the one sampling rule behind every pure-JVM
  * container: the same JPEG frames written as AVI, mp4, fragmented mp4
  * and mkv must decode to the same [[DecodedFrame]] sequence, and that
  * sequence must be the reference's rule — tick `i` at `i · rate` ms
  * shows native frame `floor(i · rate · fps / 1000)`, ticks stop past the
  * last frame — checked against ImageIO on the raw JPEGs.
  */
class FrameSamplerSpec extends AnyFunSuite {

  private val (w, h) = (8, 6)

  // seven frames, each a distinct gradient, so a wrong frame choice shows
  private val jpegs: Seq[Array[Byte]] = (0 until 7).map { k =>
    AviMjpegFrameDecoder.encodeJpeg(
      Array.tabulate(w * h * 3)(i => ((i * 7 + k * 37) % 256) / 255f), w, h)
  }

  private def imageIoRgb(jpeg: Array[Byte]): Seq[Float] = {
    val img = ImageIO.read(new ByteArrayInputStream(jpeg))
    for {
      y <- 0 until h; x <- 0 until w; shift <- Seq(16, 8, 0)
    } yield ((img.getRGB(x, y) >> shift) & 0xff) / 255f
  }

  private def frames(dec: FrameDecoder, name: String, bytes: Array[Byte],
      rateMs: Long, meta: Boolean = false)
      : Seq[(Long, Double, Double, Int, Int, Seq[Float])] =
    (if (meta) dec.decodeMeta(name, bytes, rateMs)
     else dec.decode(name, bytes, rateMs)).map(f =>
      (f.timestampMs, f.framePerSec, f.frameTotal, f.height, f.width,
        f.image.toSeq)).toSeq

  test("AVI, mp4, fragmented mp4 and mkv decode the same frames to the " +
      "same sequence, which is the reference's tick rule") {
    val dec = new AutoFrameDecoder(new SyntheticFrameDecoder())
    val want = jpegs.map(imageIoRgb)
    // whole-ms frame durations (500, 200, 100 ms), so every container's
    // clock represents the frame starts exactly
    for (fps <- Seq(2L, 5L, 10L); rate <- Seq(250L, 500L, 1000L)) {
      val files = Seq(
        "avi" -> AviMjpegFrameDecoder.write(w, h, fps, 1L, jpegs),
        "mp4" -> Mp4FrameDecoder.write(w, h, fps, 1L, jpegs),
        "mp4frag" -> Mp4FrameDecoder.writeFragmented(w, h, fps, 1L, jpegs),
        "mkv" -> MkvFrameDecoder.write(w, h, fps, 1L, jpegs))
      val n = math.ceil(jpegs.length * 1000.0 / (rate * fps)).toInt
      val expected = (0 until n).map { i =>
        val ts = i * rate
        (ts, 1000.0 / rate, n.toDouble, h, w, want((ts * fps / 1000).toInt))
      }
      for ((kind, bytes) <- files) {
        assert(frames(dec, s"t.$kind", bytes, rate) === expected,
          s"$kind at $fps fps, $rate ms")
        assert(frames(dec, s"t.$kind", bytes, rate, meta = true) ===
          expected.map(_.copy(_6 = Seq.empty[Float])),
          s"$kind meta at $fps fps, $rate ms")
      }
    }
  }

  test("y4m ticks follow the same rule, and a clock near the Long range " +
      "samples exactly like its reduced rate") {
    val frame = Array.tabulate[Byte](2 * 2 + 2)(i => (40 * i).toByte)
    val plain = Y4MFrameDecoder.write(2, 2, 10, 1, "420mpeg2",
      Seq.fill(7)(frame))
    // 1e17/1e16 = 10 fps: rate · timescale overflows a Long from the
    // first non-zero tick on
    val huge = Y4MFrameDecoder.write(2, 2, 100000000000000000L,
      10000000000000000L, "420mpeg2", Seq.fill(7)(frame))
    val dec = new Y4MFrameDecoder()
    for (rate <- Seq(50L, 250L, 500L)) {
      val got = frames(dec, "p.y4m", plain, rate)
      assert(got.map(_._1) ===
        (0L until math.ceil(700.0 / rate).toLong).map(_ * rate))
      assert(frames(dec, "h.y4m", huge, rate) === got)
    }
  }

  test("tick count is bounded at MaxTicks: one more tick fails typed") {
    // 1 fps, 1 ms ticks: n frames give 1000 · n ticks
    val frame = Array.fill[Byte](6)(16)
    val dec = new Y4MFrameDecoder()
    val n = (FrameSampler.MaxTicks / 1000).toInt
    val atBound = Y4MFrameDecoder.write(2, 2, 1, 1, "420mpeg2",
      Seq.fill(n)(frame))
    assert(dec.decodeMeta("b.y4m", atBound, 1).size === FrameSampler.MaxTicks)
    val past = Y4MFrameDecoder.write(2, 2, 1000, 1001, "420mpeg2",
      Seq.fill(n)(frame))
    val e = intercept[IllegalArgumentException](
      dec.decodeMeta("p.y4m", past, 1))
    assert(e.getMessage.contains("tick bound"))
  }

  test("FFmpeg's µs duration follows the same tick rule and bound") {
    // the JavaCV loop counts ticks over Timeline(1e6 units/s, duration µs)
    def ticks(durationUs: Long) = FrameSampler.tickCount("f.webm",
      Timeline(1000000L, Array.emptyLongArray, durationUs), 500L)
    assert(ticks(2000000L) === 4) // exact multiple: ticks 0..1500 ms
    assert(ticks(2200000L) === 5)
    assert(ticks(1L) === 1) // no reported duration: the tick at 0 ms
    val e = intercept[IllegalArgumentException](ticks(Long.MaxValue))
    assert(e.getMessage.contains("tick bound"))
  }
}
