package graft.pipeline

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

/** One parsed container's frame clock: frame `i` starts at `starts(i)`
  * (non-decreasing), the media ends at `durationUnits`, and `timescale`
  * units make one second.
  */
private[pipeline] final case class Timeline(timescale: Long,
    starts: Array[Long], durationUnits: Long)

private[pipeline] object Timeline {

  /** Constant-rate clock (AVI, y4m): `timescale = fpsNum`, frame `i` at
    * `i · fpsDen`. The header's rate is file content, so a frame length
    * that overflows the clock fails typed.
    */
  def uniform(filename: String, frames: Int, fpsNum: Long,
      fpsDen: Long): Timeline = {
    require(fpsDen <= Long.MaxValue / math.max(frames, 1),
      s"$filename: $frames frames of $fpsDen/$fpsNum s overflow the clock")
    Timeline(fpsNum, Array.tabulate(frames)(_ * fpsDen), frames * fpsDen)
  }
}

/** The frame-sampling rule of the reference's decode loop
  * (preprocess.py:156-189), written once for every pure-JVM container:
  * emit one frame every `sampleRateMs` of video time, showing the native
  * frame whose interval covers that tick, as RGB floats in [0,1]. A
  * container supplies its parse as a [[Timeline]] plus a "pixels of frame
  * i" function; ticks, frame choice, the frame cache, the duration bound
  * and the [[DecodedFrame]]s are built here.
  */
private[pipeline] object FrameSampler {

  /** Most ticks one file may emit: 10M ticks at the default 500 ms is
    * ~58 days of video, far past any real clip. A mutated header can
    * claim years per frame; the bound turns that into a typed failure
    * before any per-tick work.
    */
  val MaxTicks: Long = 10000000L

  /** The file's bytes: `content` when the caller read them, else the
    * file at `filename` (a `file:` URI or a local path).
    */
  def bytes(filename: String, content: Array[Byte]): Array[Byte] =
    if (content != null) content
    else java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      filename.stripPrefix("file:")))

  /** Tick `i` is at `i · sampleRateMs` ms, i.e. at
    * `floor(i · sampleRateMs · timescale / 1000)` units, and is emitted
    * while that is below `durationUnits`. `frame_total` is the number of
    * ticks; `pixels(i)` runs once per distinct frame, and never when
    * `withPixels` is false (the `image` of every frame is then empty).
    */
  def sample(filename: String, timeline: Timeline, height: Int, width: Int,
      sampleRateMs: Long, withPixels: Boolean)(
      pixels: Int => Array[Float]): Iterator[DecodedFrame] = {
    val fps = FrameDecoder.effectiveFps(sampleRateMs)
    val n = tickCount(filename, timeline, sampleRateMs)
    // adjacent ticks often land on the same native frame (sampleRateMs
    // below the frame interval): decode each frame once, reuse the floats
    var cachedIdx = -1
    var cached: Array[Float] = null
    Iterator.range(0, n).map { i =>
      val tsMs = i * sampleRateMs
      val image =
        if (!withPixels) Array.emptyFloatArray
        else {
          val idx = frameAt(timeline.starts,
            unitsAt(tsMs, timeline.timescale))
          if (idx != cachedIdx) {
            cached = pixels(idx)
            cachedIdx = idx
          }
          cached
        }
      DecodedFrame(tsMs, fps, n.toDouble, height, width, image)
    }
  }

  /** Ticks emitted: `floor(i·r·s/1000) < d` ⇔ `i < ceil(1000·d / (r·s))`,
    * computed exactly in BigInt because every factor is file content.
    * Inside the bound every tick's timestamp fits a Long.
    */
  private[pipeline] def tickCount(filename: String, t: Timeline,
      sampleRateMs: Long): Int = {
    val step = BigInt(sampleRateMs) * t.timescale
    val n = (BigInt(1000) * math.max(t.durationUnits, 0L) + step - 1) / step
    require(n <= MaxTicks && (n - 1) * sampleRateMs <= Long.MaxValue,
      s"$filename: absurd duration ${t.durationUnits} units at timescale " +
        s"${t.timescale}: $n ticks of $sampleRateMs ms, past the " +
        s"$MaxTicks-tick bound")
    n.toInt
  }

  /** `floor(tsMs · timescale / 1000)`; the product may overflow a Long
    * for a huge timescale even when the result fits.
    */
  private def unitsAt(tsMs: Long, timescale: Long): Long = {
    val product = tsMs * timescale
    if (Math.multiplyHigh(tsMs, timescale) == 0 && product >= 0)
      product / 1000L
    else (BigInt(tsMs) * timescale / 1000).toLong
  }

  /** Index of the last frame starting at or before `t`. */
  private def frameAt(starts: Array[Long], t: Long): Int = {
    var lo = 0
    var hi = starts.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (starts(mid) <= t) lo = mid else hi = mid - 1
    }
    lo
  }

  /** One JPEG at `[off, off + len)` of `b` → RGB floats via the JRE's own
    * ImageIO reader. Offsets and sizes come from `container`'s tables,
    * i.e. from the file, so they are bounds-checked (in subtraction form:
    * a near-Long.Max offset would overflow `off + len` negative), and a
    * decoded size that differs from the header fails loudly rather than
    * emitting misshapen tensors.
    */
  def jpegToRgb(filename: String, container: String, b: Array[Byte],
      off: Long, len: Int, w: Int, h: Int): Array[Float] = {
    require(off >= 0 && len >= 0 && off <= b.length - len,
      s"$filename: $container frame [$off, +$len) overruns the " +
        s"${b.length}-byte file")
    val o = off.toInt
    require(len >= 2 && (b(o) & 0xff) == 0xff && (b(o + 1) & 0xff) == 0xd8,
      s"$filename: $container frame at byte $off is not a JPEG")
    val img = ImageIO.read(new ByteArrayInputStream(b, o, len))
    require(img != null,
      s"$filename: ImageIO failed to decode the JPEG at byte $off")
    require(img.getWidth == w && img.getHeight == h,
      s"$filename: frame is ${img.getWidth}x${img.getHeight} but the " +
        s"$container header says ${w}x$h")
    imageToRgb(img)
  }

  /** A decoded image → interleaved RGB floats in [0,1]. */
  def imageToRgb(img: BufferedImage): Array[Float] = {
    val (w, h) = (img.getWidth, img.getHeight)
    argbToRgb(img.getRGB(0, 0, w, h, null, 0, w))
  }

  /** Packed `0xAARRGGBB` pixels → interleaved RGB floats in [0,1]; alpha
    * is dropped. `c / 255.0f` equals `(c / 255.0).toFloat` for every byte
    * value, so this matches a double-precision normalization bit for bit.
    */
  def argbToRgb(argb: Array[Int]): Array[Float] = {
    val px = new Array[Float](argb.length * 3)
    var i = 0
    while (i < argb.length) {
      val v = argb(i)
      px(3 * i) = ((v >> 16) & 0xff) / 255.0f
      px(3 * i + 1) = ((v >> 8) & 0xff) / 255.0f
      px(3 * i + 2) = (v & 0xff) / 255.0f
      i += 1
    }
    px
  }
}
