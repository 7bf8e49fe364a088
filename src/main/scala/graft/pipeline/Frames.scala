package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}

/** O7 — the frame-extraction UDTF (reference: preprocess.py:156-189).
  *
  * The decode itself sits behind [[FrameDecoder]]. Real files route by
  * content magic through [[AutoFrameDecoder]] to the pure-JVM decoders;
  * whatever none of them reads goes to [[FfmpegFrameDecoder]], which
  * decodes through JavaCV when its jars are on the classpath and
  * otherwise fails the file with a typed error. [[SyntheticFrameDecoder]]
  * serves only listings with no bytes behind them (the fixture listing).
  * The flatMap is the Spark-native shape of a 1→N generator: no shuffle,
  * decode parallelism = input file partitioning.
  */
trait FrameDecoder extends Serializable {

  /** Decode one file's bytes, emitting a frame every `sampleRateMs`
    * milliseconds of video time (reference default 500 ms,
    * run_preprocess.py:88-91). `content` may be null for metadata-only
    * decoders (synthetic).
    */
  def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame]

  /** Metadata-only decode: same frames, `image` empty, pixel work
    * skipped — a real decoder reads container headers only (timestamps,
    * fps and frame totals for codecs it cannot decode to pixels). Default
    * falls back to the full decode. The pipeline itself calls only
    * [[decode]]; the callers of this are the pipeline benchmark's `parse`
    * layer and the decoder specs.
    */
  def decodeMeta(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] =
    decode(filename, content, sampleRateMs)
}

object FrameDecoder {

  /** Effective fps of the emitted frame stream: one frame per
    * `sampleRateMs` of video time. EXACT division, no rounding — the
    * downstream window-validity rule divides by this
    * (`video_length = 1000 * frame_total / frame_per_sec`,
    * preprocess.py:293), so round(1000/2500)=0 would make every window
    * length infinite and round(1000/667)=1 would misstate the video
    * length by 33%. One definition shared by every decoder.
    */
  def effectiveFps(sampleRateMs: Long): Double = {
    require(sampleRateMs > 0, s"frame sample rate must be positive ms," +
      s" got $sampleRateMs")
    1000.0 / sampleRateMs
  }
}

/** Deterministic fake decoder: frame count, fps, and pixels derive from a
  * hash of the filename, so every run (and every engine re-running a lost
  * partition) produces identical frames. Pixels are normalized [0,1] floats
  * like the reference's (preprocess.py:178-180).
  */
final class SyntheticFrameDecoder(height: Int = 8, width: Int = 8,
    maxFrames: Int = 7) extends FrameDecoder {

  override def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] = {
    val h0 = filename.hashCode
    val nFrames = 1 + java.lang.Math.floorMod(h0, maxFrames)
    val fps = FrameDecoder.effectiveFps(sampleRateMs)
    Iterator.tabulate(nFrames) { i =>
      val image = new Array[Float](height * width * 3)
      var x = h0 * 31 + i
      var p = 0
      while (p < image.length) {
        // xorshift — cheap deterministic pseudo-pixels in [0,1)
        x ^= x << 13; x ^= x >>> 17; x ^= x << 5
        image(p) = ((x >>> 8) & 0xffff) / 65536.0f
        p += 1
      }
      DecodedFrame(i * sampleRateMs, fps, nFrames.toDouble, height, width,
        image)
    }
  }

  override def decodeMeta(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] = {
    val h0 = filename.hashCode
    val nFrames = 1 + java.lang.Math.floorMod(h0, maxFrames)
    val fps = FrameDecoder.effectiveFps(sampleRateMs)
    Iterator.tabulate(nFrames)(i => DecodedFrame(i * sampleRateMs, fps,
      nFrames.toDouble, height, width, Array.emptyFloatArray))
  }
}

/** Production video decoder over JavaCV's FFmpegFrameGrabber, bound
  * reflectively so the library compiles and runs without the (absent
  * offline) codec jars. It is the routers' default fallback: without
  * JavaCV on the executor classpath, a file no pure-JVM decoder reads
  * fails with an `IllegalArgumentException` naming it, never with
  * substitute frames.
  *
  * Mirrors the reference's decode loop (preprocess.py:156-189): open the
  * container, seek to each sampleRateMs-spaced timestamp, grab one image
  * frame, normalize pixels to [0,1] floats.
  */
final class FfmpegFrameDecoder extends FrameDecoder {
  override def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] = {
    require(FfmpegFrameDecoder.available,
      s"cannot decode $filename: no pure-JVM decoder reads its container " +
        "or codec, and FFmpeg decode needs org.bytedeco.javacv, which is " +
        "not on the classpath — add the JavaCV jars")
    FfmpegFrameDecoder.grabFrames(filename, content, sampleRateMs)
  }
}

object FfmpegFrameDecoder {

  /** True iff the JavaCV FFmpeg binding is loadable in this JVM. */
  lazy val available: Boolean =
    try {
      Class.forName("org.bytedeco.javacv.FFmpegFrameGrabber"); true
    } catch { case _: ClassNotFoundException | _: LinkageError => false }

  /** Reflective decode loop; only reachable when [[available]]. The
    * ticks are [[FrameSampler]]'s rule and bound over FFmpeg's duration in
    * µs; a file that reports no duration gets the one tick at 0 ms. Frames
    * are grabbed one at a time as the iterator is drained, and the grabber
    * stops when the iterator runs out, when a grab fails, or when the
    * Spark task ends.
    */
  private[pipeline] def grabFrames(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] = {
    val grabberCls = Class.forName("org.bytedeco.javacv.FFmpegFrameGrabber")
    val frameCls = Class.forName("org.bytedeco.javacv.Frame")
    val convCls = Class.forName("org.bytedeco.javacv.Java2DFrameConverter")
    val grabber =
      if (content != null)
        grabberCls.getConstructor(classOf[java.io.InputStream])
          .newInstance(new java.io.ByteArrayInputStream(content))
      else grabberCls.getConstructor(classOf[String]).newInstance(filename)
    val start = grabberCls.getMethod("start")
    val stop = grabberCls.getMethod("stop")
    val setTs = grabberCls.getMethod("setTimestamp", classOf[Long])
    val grabImage = grabberCls.getMethod("grabImage")
    val lengthInTime = grabberCls.getMethod("getLengthInTime")
    val converter = convCls.getConstructor().newInstance()
    val convert = convCls.getMethod("convert", frameCls)
    start.invoke(grabber)
    var open = true
    def close(): Unit = if (open) { open = false; stop.invoke(grabber) }
    def guarded[A](step: => A): A =
      try step catch { case e: Throwable => close(); throw e }
    guarded {
      val durationUs = lengthInTime.invoke(grabber).asInstanceOf[Long]
      val n = FrameSampler.tickCount(filename,
        Timeline(1000000L, Array.emptyLongArray, math.max(durationUs, 1L)),
        sampleRateMs)
      val fps = FrameDecoder.effectiveFps(sampleRateMs)
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => close()))
      val frames = Iterator.range(0, n).flatMap { i =>
        val tsMs = i * sampleRateMs
        setTs.invoke(grabber, java.lang.Long.valueOf(tsMs * 1000L))
        Option(grabImage.invoke(grabber)).map { frame =>
          val img = convert.invoke(converter, frame)
            .asInstanceOf[java.awt.image.BufferedImage]
          DecodedFrame(tsMs, fps, n.toDouble, img.getHeight, img.getWidth,
            FrameSampler.imageToRgb(img))
        }
      }
      new Iterator[DecodedFrame] {
        def hasNext: Boolean = open && guarded(frames.hasNext || {
          close(); false
        })
        def next(): DecodedFrame = guarded(frames.next())
      }
    }
  }
}

object Frames {

  /** Expand each file row into frame rows. Input needs columns
    * (filename, label, dataset[, content]); output is the fixed
    * [[FrameRow]] schema. Decode state is per-task; no shuffle introduced.
    */
  def extract(files: DataFrame, decoder: FrameDecoder,
      sampleRateMs: Long): Dataset[FrameRow] = {
    val spark = files.sparkSession
    import spark.implicits._
    val hasContent = files.columns.contains("content")
    val cols = Seq("filename", "label", "dataset") ++
      (if (hasContent) Seq("content") else Nil)
    files.selectExpr(cols: _*).flatMap { row =>
      val content =
        if (hasContent) row.getAs[Array[Byte]]("content") else null
      decoder.decode(row.getString(0), content, sampleRateMs).map { f =>
        FrameRow(row.getString(0), row.getString(1), row.getString(2),
          f.timestampMs, f.framePerSec, f.frameTotal, f.height, f.width,
          f.image)
      }
    }
  }
}
