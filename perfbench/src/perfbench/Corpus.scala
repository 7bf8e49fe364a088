package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.Main
import graft.pipeline.{AviMjpegFrameDecoder, MkvFrameDecoder, Mp4FrameDecoder}

/** One benchmark input set. Every clip is MJPEG at `fps` native frames per
  * second; the container kinds are mixed evenly.
  */
final case class Workload(name: String, mode: Main.Mode, clips: Int,
    width: Int, height: Int, minSeconds: Int, maxSeconds: Int, fps: Int,
    labels: Int, sidecars: Boolean)

object Workload {
  val all: Seq[Workload] = Seq(
    // per-file, per-task and per-record costs dominate; no assembly shuffle,
    // and the .json sidecars are listed and read but rejected by extension
    Workload("single_frame_many", Main.SingleFrame, clips = 120,
      width = 64, height = 48, minSeconds = 2, maxSeconds = 6, fps = 10,
      labels = 8, sidecars = true),
    // the same assemble/write layers with up to 15 windows per frame
    Workload("crop_video_sliding", Main.CropVideo, clips = 16, width = 160,
      height = 120, minSeconds = 20, maxSeconds = 40, fps = 10, labels = 4,
      sidecars = false))

  def named(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name; one of ${all.map(_.name).mkString(", ")}"))
}

/** One generated clip and the facts the expected output derives from. */
final case class Clip(path: Path, kind: String, label: String,
    seconds: Int, fps: Int) {
  def nativeFrames: Int = seconds * fps

  /** Frames a decoder emits at one tick per `sampleRateMs`: tick i shows
    * native frame floor(i · rate · fps / 1000), and ticks stop past the
    * last native frame.
    */
  def sampledFrames(sampleRateMs: Long): Int =
    math.ceil(nativeFrames * 1000.0 / (sampleRateMs * fps)).toInt
}

/** Seeded corpus generator over the repository's own container writers.
  * Layout `<root>/<label>/clips/<id>.<ext>`, so the pipeline takes labels
  * from the path. The same seed gives a byte-identical corpus; the seed
  * permutes durations, containers and pixels but not their totals, so
  * every seed asks for the same amount of work.
  */
object Corpus {

  /** Container kinds; `mp4frag` is fragmented mp4 with the `.mp4` name. */
  val Kinds: Seq[String] = Seq("avi", "mp4", "mp4frag", "mkv")

  private val PoolSize = 16

  def generate(root: Path, w: Workload, seed: Long): Seq[Clip] = {
    val rnd = new scala.util.Random(seed)
    val pool = Vector.fill(PoolSize)(picture(w.width, w.height, rnd))
    val seconds = rnd.shuffle((0 until w.clips).map(i =>
      w.minSeconds + (w.maxSeconds - w.minSeconds) * i /
        math.max(1, w.clips - 1)))
    val kinds = rnd.shuffle((0 until w.clips).map(i => Kinds(i % Kinds.size)))
    val labels = (0 until w.labels).map(i => f"class${rnd.nextInt(1000)}%03d_$i")
    (0 until w.clips).map { i =>
      val label = labels(rnd.nextInt(labels.size))
      val id = f"$i%05d_${rnd.nextInt(1 << 24)}%06x"
      val dir = Files.createDirectories(root.resolve(label).resolve("clips"))
      val kind = kinds(i)
      val ext = if (kind == "mp4frag") "mp4" else kind
      val offset = rnd.nextInt(PoolSize)
      val clip = Clip(dir.resolve(s"$id.$ext"), kind, label, seconds(i), w.fps)
      val frames = (0 until clip.nativeFrames).map(j =>
        pool((offset + j) % PoolSize))
      val fps = w.fps.toLong
      val bytes = kind match {
        case "avi" => AviMjpegFrameDecoder.write(w.width, w.height, fps, 1L,
          frames)
        case "mp4" => Mp4FrameDecoder.write(w.width, w.height, fps, 1L,
          frames, samplesPerChunk = w.fps)
        case "mp4frag" => Mp4FrameDecoder.writeFragmented(w.width, w.height,
          fps, 1L, frames, framesPerFragment = w.fps)
        case "mkv" => MkvFrameDecoder.write(w.width, w.height, fps, 1L,
          frames, framesPerCluster = w.fps)
      }
      Files.write(clip.path, bytes)
      if (w.sidecars) Files.write(dir.resolve(s"$id.json"),
        (s"""{"id": "$id", "label": "$label", "container": "$kind", """ +
          s""""seconds": ${clip.seconds}, "fps": ${w.fps}, """ +
          s""""width": ${w.width}, "height": ${w.height}, """ +
          s""""source": "synthetic", "seed": $seed}""" + "\n")
          .getBytes(StandardCharsets.UTF_8))
      clip
    }
  }

  /** One JPEG: a seeded colour gradient with blocks and grain, so that it
    * compresses like camera footage rather than like a flat test card.
    */
  private def picture(w: Int, h: Int, rnd: scala.util.Random): Array[Byte] = {
    val base = Array.fill(3)(rnd.nextFloat())
    val slope = Array.fill(6)(rnd.nextFloat() - 0.5f)
    val blocks = Seq.fill(6)((rnd.nextInt(w), rnd.nextInt(h),
      1 + rnd.nextInt(w / 3), 1 + rnd.nextInt(h / 3),
      Array.fill(3)(rnd.nextFloat())))
    val rgb = new Array[Float](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val inBlock = blocks.find { case (bx, by, bw, bh, _) =>
          x >= bx && x < bx + bw && y >= by && y < by + bh }
        var c = 0
        while (c < 3) {
          val v = inBlock match {
            case Some((_, _, _, _, col)) => col(c)
            case None => base(c) + slope(2 * c) * x / w +
              slope(2 * c + 1) * y / h
          }
          rgb((y * w + x) * 3 + c) = v + (rnd.nextFloat() - 0.5f) * 0.25f
          c += 1
        }
        x += 1
      }
      y += 1
    }
    AviMjpegFrameDecoder.encodeJpeg(rgb, w, h)
  }
}
