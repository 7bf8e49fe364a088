package graft.pipeline

import graft.SparkSpec
import graft.pipeline.Samples.WindowSlice
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, timestamp_millis}
import scala.util.Random

/** crop_video has two implementations: `Samples.cropVideo` (one group per
  * video, then slicing) and the window()-based `Samples.cropAssemble` that
  * the streaming path runs. They must emit the same samples row for row,
  * list payloads included; so must the pure slicer and a brute-force window
  * enumeration.
  */
class SamplesEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val listCols = Seq("timestamp_ms", "score", "logits")

  /** Every window start `k·period` that holds at least one frame, found by
    * walking all periods from before the first frame to the last one.
    */
  private def bruteForce(ts: Array[Long], len: Long,
      period: Long): Seq[WindowSlice] =
    (Math.floorDiv(ts.head - len, period) to Math.floorDiv(ts.last, period))
      .flatMap { k =>
        val (start, end) = (k * period, k * period + len)
        val in = ts.indices.filter(i => ts(i) >= start && ts(i) < end)
        in.headOption.map(WindowSlice(start, end, _, in.size))
      }

  test("slicer: hand-computed windows") {
    val ts = Array(0L, 500L, 1000L, 1500L)
    assert(Samples.windowSlices(ts, 1000, 500).toSeq === Seq(
      WindowSlice(-500, 500, 0, 1), WindowSlice(0, 1000, 0, 2),
      WindowSlice(500, 1500, 1, 2), WindowSlice(1000, 2000, 2, 2),
      WindowSlice(1500, 2500, 3, 1)))
    // tumbling
    assert(Samples.windowSlices(ts, 1000, 1000).toSeq === Seq(
      WindowSlice(0, 1000, 0, 2), WindowSlice(1000, 2000, 2, 2)))
    // len not a multiple of period: 2500 / 1000
    assert(Samples.windowSlices(ts, 2500, 1000).toSeq === Seq(
      WindowSlice(-2000, 500, 0, 1), WindowSlice(-1000, 1500, 0, 3),
      WindowSlice(0, 2500, 0, 4), WindowSlice(1000, 3500, 2, 2)))
    // period > len: frames at 500 and 1500 fall in the gaps
    assert(Samples.windowSlices(ts, 300, 1000).toSeq === Seq(
      WindowSlice(0, 300, 0, 1), WindowSlice(1000, 1300, 2, 1)))
    // duplicate timestamps share every window
    assert(Samples.windowSlices(Array(0L, 0L, 700L), 1000, 1000).toSeq ===
      Seq(WindowSlice(0, 1000, 0, 3)))
    // one frame
    assert(Samples.windowSlices(Array(7L), 5, 2).toSeq === Seq(
      WindowSlice(4, 9, 0, 1), WindowSlice(6, 11, 0, 1)))
    assert(Samples.windowSlices(Array.empty[Long], 1000, 500).isEmpty)
  }

  test("slicer ≡ brute-force enumeration over random sorted timestamps") {
    val rnd = new Random(11)
    for (_ <- 1 to 2000) {
      val n = 1 + rnd.nextInt(12)
      val ts = Array.fill(n)(rnd.nextInt(3000).toLong - 200).sorted
      val len = 1L + rnd.nextInt(1200)
      val period = 1L + rnd.nextInt(900)
      assert(Samples.windowSlices(ts, len, period).toSeq ===
        bruteForce(ts, len, period), s"ts=${ts.toSeq} len=$len p=$period")
    }
  }

  test("slicer steps over a gap of more than 10^6 periods") {
    val gap = 5000000000000L // 5·10^12 ms = 5·10^9 periods of 1000 ms
    val ts = Array(0L, 400L, gap, gap + 400L)
    val out = Samples.windowSlices(ts, 2500, 1000).toSeq
    assert(out === Seq(
      WindowSlice(-2000, 500, 0, 2), WindowSlice(-1000, 1500, 0, 2),
      WindowSlice(0, 2500, 0, 2), WindowSlice(gap - 2000, gap + 500, 2, 2),
      WindowSlice(gap - 1000, gap + 1500, 2, 2),
      WindowSlice(gap, gap + 2500, 2, 2)))
  }

  private type Frame = (String, String, String, Double, Double,
    java.lang.Long, Double, Seq[Float])

  /** One video's frames: every frame carries a distinct payload, so a
    * frame put in the wrong window or order changes the row.
    */
  private def video(rnd: Random, name: String, fps: Double, total: Double,
      ts: Seq[Long]): Seq[Frame] = {
    val dataset = if (rnd.nextBoolean()) "train" else "test"
    ts.map(t => (name, s"l${name.length % 3}", dataset, fps, total,
      java.lang.Long.valueOf(t), rnd.nextDouble(),
      Seq.fill(3)(rnd.nextFloat())))
  }

  /** A seeded random frame set: videos of 1–40 frames at assorted rates,
    * with duplicate timestamps and fractional or short video lengths, in
    * shuffled order across four input partitions.
    */
  private def randomFrames(seed: Int): DataFrame = {
    val rnd = new Random(seed)
    val frames = (0 until 12).flatMap { v =>
      val rate = Seq(250L, 333L, 500L, 1000L)(rnd.nextInt(4))
      val n = 1 + rnd.nextInt(40)
      val ts = (0 until n).map(_ * rate)
      val dups = ts.filter(_ => rnd.nextInt(6) == 0)
      val fps = Seq(1.0, 2.0, 3.0, 7.5, 29.97)(rnd.nextInt(5))
      // video length 1000·total/fps ms: sometimes shorter than the frames
      val total = math.max(1.0, n * rate * fps / 1000.0 *
        (0.5 + rnd.nextDouble()))
      video(rnd, s"v$seed-$v.mp4", fps, total, ts ++ dups)
    }
    frameDf(rnd.shuffle(frames))
  }

  private def frameDf(frames: Seq[Frame]): DataFrame =
    spark.sparkContext.parallelize(frames, 4).toDF("filename", "label",
      "dataset", "frame_per_sec", "frame_total", "timestamp_ms", "score",
      "logits")

  private def assertSameSamples(frames: DataFrame, len: Long,
      period: Long): Unit = {
    val sliced = Samples.cropVideo(frames, listCols, len, period)
    val windowed = Samples.cropAssemble(
      frames.withColumn("ts", timestamp_millis(col("timestamp_ms"))),
      listCols, len, period)
    assert(sliced.columns.toSeq === windowed.columns.toSeq)
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
    val expected = rows(windowed)
    assert(expected.nonEmpty, s"len=$len period=$period")
    assert(rows(sliced) === expected, s"len=$len period=$period")
  }

  test("random frame sets: cropVideo ≡ window()-based cropAssemble") {
    for (seed <- 1 to 3; (len, period) <- Seq((2000L, 500L),
        (2500L, 1000L), (700L, 1000L), (1000L, 1000L), (15000L, 1000L),
        (999L, 333L)))
      assertSameSamples(randomFrames(seed), len, period)
  }

  test("edge cases: one frame, short, fractional, duplicates, huge gap, " +
      "null timestamp") {
    val rnd = new Random(7)
    val gap = 2000000000L // 2·10^6 periods of 1000 ms
    val withNull = video(rnd, "nullts.mp4", 2.0, 4.0, Seq(0L, 1000L, 2000L))
    val frames = Seq(
      video(rnd, "one.mp4", 2.0, 1.0, Seq(0L)),
      video(rnd, "short.mp4", 2.0, 3.0, Seq(0L, 500L, 1000L)),
      video(rnd, "frac.mp4", 3.0, 10.0, 0L until 3500L by 250L),
      video(rnd, "dups.mp4", 2.0, 8.0, Seq(1500L, 0L, 500L, 500L, 500L,
        2000L, 0L, 3500L)),
      video(rnd, "gap.mp4", 1.0, 3.0e6, Seq(0L, 500L, gap, gap + 500L,
        gap + 2500L)),
      withNull.tail,
      // a frame without a timestamp, in the same video: in no window
      withNull.take(1).map(_.copy(_6 = null))
    ).flatten
    val df = frameDf(rnd.shuffle(frames))
    for ((len, period) <- Seq((2500L, 1000L), (700L, 1000L), (2000L, 500L),
        (15000L, 1000L)))
      assertSameSamples(df, len, period)
  }

  test("cropVideo rejects a non-positive sequence length or period") {
    val df = frameDf(video(new Random(1), "v.mp4", 2.0, 4.0, Seq(0L)))
    for ((len, period) <- Seq((0L, 500L), (-1L, 500L), (2000L, 0L),
        (2000L, -500L)))
      intercept[IllegalArgumentException](
        Samples.cropVideo(df, listCols, len, period))
  }
}
