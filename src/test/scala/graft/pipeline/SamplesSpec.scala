package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types._

class SamplesSpec extends SparkSpec {
  import spark.implicits._

  // two videos: v1 with 4 frames (2 s at 2 fps), v2 with 2 frames — frames
  // deliberately out of timestamp order to prove the per-sample sort
  private def frames = Seq(
    ("v1.mp4", "en", "train", 2.0, 4.0, 1500L, 15.0),
    ("v1.mp4", "en", "train", 2.0, 4.0, 0L, 10.0),
    ("v1.mp4", "en", "train", 2.0, 4.0, 1000L, 14.0),
    ("v1.mp4", "en", "train", 2.0, 4.0, 500L, 12.0),
    ("v2.mp4", "fr", "test", 2.0, 2.0, 500L, 22.0),
    ("v2.mp4", "fr", "test", 2.0, 2.0, 0L, 20.0)
  ).toDF("filename", "label", "dataset", "frame_per_sec", "frame_total",
    "timestamp_ms", "score")

  test("O15 single_frame: one sample per frame, 1-element lists") {
    val out = Samples.singleFrame(frames, Seq("timestamp_ms", "score"))
    assert(out.count() === 6)
    val r = out.filter(col("filename") === "v2.mp4")
      .orderBy(col("timestamp_ms")(0))
      .as[(String, String, String, Double, Double, Seq[Long], Seq[Double])]
      .collect()
    assert(r.map(_._6) === Array(Seq(0L), Seq(500L)))
    assert(r.map(_._7) === Array(Seq(20.0), Seq(22.0)))
    // the exact output schema: context columns as they came, then one
    // non-null array per list column whose containsNull is the column's
    // own nullability
    val withNulls = frames.withColumn("note",
      when(col("score") > 14.0, lit("late")))
    assert(Samples.singleFrame(withNulls, Seq("timestamp_ms", "score", "note"))
      .schema === StructType(Seq(
        StructField("filename", StringType, nullable = true),
        StructField("label", StringType, nullable = true),
        StructField("dataset", StringType, nullable = true),
        StructField("frame_per_sec", DoubleType, nullable = false),
        StructField("frame_total", DoubleType, nullable = false),
        StructField("timestamp_ms", ArrayType(LongType, containsNull = false),
          nullable = false),
        StructField("score", ArrayType(DoubleType, containsNull = false),
          nullable = false),
        StructField("note", ArrayType(StringType, containsNull = true),
          nullable = false))))
  }

  test("O14+O16+O17 full_video: one sample per video, sorted + pivoted") {
    val out = Samples.fullVideo(frames, Seq("timestamp_ms", "score"))
      .orderBy("filename")
      .as[(String, String, String, Double, Double, Seq[Long], Seq[Double])]
      .collect()
    assert(out.length === 2)
    val v1 = out(0)
    assert(v1._1 === "v1.mp4")
    // O16: frames sorted by timestamp inside the sample
    assert(v1._6 === Seq(0L, 500L, 1000L, 1500L))
    // O17: parallel list column pivoted in the SAME order
    assert(v1._7 === Seq(10.0, 12.0, 14.0, 15.0))
    assert(out(1)._6 === Seq(0L, 500L))
  }

  test("O9-O13 crop_video: sliding windows with the validity rule") {
    // 1 s windows sliding every 500 ms over v1 (length 2000 ms).
    // Window (start,end) kept iff end == seqLen OR 0 <= start, end <= 2000.
    val out = Samples.cropVideo(frames, Seq("timestamp_ms"),
      sequenceLengthMs = 1000, periodMs = 500)
    val v1 = out.filter(col("filename") === "v1.mp4")
      .orderBy("window_start")
      .select("window_start", "window_end", "timestamp_ms")
      .as[(Long, Long, Seq[Long])].collect()
    // windows: [-500,500) kept only via end==1000? no, end=500 != 1000, start<0 → dropped
    //          [0,1000) kept (inside), [500,1500) kept (inside),
    //          [1000,2000) kept (inside), [1500,2500) end>2000 & != 1000 → dropped
    assert(v1.map(w => (w._1, w._2)).toSeq ===
      Seq((0L, 1000L), (500L, 1500L), (1000L, 2000L)))
    assert(v1(0)._3 === Seq(0L, 500L))
    assert(v1(1)._3 === Seq(500L, 1000L))
    assert(v1(2)._3 === Seq(1000L, 1500L))
  }

  test("crop_video end==sequenceLength exception keeps the boundary window") {
    // v2 is 1000 ms long; with seqLen 2000 every full window overruns the
    // video, but the reference keeps end == sequence_length windows
    val out = Samples.cropVideo(frames.filter(col("filename") === "v2.mp4"),
      Seq("timestamp_ms"), sequenceLengthMs = 2000, periodMs = 500)
      .select("window_start", "window_end", "timestamp_ms")
      .orderBy("window_start")
      .as[(Long, Long, Seq[Long])].collect()
    assert(out.map(w => (w._1, w._2)).toSeq === Seq((0L, 2000L)))
    assert(out(0)._3 === Seq(0L, 500L))
  }

  test("crop_video with period == sequenceLength degenerates to tumbling") {
    val out = Samples.cropVideo(frames.filter(col("filename") === "v1.mp4"),
      Seq("timestamp_ms"), sequenceLengthMs = 1000, periodMs = 1000)
      .select("window_start", "window_end", "timestamp_ms")
      .orderBy("window_start")
      .as[(Long, Long, Seq[Long])].collect()
    assert(out.map(w => (w._1, w._2)).toSeq ===
      Seq((0L, 1000L), (1000L, 2000L)))
    assert(out(0)._3 === Seq(0L, 500L))
    assert(out(1)._3 === Seq(1000L, 1500L))
  }
}
