package graft.streaming

import graft.pipeline.Samples
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, timestamp_millis}

/** Structured Streaming variant of the crop_video stage (SURVEY.md §2.1 /
  * §5 item 5): the reference's sliding event-time windows
  * (preprocess.py:327-344) over an unbounded frame stream.
  *
  * Event-time from `timestamp_ms`, `window()` grouping, the validity
  * filter, collect_list, sort+pivot (`Samples.cropAssemble`), plus a
  * watermark, which is the only semantic addition streaming needs: it
  * bounds state (old windows are evicted once the watermark passes) and, in
  * append mode, decides when a window is final. The batch
  * `Samples.cropVideo` reaches the same samples another way (one group per
  * video, then slicing), so the two are cross-checked: on bounded input,
  * batch ≡ streaming row-for-row (StreamingCropSpec; StreamingPipelineSpec
  * through both TFRecord sinks), and batch ≡ `cropAssemble` row-for-row
  * over randomized frame sets (SamplesEquivalenceSpec).
  *
  * At scale this is the canonical shape: one shuffle on (window, filename),
  * state store per key, no global ordering anywhere.
  */
object StreamingCrop {

  /** `frames` must be a STREAMING DataFrame with the batch frame columns
    * (filename, label, dataset, frame_per_sec, frame_total, timestamp_ms,
    * + feature list columns). Returns the windowed sample stream; write it
    * with `.writeStream.outputMode("append")`.
    */
  def apply(frames: DataFrame, listCols: Seq[String], sequenceLengthMs: Long,
      periodMs: Long, watermarkDelay: String = "10 seconds"): DataFrame =
    Samples.cropAssemble(
      frames
        .withColumn("ts", timestamp_millis(col("timestamp_ms")))
        .withWatermark("ts", watermarkDelay),
      listCols, sequenceLengthMs, periodMs)
}
