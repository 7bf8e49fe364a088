package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** O9-O17 — sample assembly: regroup frames into training samples by mode,
  * sort each sample's frames by timestamp, and pivot list-of-frames into
  * struct-of-arrays (reference: preprocess.py:283-368, 399-406).
  *
  * All three modes are single-shuffle (or shuffle-free for single_frame):
  * full_video and crop_video group each video's frames once on filename
  * (+ functionally-dependent context columns, grouped rather than
  * re-joined), so every frame crosses the shuffle once. The per-video sort
  * happens on the collected array via `sort_array` — never a global sort —
  * and the pivot is a pure projection (`transform`) over the sorted array;
  * crop_video then cuts its windows out of the pivoted arrays with `slice`.
  * That is the plan shape that survives a 100× scale-up.
  *
  * Bound: a video's collected frames form one row, so one video's list
  * payload must stay under Spark's 2 GiB row limit. At 2048 float logits per
  * frame that is ~262k frames, ~36 h of video at the 500 ms default rate.
  */
object Samples {

  /** Context columns: per-video scalars (reference features.py:30-35). */
  val contextCols: Seq[String] =
    Seq("filename", "label", "dataset", "frame_per_sec", "frame_total")

  /** O16+O17 — given an array of frame structs sorted by timestamp_ms, emit
    * one column per list feature, in that order. `sort_array` on an array of
    * structs orders by fields in struct order, so [[frameStruct]] places
    * timestamp_ms first to make it the sort key (ties then break
    * deterministically on the remaining fields).
    */
  private def pivoted(sorted: Column, listCols: Seq[String]): Seq[Column] =
    listCols.map(c => transform(sorted, f => f(c)).as(c))

  private def frameStruct(listCols: Seq[String]): Column =
    struct((col("timestamp_ms") +: listCols.filter(_ != "timestamp_ms")
      .map(col)): _*).as("frames")

  /** Each video's frames as one row: context columns + `frames`, the
    * unsorted array of frame structs.
    */
  private def perVideo(frames: DataFrame, listCols: Seq[String]): DataFrame =
    frames
      .groupBy(contextCols.map(col): _*)
      .agg(collect_list(frameStruct(listCols)).as("frames"))

  /** O15 — single_frame mode: every frame is its own sample; the "lists"
    * are one-element arrays. A plain projection, shuffle-free.
    */
  def singleFrame(frames: DataFrame, listCols: Seq[String]): DataFrame =
    frames.select(contextCols.map(col) ++
      listCols.map(c => array(col(c)).as(c)): _*)

  /** O14 — full_video mode: all frames of one video form one sample. */
  def fullVideo(frames: DataFrame, listCols: Seq[String]): DataFrame =
    perVideo(frames, listCols)
      .select(contextCols.map(col) ++
        pivoted(sort_array(col("frames")), listCols): _*)

  /** O11 — the reference's window-validity rule (preprocess.py:293-296): a
    * window is kept iff its end equals the sequence length OR it lies
    * entirely inside the video (start >= 0 and end <= video_length, with
    * video_length = 1000 * frame_total / frame_per_sec). `startMs`/`endMs`
    * are the window bounds in epoch millis; the frame rate and count are
    * read from the context columns.
    */
  private[graft] def validWindow(startMs: Column, endMs: Column,
      sequenceLengthMs: Long): Column =
    endMs === lit(sequenceLengthMs) ||
      (startMs >= 0 &&
        endMs <= lit(1000.0) * col("frame_total") / col("frame_per_sec"))

  /** One window `[start, end)` of one video and the frames it holds:
    * `count` consecutive frames of the video's time-sorted array, from the
    * 0-based index `from`.
    */
  private[graft] final case class WindowSlice(start: Long, end: Long,
      from: Int, count: Int)

  /** O10 — the sliding windows over one video's ascending timestamps, in
    * start order. Spark's `window()` rule: the starts are the multiples of
    * `periodMs` with `ts - sequenceLengthMs < start <= ts` for at least one
    * frame `ts`, so a window that would hold no frame is never emitted (with
    * `periodMs > sequenceLengthMs`, frames in the gaps belong to no window).
    *
    * O(frames + windows): each frame names its own range of window indices,
    * the ranges are merged in one pass (a long gap between frames is
    * stepped over, not walked), and each window's frame range comes from
    * two pointers that only move forward.
    */
  private[graft] def windowSlices(ts: Array[Long], sequenceLengthMs: Long,
      periodMs: Long): Array[WindowSlice] = {
    val out = Array.newBuilder[WindowSlice]
    var next = Long.MinValue // first window index not yet emitted
    var lo = 0 // first frame at or after the current window's start
    var hi = 0 // first frame at or after the current window's end
    for (t <- ts) {
      val last = Math.floorDiv(t, periodMs)
      var k = math.max(Math.floorDiv(t - sequenceLengthMs, periodMs) + 1, next)
      while (k <= last) {
        val start = k * periodMs
        val end = start + sequenceLengthMs
        while (ts(lo) < start) lo += 1
        while (hi < ts.length && ts(hi) < end) hi += 1
        out += WindowSlice(start, end, lo, hi - lo)
        k += 1
      }
      next = math.max(next, last + 1)
    }
    out.result()
  }

  /** O9-O13 — crop_video mode: sliding event-time windows over each video's
    * timeline; a (window, video) pair that passes [[validWindow]] is one
    * sample. `period == sequenceLength` degenerates to tumbling windows,
    * like the reference's default (preprocess.py:330).
    *
    * Every window of a video is a contiguous slice of that video's
    * time-sorted frame array, so the frames are grouped per video once (the
    * [[fullVideo]] grouping, one shuffle that moves each frame once) and a
    * narrow per-video pass emits the windows: [[windowSlices]] over the
    * sorted timestamps, then [[validWindow]], then `slice` on every pivoted
    * list column. The output equals [[cropAssemble]]'s row for row; the
    * window()-based form copies each frame into each of its windows before
    * the shuffle. Frames without a timestamp belong to no window, as with
    * `window()`.
    */
  def cropVideo(frames: DataFrame, listCols: Seq[String],
      sequenceLengthMs: Long, periodMs: Long): DataFrame = {
    require(sequenceLengthMs > 0,
      s"sequence length must be positive, got $sequenceLengthMs")
    require(periodMs > 0, s"period must be positive, got $periodMs")
    val slices = udf((ts: Seq[Long]) =>
      windowSlices(ts.toArray, sequenceLengthMs, periodMs).toSeq)
    val lists = listCols.filter(_ != "timestamp_ms")
    perVideo(frames.filter(col("timestamp_ms").isNotNull), listCols)
      .select(contextCols.map(col) :+
        sort_array(col("frames")).as("frames"): _*)
      .select(contextCols.map(col) ++
        pivoted(col("frames"), "timestamp_ms" +: lists): _*)
      .withColumn("w", explode(slices(col("timestamp_ms"))))
      .filter(validWindow(col("w.start"), col("w.end"), sequenceLengthMs))
      .select((Seq(col("w.start").as("window_start"),
        col("w.end").as("window_end")) ++ contextCols.map(col) ++
        listCols.map(c =>
          slice(col(c), col("w.from") + 1, col("w.count")).as(c))): _*)
  }

  /** The window()-based crop_video core, used by the Structured Streaming
    * path (graft.streaming.StreamingCrop), which needs the `window` group
    * key for its watermark: in streaming, state eviction by watermark
    * requires the window column. `framesWithTs` must carry an event-time
    * `ts` column. Each frame is copied into each of its windows, the
    * [[validWindow]] filter runs before the groupBy, and each (window,
    * video) group is collected, sorted and pivoted. SamplesEquivalenceSpec
    * checks that [[cropVideo]] produces the same rows.
    *
    * `window()` refuses a slide longer than the window, so a period longer
    * than the sequence length is run as period-long tumbling windows cut to
    * their first `sequenceLengthMs` (frames in the gaps belong to no
    * window, as in [[windowSlices]]).
    */
  private[graft] def cropAssemble(framesWithTs: DataFrame,
      listCols: Seq[String], sequenceLengthMs: Long,
      periodMs: Long): DataFrame = {
    val durationMs = math.max(sequenceLengthMs, periodMs)
    val start = unix_millis(col("w.start"))
    val end = start + sequenceLengthMs
    framesWithTs
      .withColumn("w", window(col("ts"),
        s"$durationMs milliseconds", s"$periodMs milliseconds"))
      .filter(unix_millis(col("ts")) < end &&
        validWindow(start, end, sequenceLengthMs))
      .groupBy((col("w") +: contextCols.map(col)): _*)
      .agg(collect_list(frameStruct(listCols)).as("frames"))
      .select((Seq(start.as("window_start"), end.as("window_end")) ++
        contextCols.map(col) ++
        pivoted(sort_array(col("frames")), listCols)): _*)
  }
}
