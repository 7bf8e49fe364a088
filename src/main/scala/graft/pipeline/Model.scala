package graft.pipeline

/** Fixed schemas replacing the reference's dynamic row dicts
  * (SURVEY.md §1.2; reference: preprocess.py:319, features.py:25-36).
  * Timestamps are integral epoch/offset milliseconds — the reference carries
  * them as FLOAT only because TFRecord lacks a timestamp kind; we convert at
  * the sink, keeping exact integer arithmetic everywhere else.
  */

/** One decoded frame before embedding (reference: preprocess.py:181-185). */
final case class FrameRow(
    filename: String,
    label: String,
    dataset: String,
    timestamp_ms: Long,
    frame_per_sec: Double,
    frame_total: Double,
    height: Int,
    width: Int,
    image: Array[Float])

/** Frame after model inference: `image` dropped, `logits` added
  * (reference: preprocess.py:241-242).
  */
final case class EmbeddedFrame(
    filename: String,
    label: String,
    dataset: String,
    timestamp_ms: Long,
    frame_per_sec: Double,
    frame_total: Double,
    logits: Array[Float])

/** Output of a [[FrameDecoder]] for a single frame. */
final case class DecodedFrame(
    timestampMs: Long,
    framePerSec: Double,
    frameTotal: Double,
    height: Int,
    width: Int,
    image: Array[Float])
