package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Online out-of-order lateness scoring — the streaming twin of
  * `ev_lateness` (queries/Events.scala). The batch query models watermark
  * advancement micro-batch-wise (arrival buckets); this is the literal
  * online form: each arriving batch is scored against the max event time
  * of all STRICTLY EARLIER batches, then advances that maximum. The
  * entire cross-batch state is ONE long — the smallest possible streaming
  * state, the same quantity Structured Streaming itself tracks to advance
  * `withWatermark` (its per-batch "max event time seen").
  *
  * The two forms share one definition: [[batchReference]] is the batch
  * bucketed-watermark lineage at an arbitrary bucket width (`ev_lateness`
  * inlines the 1-minute form against the DuckDB oracle), and
  * StreamingLatenessSpec proves the foreachBatch scorer reproduces it
  * row-for-row when micro-batches align with buckets.
  */
object StreamingLateness {

  /** Sentinel for "no earlier batch" — scores the first batch at 0
    * lateness, matching the batch form's NULL-watermark coalesce.
    */
  val NoWatermark: Long = Long.MinValue

  /** Score one arrival micro-batch against the watermark held BEFORE it.
    * Pure: the pre-batch value is frozen into the plan as a literal and
    * the held watermark is NOT advanced — call [[advance]] only after the
    * sink write commits, so an at-least-once `foreachBatch` RETRY of the
    * same batch re-scores against the same pre-batch watermark instead of
    * scoring rows late against themselves (the usual foreachBatch
    * persist-then-commit idempotence discipline).
    */
  def scoreBatch(batch: DataFrame, wm: AtomicLong): DataFrame = {
    val before = wm.get()
    val late =
      if (before == NoWatermark) lit(0L)
      else greatest(lit(0L), lit(before) - col("ems"))
    batch.withColumn("late_ms", late)
  }

  /** Advance the watermark past a successfully-written batch. One
    * single-row aggregate — the same per-batch max the engine's own
    * `withWatermark` bookkeeping computes. Monotone (max), so replaying
    * an already-advanced batch is a no-op.
    */
  def advance(batch: DataFrame, wm: AtomicLong): Unit = {
    val mx = batch.agg(max(col("ems"))).head
    if (!mx.isNullAt(0)) wm.set(math.max(wm.get(), mx.getLong(0)))
  }

  /** The batch bucketed-watermark lineage at width `bucketMs`:
    * `arrivals` carries (ems LONG, arr_ms LONG, …); every row gains
    * `late_ms` = how far it trails the max event time of all strictly
    * earlier arrival buckets. Same plan shape as ev_lateness: one
    * combinable per-bucket max, a running max over the bucket table
    * (bounded by time span / bucketMs, never by row count), broadcast
    * back.
    */
  def batchReference(arrivals: DataFrame, bucketMs: Long): DataFrame = {
    val a = arrivals.withColumn("__bucket", expr(s"arr_ms div $bucketMs"))
    val bw = a.groupBy(col("__bucket")).agg(max(col("ems")).as("__bmax"))
    val wmW = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wm = bw.select(col("__bucket"),
      max(col("__bmax")).over(wmW).as("__wm_ems"))
    a.join(broadcast(wm), Seq("__bucket"))
      .withColumn("late_ms", greatest(lit(0L),
        coalesce(col("__wm_ems") - col("ems"), lit(0L))))
      .drop("__bucket", "__wm_ems")
  }

  /** The per-type watermark-delay sizing aggregate over scored rows —
    * shared by the batch and streaming forms so the report cannot drift
    * from the scorer (`ev_dwell`'s composed-off-the-shared-definition
    * discipline).
    */
  def sizingTable(scored: DataFrame): DataFrame =
    scored.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_ms") > 0, 1L).otherwise(0L)).as("n_late"),
        expr("percentile(late_ms, 0.25)").as("p25_ms"),
        expr("percentile(late_ms, 0.5)").as("p50_ms"),
        expr("percentile(late_ms, 0.75)").as("p75_ms"),
        max(col("late_ms")).as("max_ms"))
}
