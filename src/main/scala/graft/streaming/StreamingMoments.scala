package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The moments sketch (Gan et al., VLDB 2018) as a streaming-maintainable
  * aggregate, plus the Cornish–Fisher quantile fold — ONE definition
  * consumed by the batch query (queries.Events `ev_moments_quantile`) and
  * the windowed streaming variant, so the two cannot drift.
  *
  * The maintained state is {n, integer power sums s1i..s4i}: plain
  * count/sum aggregates, which Structured Streaming folds incrementally
  * exactly like the batch HashAggregate (addition is commutative and
  * exact over longs — replay order can't flip a bit), and which MERGE by
  * addition across windows/partitions/days — the property that makes
  * this the 100 TB quantile primitive (constant state per group; a
  * pre-aggregated daily sketch table rolls up to any coarser grain
  * without touching raw data). The quantile fold is model-sized and runs
  * batch-side (foreachBatch / on the sketch sink read-back), the same
  * two-level pattern as the `functions.Hll` register sketches.
  *
  * Determinism discipline (shared with the oracle): values pre-scaled by
  * 2⁹ (exact binary scale), per-row terms rounded to a 1e-12 fixed-point
  * grid before the integer sum, CF constants computed once in Scala.
  */
object StreamingMoments {

  private val M = 1e12 // fixed-point grid for the power sums

  /** Φ⁻¹(0.95) and its Cornish–Fisher coefficients (z = 0 for p50
    * degenerates to the −skew/6 term alone).
    */
  val Z95 = 1.6448536269514722
  val C1 = (Z95 * Z95 - 1.0) / 6.0
  val C2 = (Z95 * Z95 * Z95 - 3.0 * Z95) / 24.0
  val C3 = -(2.0 * Z95 * Z95 * Z95 - 5.0 * Z95) / 36.0
  val C150 = -1.0 / 6.0

  /** The standardized input: value / 2⁹ (lossless IEEE division; keeps
    * every power ≤ 1 so the fixed-point sums cannot overflow a long
    * until ~10⁶ rows per group per 10¹² grid unit).
    */
  def w(value: Column): Column = value / lit(512.0)

  private def fxTerm(c: Column): Column = round(c * M).cast("long")

  /** The four integer power-sum aggregate columns + the count — the
    * sketch's entire state. Alias-stable: n, s1i..s4i.
    */
  def sketchAggs(value: Column): Seq[Column] = {
    val x = w(value)
    Seq(count(lit(1)).as("n"),
      sum(fxTerm(x)).as("s1i"),
      sum(fxTerm(x * x)).as("s2i"),
      sum(fxTerm((x * x) * x)).as("s3i"),
      sum(fxTerm(((x * x) * x) * x)).as("s4i"))
  }

  /** Merge sketches by addition — grouping a sketch table to any coarser
    * key set. The fold over the merged sums is bit-identical to the fold
    * over a direct aggregation of the raw rows (MomentsSpec proves it).
    */
  def merge(sketch: DataFrame, keys: Column*): DataFrame =
    sketch.groupBy(keys: _*)
      .agg(sum(col("n")).as("n"), sum(col("s1i")).as("s1i"),
        sum(col("s2i")).as("s2i"), sum(col("s3i")).as("s3i"),
        sum(col("s4i")).as("s4i"))

  /** Windowed streaming sketch: one row of {n, s1i..s4i} per
    * (event-time window × extra keys), maintained incrementally,
    * watermark-evicted. `events` must be a streaming DataFrame.
    */
  def windowedSketch(events: DataFrame, valueCol: String, tsCol: String,
      windowDuration: String, extraKeys: Seq[String] = Seq("event_type"),
      watermarkDelay: String = "10 seconds"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration) +:
        extraKeys.map(col): _*)
      .agg(sketchAggs(col(valueCol)).head,
        sketchAggs(col(valueCol)).tail: _*)

  /** The Cornish–Fisher quantile fold: derive mean/std/skew/kurt and the
    * p50/p95 estimates (back in VALUE units) from a sketch frame with
    * columns n, s1i..s4i. Model-sized input (one row per group); the
    * expression tree is THE tree the DuckDB oracle mirrors.
    */
  def quantiles(sketch: DataFrame): DataFrame =
    sketch
      .withColumn("m1", (col("s1i") / M) / col("n"))
      .withColumn("m2", (col("s2i") / M) / col("n"))
      .withColumn("m3", (col("s3i") / M) / col("n"))
      .withColumn("m4", (col("s4i") / M) / col("n"))
      .withColumn("varc",
        greatest(col("m2") - (col("m1") * col("m1")), lit(0.0)))
      .withColumn("stdw", sqrt(col("varc")))
      .withColumn("m3c",
        (col("m3") - ((lit(3.0) * col("m2")) * col("m1"))) +
          ((lit(2.0) * (col("m1") * col("m1"))) * col("m1")))
      .withColumn("m4c",
        ((col("m4") - ((lit(4.0) * col("m3")) * col("m1"))) +
          ((lit(6.0) * col("m2")) * (col("m1") * col("m1")))) -
          ((lit(3.0) * (col("m1") * col("m1"))) *
            (col("m1") * col("m1"))))
      // a degenerate (constant-valued, e.g. n = 1) group has stdw = 0:
      // skew/kurt are undefined there and ANSI division raises — define
      // them 0 so the CF estimates collapse to the mean, which IS every
      // quantile of a constant distribution
      .withColumn("skew",
        when(col("stdw") > 0.0,
          col("m3c") / ((col("stdw") * col("stdw")) * col("stdw")))
          .otherwise(lit(0.0)))
      .withColumn("kurt",
        when(col("varc") > 0.0,
          (col("m4c") / (col("varc") * col("varc"))) - lit(3.0))
          .otherwise(lit(0.0)))
      .withColumn("q50w",
        col("m1") + (col("stdw") * (lit(C150) * col("skew"))))
      .withColumn("q95w",
        col("m1") + (col("stdw") *
          (((lit(Z95) + (lit(C1) * col("skew"))) +
            (lit(C2) * col("kurt"))) +
            (lit(C3) * (col("skew") * col("skew"))))))
      .withColumn("mean", col("m1") * lit(512.0))
      .withColumn("std", col("stdw") * lit(512.0))
      .withColumn("q50_est", col("q50w") * lit(512.0))
      .withColumn("q95_est", col("q95w") * lit(512.0))
}
