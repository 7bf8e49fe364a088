package graft.pipeline

import graft.{Main, SparkSpec}
import java.nio.file.Files
import org.apache.spark.sql.execution.{ExpandExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{col, timestamp_millis}
import org.apache.spark.sql.util.QueryExecutionListener

/** The crop_video plan shape, pinned by operator counts in the executed
  * (post-AQE) plans rather than by wall time: one per-video Exchange, no
  * Expand of frames into windows.
  */
class CropPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def exchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) { case e: ShuffleExchangeExec => e }

  private def expands(plan: SparkPlan): Seq[ExpandExec] =
    collect(plan) { case e: ExpandExec => e }

  private def frames = (for (v <- 1 to 3; t <- 0L until 4000L by 500L)
    yield (s"v$v.mp4", "en", "train", 2.0, 8.0, t, Seq(t.toFloat)))
    .toDF("filename", "label", "dataset", "frame_per_sec", "frame_total",
      "timestamp_ms", "logits")

  test("Samples.cropVideo runs one Exchange and no Expand") {
    val listCols = Seq("timestamp_ms", "logits")
    val sliced = Samples.cropVideo(frames, listCols, 2000, 500)
    assert(sliced.collect().nonEmpty)
    val plan = sliced.queryExecution.executedPlan
    assert(exchanges(plan).size === 1, plan)
    assert(expands(plan).isEmpty, plan)
    // the counters tell the two shapes apart: the window()-based form
    // expands every frame into its windows before its Exchange
    val windowed = Samples.cropAssemble(
      frames.withColumn("ts", timestamp_millis(col("timestamp_ms"))),
      listCols, 2000, 500)
    assert(windowed.collect().nonEmpty)
    assert(expands(windowed.queryExecution.executedPlan).nonEmpty)
  }

  test("Main.run's crop lineage: the assembly Exchange + the shard shuffle") {
    val written = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec])
            .isDefined) written.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = Files.createTempDirectory("crop_plan").toString
      Main.run(Main.fixtureListing(spark, Main.CliArgs().sfDir), out,
        Main.Config(mode = Main.CropVideo, embeddingDim = 8,
          sequenceLengthMs = 2000, periodMs = 500))
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (written.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(written.size === 1)
    val plan = written.peek()
    val origins = exchanges(plan).map(_.shuffleOrigin)
    assert(origins.sortBy(_.toString) ===
      Seq(ENSURE_REQUIREMENTS, REPARTITION_BY_NUM), plan)
    assert(expands(plan).isEmpty, plan)
  }
}
