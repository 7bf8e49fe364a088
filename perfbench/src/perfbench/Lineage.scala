package perfbench

import java.nio.file.Path

import graft.Main
import graft.pipeline._
import graft.tfrecord.TFRecords
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** `Main.run`'s lineage rebuilt from the layer functions, so that it can be
  * cut after any layer. A cut after `write` is the whole pipeline, and its
  * output digest must equal `Main.run`'s.
  */
final class Lineage(spark: SparkSession, glob: String, cfg: Main.Config,
    decoder: FrameDecoder, embedder: Embedder) {

  /** Runs `df` into the `noop` sink; returns the rows that reached it. */
  private def noop(df: DataFrame): Long = {
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    rows.get("rows").asInstanceOf[Long]
  }

  /** Runs the lineage up to and including `layer`; returns the rows the cut
    * emitted, or -1 after `write`, whose output is read back instead.
    */
  def cut(layer: String, out: Path): Long = {
    import spark.implicits._
    val listCols = Seq("timestamp_ms", "logits")
    val prepared = Ingest.splitByHash(Ingest.withLabel(Ingest.filterVideos(
      Ingest.listFilesWithContent(spark, glob))), 0.70, 0.15, 0.15)
    lazy val frames = Frames.extract(prepared, decoder, cfg.sampleRateMs)
    lazy val embedded = Embed.run(frames, embedder, cfg.batchSize).toDF()
    lazy val samples = cfg.mode match {
      case Main.SingleFrame => Samples.singleFrame(embedded, listCols)
      case Main.FullVideo => Samples.fullVideo(embedded, listCols)
      case Main.CropVideo => Samples.cropVideo(embedded, listCols,
        cfg.sequenceLengthMs, cfg.periodMs)
    }
    layer match {
      case "ingest" => noop(prepared.drop("content"))
      case "read" => noop(prepared)
      case "parse" =>
        val (dec, rate) = (decoder, cfg.sampleRateMs)
        noop(prepared.flatMap { r =>
          val name = r.getAs[String]("filename")
          dec.decodeMeta(name, r.getAs[Array[Byte]]("content"), rate)
            .map(f => (name, f.timestampMs, f.frameTotal))
        }.toDF())
      case "decode" => noop(frames.toDF())
      case "embed" => noop(embedded)
      case "assemble" => noop(samples)
      case "write" =>
        TFRecords.write(samples, out.toString, cfg.numShards, cfg.seed)
        -1L
    }
  }
}

object Lineage {

  /** Layers in lineage order; each cut ends after its layer. */
  val Layers: Seq[String] =
    Seq("ingest", "read", "parse", "decode", "embed", "assemble", "write")

  /** The cut each layer's self time is taken against. `parse` branches off
    * `read`: `Main.run` never calls `decodeMeta`, and each decoder parses
    * its container inside `decode`. So `decode` is timed against `read`
    * too, and `parse.s` is the share of it that parsing alone costs.
    */
  val Before: Map[String, String] = Map("read" -> "ingest",
    "parse" -> "read", "decode" -> "read", "embed" -> "decode",
    "assemble" -> "embed", "write" -> "assemble")

  /** The layers that do lie on one path, whose self times add up to it. */
  val Chain: Seq[String] = Layers.filterNot(_ == "parse")
}
