package graft.streaming

import graft.SparkSpec
import graft.pipeline._
import graft.tfrecord.TFRecords
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming end-to-end capstone: an unbounded frame stream through the
  * windowed crop stage into the streaming TFRecord sink, read back and
  * compared to the batch pipeline — the reference's full dataflow under
  * Structured Streaming semantics.
  */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("frame stream → StreamingCrop → TFRecord sink ≡ batch crop pipeline") {
    val seqLen = 2000L
    val period = 500L
    val listCols = Seq("timestamp_ms", "logits")

    // batch frames via the library lineage (synthetic decode + hash embed)
    val files = graft.Main.fixtureListing(spark, "/root/testdata/sf0.001")
    val prepared = Ingest.splitByHash(
      Ingest.withLabel(Ingest.filterVideos(files)), 0.70, 0.15, 0.15)
    val frames = Embed.run(
      Frames.extract(prepared, new SyntheticFrameDecoder(), 500L),
      new HashEmbedder(16), batchSize = 8).toDF().cache()

    // stream input: two chunks split on timestamp so windows span batches
    val inDir = Files.createTempDirectory("sp_in").toString
    val outDir = Files.createTempDirectory("sp_out").toString
    val ckpt = Files.createTempDirectory("sp_ckpt").toString
    frames.filter(col("timestamp_ms") <= 1000)
      .coalesce(1).write.parquet(s"$inDir/b0")
    frames.filter(col("timestamp_ms") > 1000)
      .coalesce(1).write.parquet(s"$inDir/b1")

    val stream = spark.readStream.schema(frames.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*")
    val cropped = StreamingCrop(stream, listCols, seqLen, period,
      watermarkDelay = "0 seconds")
    val q = TFRecords.writeStream(cropped, outDir, numShards = 2, ckpt).start()
    try q.processAllAvailable() finally q.stop()

    val readSchema = StructType(Seq(
      StructField("window_start", LongType),
      StructField("window_end", LongType),
      StructField("filename", StringType),
      StructField("label", StringType),
      StructField("frame_per_sec", DoubleType),
      StructField("frame_total", DoubleType),
      StructField("timestamp_ms", ArrayType(LongType)),
      StructField("logits", ArrayType(ArrayType(FloatType)))))
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(to_json(struct(readSchema.fieldNames.map(col): _*)).as("js"))
        .as[String].collect().toSet

    val streamed = canon(TFRecords.read(spark, outDir, readSchema))
    val batch = canon(Samples.cropVideo(frames, listCols, seqLen, period))

    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch),
      s"streaming emitted non-batch samples: ${streamed.diff(batch).take(1)}")
    // windows closed by the first chunk's watermark must all be present
    val mustHave = canon(Samples.cropVideo(
      frames, listCols, seqLen, period).filter(col("window_end") <= 1000))
    assert(mustHave.subsetOf(streamed))
    frames.unpersist()
  }
}
