package perfbench

import java.nio.file.Files

import scala.collection.mutable

import graft.Main
import graft.pipeline.{AutoFrameDecoder, ConvEmbedder}
import graft.tfrecord.ExampleCodec
import org.apache.spark.sql.catalyst.InternalRow

/** Single-thread direct calls into each layer's public function over a
  * fixed sample of the workload's files: container parse
  * (`decodeMeta`), pixel decode (`decode`), `ConvEmbedder.embed` and
  * `ExampleCodec.encode`. No Spark scheduling is involved.
  */
object Probe {

  private val FilesPerKind = 2
  private val FramesPerFile = 16

  /** Seconds per unit of `body`: one warm-up, then the median of at least
    * five timed blocks and at least 0.2 s.
    */
  private def perUnit(units: Long)(body: => Unit): Double = {
    body
    val xs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (xs.size < 5 || System.nanoTime() - t0 < 2e8) {
      val s = System.nanoTime()
      body
      xs += (System.nanoTime() - s) / 1e9 / units
    }
    PipelineBench.median(xs.toSeq)
  }

  def all(clips: Seq[Clip], cfg: Main.Config, weights: String,
      rows: Seq[InternalRow]): Seq[(String, Double, String)] = {
    val rate = cfg.sampleRateMs
    val decoder = new AutoFrameDecoder(new RefusingDecoder)
    val perKind = Corpus.Kinds.flatMap { kind =>
      val files = clips.filter(_.kind == kind).sortBy(_.path.toString)
        .take(FilesPerKind)
        .map(c => (c.path.toString, Files.readAllBytes(c.path)))
      val metaUs = perUnit(files.size)(files.foreach { case (f, b) =>
        decoder.decodeMeta(f, b, rate).foreach(_ => ())
      }) * 1e6
      val frames = files.map { case (f, b) =>
        decoder.decodeMeta(f, b, rate).take(FramesPerFile).size }.sum
      val decodeMs = perUnit(frames)(files.foreach { case (f, b) =>
        decoder.decode(f, b, rate).take(FramesPerFile).foreach(_ => ())
      }) * 1e3
      Seq((s"parse.us_per_file.$kind", metaUs, "us"),
        (s"decode.ms_per_frame.$kind", decodeMs, "ms"))
    }
    val clip = clips.minBy(_.path.toString)
    val batch = decoder.decode(clip.path.toString,
      Files.readAllBytes(clip.path), rate).take(cfg.batchSize).toSeq
    val embedder = new ConvEmbedder(weights, 2048)
    embedder.setup()
    val embedMs = perUnit(batch.size)(embedder.embed(batch.map(_.image),
      batch.head.height, batch.head.width)) * 1e3
    val codec = new ExampleCodec(Main.sampleSchema(cfg.mode),
      sequenceMode = true)
    val encodeUs = perUnit(rows.size)(rows.foreach(codec.encode)) * 1e6
    perKind ++ Seq(("embed.ms_per_frame", embedMs, "ms"),
      ("encode.us_per_record", encodeUs, "us"))
  }
}
