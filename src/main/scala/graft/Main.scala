package graft

import graft.pipeline._
import graft.tfrecord.TFRecords
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** End-to-end pipeline composition — the Spark-native `build_pipeline`
  * (reference: preprocess.py:371-416): listing → extension filter → label →
  * split → frame decode → batched embedding → sample assembly → shuffled
  * sharded TFRecord sink with per-split directories.
  *
  * The stages are the library pieces (Ingest/Frames/Embed/Samples/
  * TFRecords) glued in one lineage; Catalyst sees a single plan, so column
  * pruning reaches the decode (the wide `image` column dies inside
  * Embed.run, before the sample-assembly shuffle).
  */
object Main {

  sealed trait Mode
  case object SingleFrame extends Mode
  case object FullVideo extends Mode
  case object CropVideo extends Mode

  /** Pipeline knobs, defaults matching the reference driver's
    * (run_preprocess.py:86-109: mode single_frame, frame_sample_rate 500,
    * sequence_length 15000, period 1000). One deliberate divergence:
    * `batchSize` defaults to 16 (reference: 1, a conservative
    * remote-inference default) so the shape-keyed batching path is on by
    * default. `mode` previously defaulted to FullVideo so the flagship
    * entry() smoke exercised sequence assembly; entry() now passes its
    * mode explicitly, and the CLI default matches the reference
    * flag-for-flag.
    */
  final case class Config(
      mode: Mode = SingleFrame,
      sampleRateMs: Long = 500,
      batchSize: Int = 16,
      embeddingDim: Int = 64,
      sequenceLengthMs: Long = 15000,
      periodMs: Long = 1000,
      numShards: Int = 4,
      seed: Long = 42L)

  /** Parsed command line: fixture dir + output dir (positional,
    * back-compatible), an optional real-file input glob, and the Config.
    */
  final case class CliArgs(
      sfDir: String = "/root/testdata/sf0.001",
      outDir: Option[String] = None,
      inputDir: Option[String] = None,
      cfg: Config = Config())

  /** CLI parity with the reference driver (run_preprocess.py:28-111).
    * Both the reference's snake_case spellings and kebab-case are
    * accepted. The Dataflow-only flags (--cloud, --project_id, --job_dir,
    * --job_name, --machine_type, --setup_file,
    * --service_account_key_file, --log_level) have no Spark-local analog —
    * cluster sizing and credentials belong to spark-submit — and are
    * rejected with a pointer rather than silently ignored.
    */
  def parseArgs(args: Array[String]): CliArgs = {
    val dataflowOnly = Set("cloud", "project_id", "job_dir", "job_name",
      "machine_type", "setup_file", "service_account_key_file", "log_level")
    def modeOf(v: String): Mode = v match {
      case "single_frame" => SingleFrame
      case "full_video"   => FullVideo
      case "crop_video"   => CropVideo
      case other => throw new IllegalArgumentException(
        s"--mode must be one of single_frame|full_video|crop_video, got $other")
    }
    // every numeric knob but --seed is a count, a rate or a length: zero or
    // a negative value has no meaning, so it fails here, naming the flag,
    // rather than inside an executor or as a silent fallback
    def positive(flag: String, n: Long): Long =
      if (n > 0) n
      else throw new IllegalArgumentException(s"$flag must be positive, got $n")
    @annotation.tailrec
    def loop(rest: List[String], acc: CliArgs, nPos: Int): CliArgs =
      rest match {
        case Nil => acc
        case flag :: tail if flag.startsWith("--") =>
          val key = flag.drop(2).replace('-', '_')
          if (dataflowOnly(key)) throw new IllegalArgumentException(
            s"$flag is Dataflow-specific; configure the Spark cluster via " +
              "spark-submit instead")
          tail match {
            // a following --flag token is a MISSING value, not a value:
            // silently consuming it would cascade into misparsing the
            // rest of the command line
            case v :: _ if v.startsWith("--") =>
              throw new IllegalArgumentException(s"$flag requires a value")
            case v :: t2 =>
              // a non-numeric or out-of-range value names its flag too
              def num(parse: String => Long): Long =
                try parse(v) catch {
                  case _: NumberFormatException =>
                    throw new IllegalArgumentException(
                      s"$flag must be a whole number in range, got $v")
                }
              val next = key match {
                case "mode" => acc.copy(cfg = acc.cfg.copy(mode = modeOf(v)))
                case "batch_size" => acc.copy(cfg = acc.cfg.copy(
                  batchSize = positive(flag, num(_.toInt)).toInt))
                case "frame_sample_rate" => acc.copy(cfg = acc.cfg.copy(
                  sampleRateMs = positive(flag, num(_.toLong))))
                case "sequence_length" => acc.copy(cfg = acc.cfg.copy(
                  sequenceLengthMs = positive(flag, num(_.toLong))))
                case "period" => acc.copy(cfg = acc.cfg.copy(
                  periodMs = positive(flag, num(_.toLong))))
                case "num_shards" => acc.copy(cfg = acc.cfg.copy(
                  numShards = positive(flag, num(_.toInt)).toInt))
                case "seed" =>
                  acc.copy(cfg = acc.cfg.copy(seed = num(_.toLong)))
                case "embedding_dim" => acc.copy(cfg = acc.cfg.copy(
                  embeddingDim = positive(flag, num(_.toInt)).toInt))
                case "output_dir" => acc.copy(outDir = Some(v))
                case "input_dir" => acc.copy(inputDir = Some(v))
                case other => throw new IllegalArgumentException(
                  s"unknown flag --$other")
              }
              loop(t2, next, nPos)
            case Nil => throw new IllegalArgumentException(
              s"$flag requires a value")
          }
        case pos :: tail => // positional back-compat: sfDir [outDir]
          val next = nPos match {
            case 0 => acc.copy(sfDir = pos)
            case 1 => acc.copy(outDir = Some(pos))
            case _ => throw new IllegalArgumentException(
              s"unexpected positional argument $pos")
          }
          loop(tail, next, nPos + 1)
      }
    loop(args.toList, CliArgs(), 0)
  }

  /** files(filename) → TFRecords under `{outputDir}/data/{dataset=…}`.
    * `decoder` defaults to synthetic because the default listing is the
    * fixture synthesis (no real bytes to decode); for real video input
    * pass `new AutoFrameDecoder()`, as [[main]] does, which routes each
    * file by its content magic.
    */
  def run(files: DataFrame, outputDir: String,
      cfg: Config = Config(),
      decoder: FrameDecoder = new SyntheticFrameDecoder(),
      embedder: Option[Embedder] = None): Unit = {
    val prepared = Ingest.splitByHash(
      Ingest.withLabel(Ingest.filterVideos(files)), 0.70, 0.15, 0.15)
    val frames = Frames.extract(prepared, decoder, cfg.sampleRateMs)
    val embedded = Embed.run(frames,
      embedder.getOrElse(new HashEmbedder(cfg.embeddingDim)),
      cfg.batchSize).toDF()
    val listCols = Seq("timestamp_ms", "logits")
    val samples = cfg.mode match {
      case SingleFrame => Samples.singleFrame(embedded, listCols)
      case FullVideo => Samples.fullVideo(embedded, listCols)
      case CropVideo => Samples.cropVideo(embedded, listCols,
        cfg.sequenceLengthMs, cfg.periodMs)
    }
    TFRecords.write(samples, outputDir, cfg.numShards, cfg.seed)
  }

  /** Data schema of the written samples (without the partition column). */
  def sampleSchema(mode: Mode): StructType = {
    val ctx = Seq(
      StructField("filename", StringType),
      StructField("label", StringType),
      StructField("frame_per_sec", DoubleType),
      StructField("frame_total", DoubleType),
      StructField("timestamp_ms", ArrayType(LongType)),
      StructField("logits", ArrayType(ArrayType(FloatType))))
    mode match {
      case CropVideo => StructType(
        StructField("window_start", LongType) +:
          StructField("window_end", LongType) +: ctx)
      case _ => StructType(ctx)
    }
  }

  /** Fixture-derived file listing: [[queries.Reference.synthFiles]]
    * (each document becomes `videos/<lang>/<source>/doc_<id>.<ext>`)
    * without its doc_id.
    */
  def fixtureListing(spark: SparkSession, sfDir: String): DataFrame =
    queries.Reference.synthFiles(spark, sfDir).select("filename")

  /** Flagship smoke: full pipeline over the sf listing into a temp dir,
    * returning the decoded samples (driver checks rows > 0).
    */
  def smoke(spark: SparkSession, sfDir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_main").toString
    // FullVideo explicitly: the flagship smoke exercises per-video
    // sequence assembly regardless of the CLI default (single_frame)
    run(fixtureListing(spark, sfDir), out, Config(mode = FullVideo))
    TFRecords.read(spark, out, sampleSchema(FullVideo))
  }

  def main(args: Array[String]): Unit = {
    val cli = parseArgs(args)
    val outDir = cli.outDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_out").toString)
    val spark = Sessions.get()
    // --input_dir points at real files (a glob, listed once on the driver
    // as the reference's --input_dir is); otherwise the fixture listing is
    // synthesized from sfDir
    val (listing, decoder) = cli.inputDir match {
      // real files: the glob listing + the content-magic router. The
      // pure-JVM decoders (y4m, MJPEG-AVI, MJPEG-mp4 incl. fragmented,
      // Matroska/WebM, PNG) real-decode what they recognize; any other
      // container or codec goes to the FFmpeg fallback, which without
      // JavaCV fails the job with an IllegalArgumentException naming
      // the file — no frame is ever made up for real input. Bytes ride
      // binaryFile's lazy `content` so executors read through Hadoop
      // (hdfs:// and s3a:// work; no local-path assumption), and
      // content never crosses a shuffle — the decode runs in the scan
      // stage.
      case Some(glob) =>
        (Ingest.listFilesWithContent(spark, glob),
          new AutoFrameDecoder(): FrameDecoder)
      // fixture listing synthesizes names with no bytes behind them —
      // only the synthetic decoder can "decode" those
      case None => (fixtureListing(spark, cli.sfDir),
        new SyntheticFrameDecoder(): FrameDecoder)
    }
    run(listing, outDir, cli.cfg, decoder)
    val n = TFRecords.read(spark, outDir, sampleSchema(cli.cfg.mode)).count()
    println(s"[main] wrote $n samples to $outDir/data")
    spark.stop()
  }
}
