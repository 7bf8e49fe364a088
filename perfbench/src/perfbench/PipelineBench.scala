package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Logs, Main}
import graft.pipeline.{AutoFrameDecoder, ConvEmbedder, Ingest}
import graft.tfrecord.TFRecords
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** The paper's batch job, end to end, on a seeded corpus of real MJPEG
  * containers: `graft.Main.run` lists the files, filters, labels and
  * splits them, decodes a frame every 500 ms through the pure-JVM
  * decoders, embeds each with `ConvEmbedder` at 2048 dims, assembles
  * samples and writes shuffled, sharded SequenceExample TFRecords.
  *
  * `--part end-to-end` times set-up, one cold pass and warm passes for
  * `--seconds`, and reports the end-to-end metrics; `--part cold` times
  * set-up and the cold pass alone, for a second sample of each from a
  * fresh JVM. `--part per-layer` cuts the same lineage after
  * each layer into the `noop` sink, one Spark job group per cut, and
  * reports per-layer metrics. Every pass's output is read back and
  * checked; a failed check makes the run exit with 1.
  *
  *   perfbench.PipelineBench --workload crop_video_sliding --seed 1 \
  *     --seconds 10 --part end-to-end --work <dir> --result <json> \
  *     --spans <json>
  */
object PipelineBench {

  type Metric = (String, Double, String)

  /** `part` is `end-to-end`, `cold` (set-up and the cold pass alone, for
    * a second cold sample from a fresh JVM) or `per-layer`.
    */
  final case class Args(workload: Workload, seed: Long, seconds: Int,
      part: String, work: Path, result: Path, spans: Path)

  def parseArgs(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --flag value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String): String = kv.getOrElse(k,
      throw new IllegalArgumentException(s"--$k is required"))
    val part = need("part")
    require(Set("end-to-end", "cold", "per-layer")(part), s"unknown --part $part")
    Args(Workload.named(need("workload")), need("seed").toLong,
      need("seconds").toInt, part, Paths.get(need("work")),
      Paths.get(need("result")), Paths.get(need("spans")))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def log(msg: String): Unit = System.err.println(
    f"[perfbench] +${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs $msg")

  /** The session `Main.main` builds when nothing was submitted, with its
    * scratch space kept under `localDir`.
    */
  def session(cpus: Int, localDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", localDir.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietAllowlistedWarnings()
    spark
  }

  def clean(dir: Path): Unit = if (Files.exists(dir))
    Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def json(v: Any): String =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(v)

  def main(argv: Array[String]): Unit = {
    val jvmToMainS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = parseArgs(argv)
    val w = a.workload
    val clips = Corpus.generate(a.work.resolve("corpus"), w, a.seed)
    log(s"${w.name} seed ${a.seed}: ${clips.size} clips generated")

    // set-up: JVM start to main, plus the session Main.main builds and the
    // embedder weights; corpus generation, in between, is left out
    val cpus = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = session(cpus, a.work.resolve("spark-local"))
    val weights = a.work.resolve("weights")
    ConvEmbedder.writeWeights(weights.toString, dim = 2048)
    val setupS = jvmToMainS + (System.nanoTime() - t0) / 1e9
    log(f"set-up $setupS%.3f s")

    val run = new Run(spark, w, clips, a.work, weights.toString)
    val metrics =
      try {
        a.part match {
          case "end-to-end" => run.endToEnd(setupS, a.seconds)
          case "cold" => run.cold(setupS)
          case "per-layer" => run.perLayer(a.spans,
            s"${w.name}-seed${a.seed}-${ProcessHandle.current().pid()}")
        }
      } finally spark.stop()
    val correct = run.problems.isEmpty && metrics.nonEmpty
    run.problems.foreach(p => log(s"CHECK FAILED $p"))
    Files.write(a.result, json(Map(
      "correct" -> correct,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)).getBytes("UTF-8"))
    if (!correct) sys.exit(1)
  }
}

/** What one pass's TFRecords hold, read back through `TFRecords.read`:
  * samples, distinct files, (sample, frame) memberships, an
  * order-independent digest of every row, and bytes and files on disk.
  */
final case class Output(records: Long, files: Long, memberships: Long,
    digest: BigDecimal, bytes: Long, shards: Long)

final case class Pass(seconds: Double, counters: Counters, out: Output)

/** One benchmark run over one generated corpus: passes, their output
  * checks, and the metrics of either kind.
  */
final class Run(spark: SparkSession, w: Workload, clips: Seq[Clip],
    work: Path, weights: String) {

  import PipelineBench.{Metric, clean, log, median}

  private val PrefixRounds = 2
  private val FullRounds = 4
  private val WarmupPasses = 3

  private val cfg = Main.Config(mode = w.mode)
  private val cpus = spark.sparkContext.defaultParallelism
  private val glob = s"${work.resolve("corpus")}/*/clips/*"
  private val clipFrames = clips.map(_.sampledFrames(cfg.sampleRateMs))
  private val frames = clipFrames.sum
  private val (wantSamples, wantMemberships) = expected(clipFrames)
  private val decoder = new AutoFrameDecoder(new RefusingDecoder)
  private val embedder = new ConvEmbedder(weights, 2048)
  private val probeFailures0 = AutoFrameDecoder.probeFailures.sum()
  private val listener = new GroupListener
  spark.sparkContext.addSparkListener(listener)

  val problems = mutable.ArrayBuffer.empty[String]
  var attempted, failed = 0L
  private var digest: Option[BigDecimal] = None
  private var passNo = 0

  /** Samples and (sample, frame) memberships `cfg.mode` makes from clips
    * emitting `perClip` frames: one per frame, one per clip, or one per
    * sliding window that `Samples.cropVideo` keeps (it ends at the
    * sequence length, or it lies inside the video).
    */
  private def expected(perClip: Seq[Int]): (Long, Long) = cfg.mode match {
    case Main.SingleFrame => (perClip.sum.toLong, perClip.sum.toLong)
    case Main.FullVideo => (perClip.size.toLong, perClip.sum.toLong)
    case Main.CropVideo =>
      val (len, period, rate) =
        (cfg.sequenceLengthMs, cfg.periodMs, cfg.sampleRateMs)
      val perWindow = perClip.map { n =>
        (0 until n).flatMap { i =>
          val ts = i * rate
          (Math.floorDiv(ts - len, period) + 1 to Math.floorDiv(ts, period))
            .map(_ * period)
        }.groupBy(identity).filter { case (start, _) =>
          start == 0 || (start >= 0 && start + len <= n * rate)
        }.values.map(_.size.toLong)
      }
      (perWindow.map(_.size.toLong).sum, perWindow.map(_.sum).sum)
  }

  private def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  private def readBack(out: Path): Output = {
    val df = TFRecords.read(spark, out.toString, Main.sampleSchema(w.mode))
    val r = df.agg(count(lit(1)), countDistinct(col("filename")),
      sum(size(col("timestamp_ms"))),
      sum(xxhash64(df.columns.toIndexedSeq.map(col): _*)
        .cast("decimal(38,0)"))).head()
    val shards = Files.walk(out).iterator().asScala.filter { p =>
      val name = p.getFileName.toString
      Files.isRegularFile(p) && !name.startsWith(".") && !name.startsWith("_")
    }.toSeq
    Output(r.getLong(0), r.getLong(1), r.getLong(2),
      BigDecimal(r.getDecimal(3)), shards.map(Files.size).sum, shards.size)
  }

  private def check(what: String, o: Output): Unit = {
    def expect(name: String, got: Any, want: Any): Unit =
      if (got != want) problems += s"$what: $name $got, expected $want"
    expect("samples", o.records, wantSamples)
    expect("files with a sample", o.files, clips.size.toLong)
    expect("sample frames", o.memberships, wantMemberships)
    expect("head-probe failures", AutoFrameDecoder.probeFailures.sum(),
      probeFailures0)
    digest match {
      case None => digest = Some(o.digest)
      case Some(d) => expect("digest", o.digest, d)
    }
  }

  /** Times `body` as one pass writing to `out`, then checks its output.
    * A pass that throws counts every kept file as failed.
    */
  private def pass(what: String, out: Path)(body: => Unit): Option[Pass] = {
    System.gc()
    drain()
    val before = listener.totals
    attempted += clips.size
    try {
      val t0 = System.nanoTime()
      body
      val secs = (System.nanoTime() - t0) / 1e9
      drain()
      // counted before the read-back, whose jobs are not the pipeline's
      val counters = listener.totals.minus(before)
      val o = readBack(out)
      check(what, o)
      Some(Pass(secs, counters, o))
    } catch {
      case NonFatal(e) =>
        failed += clips.size
        problems += s"$what: ${e.getClass.getName}: ${e.getMessage}"
        None
    }
  }

  private def mainPass(): Option[Pass] = {
    passNo += 1
    val out = work.resolve(s"out-$passNo")
    val p = pass(s"pass $passNo", out) {
      Main.run(Ingest.listFilesWithContent(spark, glob), out.toString, cfg,
        decoder, Some(embedder))
    }
    clean(out)
    p
  }

  def cold(setupS: Double): Seq[Metric] = mainPass().toSeq.flatMap(p =>
    Seq(("setup_s", setupS, "s"), ("first_pass_s", p.seconds, "s")))

  def endToEnd(setupS: Double, seconds: Int): Seq[Metric] = {
    val first = mainPass()
    log(f"first pass ${first.fold(Double.NaN)(_.seconds)}%.3f s")
    // untimed passes, so that the timed ones start from compiled code
    (1 to WarmupPasses).foreach(_ => mainPass())
    val warm = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (problems.isEmpty &&
        (warm.isEmpty || System.nanoTime() - t0 < seconds * 1e9))
      warm ++= mainPass()
    if (first.isEmpty || warm.isEmpty) return Nil
    val runS = median(warm.map(_.seconds).toSeq)
    log(s"${warm.size} warm passes of ${warm.head.out.records} samples " +
      s"from $frames frames: " +
      warm.map(p => f"${p.seconds}%.3f").mkString(" ") + " s")
    Seq(
      ("setup_s", setupS, "s"),
      ("first_pass_s", first.get.seconds, "s"),
      ("run_s", runS, "s"),
      ("frames_per_s", frames / runS, "1/s"),
      ("shuffle_mb",
        median(warm.map(_.counters.shuffleWriteBytes / 1e6).toSeq), "MB"),
      ("out_mb", median(warm.map(_.out.bytes / 1e6).toSeq), "MB"),
      ("files_ok_frac", 1 - failed.toDouble / attempted, "ratio"))
  }

  def perLayer(spansFile: Path, runId: String): Seq[Metric] = {
    val layers = Lineage.Layers
    val tracer = new Tracer(runId)
    val lineage = new Lineage(spark, glob, cfg, new CountingDecoder(decoder),
      new CountingEmbedder(new ConvEmbedder(weights, 2048)))
    val out = work.resolve("out-traced")
    val sc = spark.sparkContext
    def grouped[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }
    if (tracer.span("first-pass")(mainPass())._1.isEmpty) return Nil
    (1 to WarmupPasses).foreach(_ => mainPass())

    // prefix cuts, one job group per (layer, round); odd rounds run in
    // reverse, so that drift across a round cancels in the median
    val cutS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val cutRows = mutable.Map.empty[String, Long]
    val tallies = mutable.Map.empty[String, Map[String, Long]]
    var cutOut: Option[Output] = None
    tracer.span("prefix-cuts") {
      for (r <- 0 until PrefixRounds;
          layer <- if (r % 2 == 0) layers else layers.reverse) {
        System.gc()
        Tally.reset()
        drain()
        val (rows, s) = tracer.span(s"cut:$layer") {
          grouped(s"$layer#$r")(lineage.cut(layer, out))
        }
        drain()
        cutS.getOrElseUpdate(layer, mutable.ArrayBuffer.empty) += s.seconds
        cutRows(layer) = rows
        tallies(layer) = Tally.snapshot()
        if (layer == "write") {
          val o = readBack(out)
          check(s"prefix cut round $r", o)
          cutOut = Some(o)
          clean(out)
        }
      }
    }
    log("prefix cuts " + layers.map(l =>
      f"$l ${median(cutS(l).toSeq)}%.3f").mkString(", ") + " s")
    if (tallies("decode")("frames") != frames)
      problems += s"decode cut: ${tallies("decode")("frames")} frames, " +
        s"expected $frames"

    // traced full lineage against untraced Main.run, in pairs whose order
    // alternates (UT, TU, ...), so that drift cancels in the overhead
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq
    val traced = mutable.ArrayBuffer.empty[(Pass, Double)]
    val untraced = mutable.ArrayBuffer.empty[Pass]
    var encoderRows = Seq.empty[InternalRow]
    def untracedPass(): Unit =
      untraced ++= tracer.span("untraced-pass")(mainPass())._1
    for (r <- 0 until FullRounds) {
      if (r % 2 == 0) untracedPass()
      heap.foreach(_.resetPeakUsage())
      val p = tracer.span("traced-pass") {
        pass(s"traced pass $r", out)(grouped(s"full#$r")(
          lineage.cut("write", out)))
      }._1
      val peakMb = heap.map(_.getPeakUsage.getUsed).sum / 1e6
      traced ++= p.map(_ -> peakMb)
      if (p.nonEmpty && encoderRows.isEmpty) {
        val schema = Main.sampleSchema(w.mode)
        encoderRows = TFRecords.read(spark, out.toString, schema)
          .select(schema.fieldNames.toIndexedSeq.map(col): _*).limit(32)
          .queryExecution.toRdd.map(_.copy()).collect().toSeq
      }
      clean(out)
      if (r % 2 == 1) untracedPass()
    }
    val probes = tracer.span("probes") {
      Probe.all(clips, cfg, weights, encoderRows)
    }._1
    Files.createDirectories(spansFile.getParent)
    Files.write(spansFile, PipelineBench.json(tracer.all.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))).getBytes("UTF-8"))
    if (traced.isEmpty || untraced.isEmpty || cutOut.isEmpty) return Nil

    val t = cutS.map { case (k, v) => k -> median(v.toSeq) }.toMap
    val g = layers.map(l => l -> listener.group(s"$l#${PrefixRounds - 1}"))
      .toMap
    def before(l: String): Option[String] = Lineage.Before.get(l)
    def self(l: String): Double = t(l) - before(l).fold(0.0)(t)
    def selfC(l: String): Counters =
      before(l).fold(g(l))(b => g(l).minus(g(b)))
    val tracedS = median(traced.map(_._1.seconds).toSeq)
    val full = traced.minBy(p => math.abs(p._1.seconds - tracedS))._1
    val fc = full.counters
    val o = cutOut.get
    val decoded = tallies("decode")("frames").toDouble
    val emb = tallies("embed")
    Seq(
      ("ingest.s", self("ingest"), "s"),
      ("ingest.files_listed", g("ingest").inRecords.toDouble, "count"),
      ("ingest.files_kept", cutRows("ingest").toDouble, "count"),
      ("ingest.tasks", g("ingest").tasks.toDouble, "count"),
      ("read.s", self("read"), "s"),
      ("read.mb", selfC("read").inBytes / 1e6, "MB"),
      ("read.useful_frac",
        clips.map(c => Files.size(c.path)).sum.toDouble / g("read").inBytes,
        "ratio"),
      ("parse.s", self("parse"), "s"),
      ("parse.files", tallies("parse")("metaFiles").toDouble, "count"),
      ("decode.s", self("decode"), "s"),
      ("decode.frames", decoded, "count"),
      ("decode.pixel_mb", tallies("decode")("pixelFloats") * 4 / 1e6, "MB"),
      ("embed.s", self("embed"), "s"),
      ("embed.frames", emb("embedFrames").toDouble, "count"),
      ("embed.batches", emb("embedBatches").toDouble, "count"),
      ("embed.fill_frac", emb("embedFrames").toDouble /
        emb("embedBatches") / cfg.batchSize, "ratio"),
      ("assemble.s", self("assemble"), "s"),
      ("assemble.samples", cutRows("assemble").toDouble, "count"),
      ("assemble.shuffle_mb", selfC("assemble").shuffleWriteBytes / 1e6, "MB"),
      ("assemble.frame_copies", o.memberships / decoded, "ratio"),
      ("assemble.spill_mb", selfC("assemble").spillBytes / 1e6, "MB"),
      ("assemble.fetch_wait_s", selfC("assemble").fetchWaitMs / 1e3, "s"),
      ("write.s", self("write"), "s"),
      ("write.records", o.records.toDouble, "count"),
      ("write.files", o.shards.toDouble, "count"),
      ("write.mb", o.bytes / 1e6, "MB"),
      ("write.shuffle_mb", selfC("write").shuffleWriteBytes / 1e6, "MB"),
      ("write.fetch_wait_s", selfC("write").fetchWaitMs / 1e3, "s"),
      ("spark.jobs", fc.jobs.toDouble, "count"),
      ("spark.stages", fc.stages.toDouble, "count"),
      ("spark.tasks", fc.tasks.toDouble, "count"),
      ("spark.task_s", fc.runMs / 1e3, "s"),
      ("spark.cpu_s", fc.cpuNs / 1e9, "s"),
      ("spark.gc_s", fc.gcMs / 1e3, "s"),
      ("spark.task_failures", fc.taskFailures.toDouble, "count"),
      ("spark.peak_exec_mb", fc.peakExecBytes / 1e6, "MB"),
      ("spark.core_idle_frac",
        1 - fc.runMs / 1e3 / (full.seconds * cpus), "ratio"),
      ("jvm.heap_peak_mb", median(traced.map(_._2).toSeq), "MB"),
      ("trace.overhead_frac",
        tracedS / median(untraced.map(_.seconds).toSeq) - 1, "ratio"),
      ("trace.residual_s", tracedS - Lineage.Chain.map(self).sum, "s")) ++
      probes
  }
}
