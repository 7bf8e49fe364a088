package perfbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import graft.pipeline.{DecodedFrame, Embedder, FrameDecoder}
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Task-metric totals for one Spark job group (or for the whole run). */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskFailures: Long = 0, runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    inBytes: Long = 0, inRecords: Long = 0, shuffleWriteBytes: Long = 0,
    fetchWaitMs: Long = 0, spillBytes: Long = 0, peakExecBytes: Long = 0) {

  /** Counts added between `earlier` and this snapshot; a peak is kept. */
  def minus(earlier: Counters): Counters = Counters(jobs - earlier.jobs,
    stages - earlier.stages, tasks - earlier.tasks,
    taskFailures - earlier.taskFailures, runMs - earlier.runMs,
    cpuNs - earlier.cpuNs, gcMs - earlier.gcMs, inBytes - earlier.inBytes,
    inRecords - earlier.inRecords,
    shuffleWriteBytes - earlier.shuffleWriteBytes,
    fetchWaitMs - earlier.fetchWaitMs, spillBytes - earlier.spillBytes,
    peakExecBytes)
}

/** Attributes task metrics to the job group a job was submitted under
  * (`SparkContext.setJobGroup`), and keeps a run-wide total.
  */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private var total = Counters()

  def group(name: String): Counters =
    synchronized(byGroup.getOrElse(name, Counters()))

  def totals: Counters = synchronized(total)

  private def add(g: String)(f: Counters => Counters): Unit = {
    byGroup(g) = f(byGroup.getOrElse(g, Counters()))
    total = f(total)
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val g = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    js.stageInfos.foreach(si => stageGroup(si.stageId) = g)
    add(g)(c => c.copy(jobs = c.jobs + 1))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    synchronized {
      add(stageGroup.getOrElse(sc.stageInfo.stageId, ""))(c =>
        c.copy(stages = c.stages + 1))
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val m = te.taskMetrics
    val failed = if (te.reason == Success) 0 else 1
    add(stageGroup.getOrElse(te.stageId, ""))(c =>
      if (m == null) c.copy(tasks = c.tasks + 1,
        taskFailures = c.taskFailures + failed)
      else c.copy(tasks = c.tasks + 1,
        taskFailures = c.taskFailures + failed,
        runMs = c.runMs + m.executorRunTime,
        cpuNs = c.cpuNs + m.executorCpuTime,
        gcMs = c.gcMs + m.jvmGCTime,
        inBytes = c.inBytes + m.inputMetrics.bytesRead,
        inRecords = c.inRecords + m.inputMetrics.recordsRead,
        shuffleWriteBytes =
          c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        fetchWaitMs = c.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
        spillBytes = c.spillBytes + m.diskBytesSpilled,
        peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)))
  }
}

/** One timed interval; spans of one benchmark run share `run`. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, written out once when the run ends. */
final class Tracer(val run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List(-1)

  def span[T](name: String)(body: => T): (T, Span) = {
    val id = spans.size
    spans += null
    val parent = open.head
    open = id :: open
    val t0 = System.nanoTime()
    try {
      val out = body
      val s = Span(id, name, parent, run, t0, System.nanoTime())
      spans(id) = s
      (out, s)
    } finally {
      if (spans(id) == null)
        spans(id) = Span(id, name + "!failed", parent, run, t0,
          System.nanoTime())
      open = open.tail
    }
  }

  def all: Seq[Span] = spans.toSeq
}

/** Work counted at the decode and embed calls of the traced lineage. One
  * JVM-wide tally, which is exact in the local-mode session the benchmark
  * runs (every task runs in the one JVM).
  */
object Tally {
  val metaFiles = new LongAdder
  val frames = new LongAdder
  val pixelFloats = new LongAdder
  val embedBatches = new LongAdder
  val embedFrames = new LongAdder

  private def named = Seq("metaFiles" -> metaFiles,
    "frames" -> frames,
    "pixelFloats" -> pixelFloats, "embedBatches" -> embedBatches,
    "embedFrames" -> embedFrames)

  def reset(): Unit = named.foreach(_._2.reset())

  def snapshot(): Map[String, Long] =
    named.map { case (k, v) => k -> v.sum() }.toMap
}

final class CountingDecoder(inner: FrameDecoder) extends FrameDecoder {
  override def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] = {
    inner.decode(filename, content, sampleRateMs).map { f =>
      Tally.frames.increment()
      Tally.pixelFloats.add(f.image.length.toLong)
      f
    }
  }

  override def decodeMeta(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] = {
    Tally.metaFiles.increment()
    inner.decodeMeta(filename, content, sampleRateMs)
  }
}

/** Counts batches and frames; its own cache key keeps `Embed.run`'s
  * per-JVM singleton from handing back the uncounted embedder.
  */
final class CountingEmbedder(inner: Embedder) extends Embedder {
  override def dim: Int = inner.dim
  override def cacheKey: String = "counting#" + inner.cacheKey
  override def setup(): Unit = inner.setup()

  override def embed(images: Seq[Array[Float]]): Seq[Array[Float]] =
    inner.embed(images)

  override def embed(images: Seq[Array[Float]], height: Int,
      width: Int): Seq[Array[Float]] = {
    Tally.embedBatches.increment()
    Tally.embedFrames.add(images.size.toLong)
    inner.embed(images, height, width)
  }
}

/** The fallback `AutoFrameDecoder` would hand an unrecognised file to: it
  * refuses, so synthetic pixels can never enter a measurement.
  */
final class RefusingDecoder extends FrameDecoder {
  override def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] =
    throw new IllegalStateException(
      s"$filename: no pure-JVM decoder recognised this file")
}
