package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Counts the Spark work a block does: its jobs, and per completed stage
  * the tasks, executor run and CPU time, shuffle, spill and input bytes.
  *
  * The block runs under its own job group (jobs started from other
  * threads on its behalf — AQE stages, broadcasts, subqueries — inherit
  * it), and a listener keeps the events of that group's jobs. The
  * listener bus is asynchronous, so a one-task fence job in a second
  * group runs after the block; once the fence's start is delivered,
  * every earlier event has been too, and the counts are exact.
  *
  *   val (df, c) = Counters.during(spark)(query.write.format("noop").save())
  */
object Counters {

  /** One completed stage attempt of a counted job. */
  final case class Stage(job: Int, id: Int, name: String, wallMs: Long,
      tasks: Int, runMs: Long, cpuNs: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long)

  final case class Counts(jobs: Int, stageRows: Seq[Stage]) {
    def stages: Int = stageRows.size
    def tasks: Long = stageRows.map(_.tasks.toLong).sum
    def runMs: Long = stageRows.map(_.runMs).sum
    def cpuMs: Long = stageRows.map(_.cpuNs).sum / 1000000L
    def shuffleReadBytes: Long = stageRows.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stageRows.map(_.shuffleWriteBytes).sum
    /** Bytes spilled to disk. */
    def spillBytes: Long = stageRows.map(_.spillBytes).sum
    def inputBytes: Long = stageRows.map(_.inputBytes).sum

    /** The totals as (key, value) pairs, in bench_out.json's order. */
    def fields: Seq[(String, Long)] = Seq("jobs" -> jobs.toLong,
      "stages" -> stages.toLong, "tasks" -> tasks, "run_ms" -> runMs,
      "cpu_ms" -> cpuMs, "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes)

    /** The 18 longest stages by wall time, one line each. */
    def table: String = stageRows.sortBy(-_.wallMs).take(18)
      .map { s =>
        f"    ${s.wallMs / 1e3}%7.3f s wall ${s.runMs / 1e3}%8.3f s task " +
          f"${s.tasks}%4d t in=${s.inputBytes / 1e6}%7.1f " +
          f"sr=${s.shuffleReadBytes / 1e6}%7.2f " +
          f"sw=${s.shuffleWriteBytes / 1e6}%7.2f MB  " +
          f"j${s.job}%03d s${s.id}%03d ${s.name}%s"
      }.mkString("\n")
  }

  private val GroupKey = "spark.jobGroup.id"

  def during[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val group = s"counters-${java.util.UUID.randomUUID}"
    val fence = s"$group-fence"
    val fenced = new CountDownLatch(1)
    // written on the listener bus thread only; read after `fenced`
    val stageJob = mutable.Map.empty[Int, Int]
    val stages = mutable.ArrayBuffer.empty[Stage]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(GroupKey)) match {
          case Some(`group`) =>
            jobs += 1
            e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
          case Some(`fence`) => fenced.countDown()
          case _ =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        stageJob.get(si.stageId).foreach { job =>
          val m = Option(si.taskMetrics)
          def metric(f: org.apache.spark.executor.TaskMetrics => Long) =
            m.fold(0L)(f)
          stages += Stage(job, si.stageId,
            si.name.takeWhile(_ != '\n').take(60),
            (for { s <- si.submissionTime; c <- si.completionTime }
              yield c - s).getOrElse(0L),
            si.numTasks, metric(_.executorRunTime),
            metric(_.executorCpuTime),
            metric(_.shuffleReadMetrics.totalBytesRead),
            metric(_.shuffleWriteMetrics.bytesWritten),
            metric(_.diskBytesSpilled), metric(_.inputMetrics.bytesRead))
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "counters fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(fenced.await(60, TimeUnit.SECONDS),
        "the listener bus never delivered the fence job")
      (out, Counts(jobs, stages.toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
