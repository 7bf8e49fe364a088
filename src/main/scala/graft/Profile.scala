package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Optimization-round profiling tool: runs named queries under the exact
  * Bench session shape and decomposes each into its Spark jobs and stages
  * (wall time, task time, shuffle bytes) via a listener — the empirical
  * half of guide §1.1 with the UI disabled. Dev-only; never run by the
  * driver.
  *
  *   sbt "runMain graft.Profile /root/testdata/sf0.1 dd_lsh_sweep er_report"
  */
object Profile {

  private final case class StageRow(name: String, wallMs: Long,
      taskMs: Long, shufReadMB: Double, shufWriteMB: Double,
      inputMB: Double, tasks: Int)

  private final class L extends SparkListener {
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long)]
    val stageJob = mutable.Map.empty[Int, Int]
    private val jobStart = mutable.Map.empty[Int, Long]
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      jobStart(js.jobId) = js.time
      js.stageIds.foreach(sid => stageJob(sid) = js.jobId)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      jobs += ((je.jobId, je.time - jobStart.getOrElse(je.jobId, je.time)))
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      stages += StageRow(
        f"j${stageJob.getOrElse(si.stageId, -1)}%03d s${si.stageId}%03d " +
          si.name.takeWhile(_ != '\n').take(60),
        (for { s <- si.submissionTime; c <- si.completionTime }
          yield c - s).getOrElse(0L),
        m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6,
        m.inputMetrics.bytesRead / 1e6,
        si.numTasks)
    }
    def reset(): Unit = { stages.clear(); jobs.clear(); jobStart.clear(); stageJob.clear() }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("dd_lsh_sweep")
    val spark = Sessions.get(shmDir = Some("graft-profile"))
    val l = new L
    spark.sparkContext.addSparkListener(l)

    def run(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    names.foreach { n =>
      run(n); run(n) // warmup x2
      Thread.sleep(300)
      l.reset()
      val t = run(n)
      Thread.sleep(300)
      println(f"\n===== $n%s  total=$t%.3f s  jobs=${l.jobs.size}%d =====")
      l.jobs.foreach { case (id, ms) => println(f"  job $id%3d  ${ms / 1e3}%7.3f s") }
      println("  stages (wall desc):")
      l.stages.sortBy(-_.wallMs).take(18).foreach { s =>
        println(f"    ${s.wallMs / 1e3}%7.3f s wall ${s.taskMs / 1e3}%8.3f s task " +
          f"${s.tasks}%4d t in=${s.inputMB}%7.1f sr=${s.shufReadMB}%7.2f " +
          f"sw=${s.shufWriteMB}%7.2f MB  ${s.name}%s")
      }
    }
    spark.stop()
  }
}
