package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts: the block runs under its own job
  * group and a listener counts the job starts that carry that group. The
  * listener bus is asynchronous, so a one-task fence job in a second group
  * runs afterwards; once its start is delivered, every earlier job start
  * has been too.
  */
object JobCount {
  def during[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val fence = s"$group-fence"
    val started = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(`fence`) => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "job count fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(fenced.await(60, TimeUnit.SECONDS),
        "the listener bus never delivered the fence job")
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
