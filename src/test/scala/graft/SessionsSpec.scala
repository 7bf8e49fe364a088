package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's conf map as a pure function of env and system
  * properties — no second SparkContext is started.
  */
class SessionsSpec extends AnyFunSuite {

  private val fixed = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions")

  test("a local run gets the fixed confs and shuffle.partitions = N") {
    val n = Runtime.getRuntime.availableProcessors
    assert(Sessions.confs(Map.empty, Map.empty) === fixed ++ Map(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.ui.enabled" -> "false"))
    val c = Sessions.confs(Map("SPARK_GRAFT_CPUS" -> "3"), Map.empty)
    assert(c("spark.master") === "local[3]")
    assert(c("spark.sql.shuffle.partitions") === "3")
  }

  test("caller cores beat the env; shuffle width, AQE floor and local dir on request") {
    val env = Map("SPARK_GRAFT_CPUS" -> "3")
    val t = Sessions.confs(env, Map.empty, cpus = Some(2))
    assert(t("spark.master") === "local[2]")
    assert(t("spark.sql.shuffle.partitions") === "2")
    assert(Sessions.confs(env + ("SPARK_GRAFT_SHUFFLE" -> "8"), Map.empty)
      .apply("spark.sql.shuffle.partitions") === "8")
    // the AQE floor and the local dir appear only when asked for
    val c = Sessions.confs(env, Map.empty)
    assert(!c.contains("spark.sql.adaptive.coalescePartitions.minPartitionSize"))
    assert(!c.contains("spark.local.dir"))
    val d = Sessions.confs(env + ("SPARK_GRAFT_MIN_SPLIT" -> "64k"),
      Map.empty, localDir = Some("/dev/shm/x"))
    assert(d("spark.sql.adaptive.coalescePartitions.minPartitionSize") === "64k")
    assert(d("spark.local.dir") === "/dev/shm/x")
  }

  test("a submitted run keeps its master and partitions as they were") {
    val props = Map("spark.master" -> "yarn",
      "spark.sql.shuffle.partitions" -> "2000")
    val env = Map("SPARK_GRAFT_CPUS" -> "3", "SPARK_GRAFT_SHUFFLE" -> "8")
    val c = Sessions.confs(env, props, cpus = Some(2))
    // fixed confs only: master, partitions and the UI are the submitter's
    assert(c === fixed)
  }
}
