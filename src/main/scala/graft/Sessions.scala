package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every entrypoint (Main, Bench, Verify,
  * Explain, ScaleUp) and the test suite build their session here,
  * so the plans Explain prints and Verify checks are the plans Bench times.
  *
  * Fixed confs: UTC session time zone, legacy parquet nanos-as-long (the
  * fixtures' timestamp encoding), and the GraftExtensions kernels and plan
  * rules. `SPARK_GRAFT_MIN_SPLIT` sets AQE's coalescing floor when given;
  * unset it stays Spark's own 1 MB, which a full-fleet A/B measured faster
  * than a 64 KB floor (213.8 s at 64k vs 180.6 s at 1m over 250 queries,
  * `bench/bench_full_r19_{64k,1m}.json`).
  *
  * Master rule (spark-submit parity, bin/run-pipeline.sh): a submitted run
  * arrives with `spark.master` and its own shuffle sizing in the system
  * properties, and pinning a local master here would silently pull a
  * cluster submission back onto the driver — so master, shuffle
  * partitions and the UI are left alone. Otherwise the session is
  * `local[N]` with N shuffle partitions (`SPARK_GRAFT_SHUFFLE` overrides)
  * and no UI, N being the caller's `cpus`, else `SPARK_GRAFT_CPUS`, else
  * the JVM's available processors.
  */
object Sessions {

  /** The conf map [[get]] applies — a pure function of the environment,
    * the system properties and the caller's two inputs.
    */
  def confs(env: Map[String, String], props: Map[String, String],
      cpus: Option[Int] = None,
      localDir: Option[String] = None): Map[String, String] = {
    val local =
      if (props.contains("spark.master")) Map.empty[String, String]
      else {
        val n = cpus.map(_.toString).orElse(env.get("SPARK_GRAFT_CPUS"))
          .getOrElse(Runtime.getRuntime.availableProcessors.toString)
        Map("spark.master" -> s"local[$n]",
          "spark.sql.shuffle.partitions" ->
            env.getOrElse("SPARK_GRAFT_SHUFFLE", n),
          "spark.ui.enabled" -> "false")
      }
    Map("spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions") ++
      env.get("SPARK_GRAFT_MIN_SPLIT").map(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> _) ++
      local ++ localDir.map("spark.local.dir" -> _)
  }

  /** Build (or reuse) the session. `shmDir` names a `/dev/shm`
    * subdirectory for shuffle files, used when `/dev/shm` is writable:
    * bench shuffles are small, but the host disk has multi-second latency
    * spikes that otherwise leak into per-query wall times.
    */
  def get(cpus: Option[Int] = None,
      shmDir: Option[String] = None): SparkSession = {
    val shm = new java.io.File("/dev/shm")
    val localDir = shmDir.filter(_ => shm.isDirectory && shm.canWrite)
      .map(d => s"$shm/$d")
    val spark = confs(sys.env, sys.props.toMap, cpus, localDir)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietAllowlistedWarnings()
    spark
  }
}
