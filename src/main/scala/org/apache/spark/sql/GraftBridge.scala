package org.apache.spark.sql

import scala.collection.mutable

import org.apache.hadoop.fs.{BlockLocation, FileStatus, LocatedFileStatus, Path}
import org.apache.hadoop.mapred.{FileInputFormat, JobConf}

import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.util.HadoopFSUtils

/** Bridge into the `private[sql]` seams a whole-operator extension
  * needs: constructing a DataFrame from a custom LogicalPlan
  * (`Dataset.ofRows`), a Column from a resolved Attribute
  * (`ExpressionUtils.column`), re-claiming a checkpointed frame's
  * hash partitioning ([[reclaimHashPartitioning]]), and a `binaryFile`
  * scan over a glob's own statuses ([[binaryFiles]]). The standard
  * OSS-extension technique (Delta Lake, GraphFrames, Iceberg all ship
  * the same shim) — kept to exactly these entry points so the engine's
  * dependence on non-public surface is auditable in one file.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Re-assert `hashpartitioning(cols, n)` on a CHECKPOINTED frame.
    *
    * `df.repartition(n, col).localCheckpoint()` physically lays rows
    * out hash-partitioned and the checkpoint preserves that layout
    * block-for-block — but under AQE the checkpoint captures the
    * partitioning from the not-yet-finalized AdaptiveSparkPlanExec, so
    * the resulting LogicalRDD reports UnknownPartitioning and every
    * downstream join re-exchanges a frame that is already correctly
    * placed (measured: the iterative-components loop re-shuffled its
    * round-invariant edge frame every round). This rebuilds the
    * LogicalRDD with the partitioning the caller just MATERIALIZED —
    * the caller must pass exactly the repartition's own (cols, n);
    * claiming a layout that wasn't produced would silently mis-join.
    * Returns `df` unchanged when the plan is not a checkpointed RDD or
    * a named column is missing (never claims what it cannot see).
    */
  def reclaimHashPartitioning(df: DataFrame, cols: Seq[String],
      n: Int): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.queryExecution.logical match {
      case lr: execution.LogicalRDD =>
        val attrs = cols.map(c => lr.output.find(_.name == c))
        if (attrs.exists(_.isEmpty)) df
        else {
          val part = catalyst.plans.physical.HashPartitioning(
            attrs.map(_.get), n)
          // Forward the checkpoint's statistics and constraints instead
          // of dropping them (r16 ADVICE): with (None, None) the rebuilt
          // frame fell back to defaultSizeInBytes and CBO's join-strategy
          // choices could differ from the un-reclaimed frame. The curried
          // originStats/originConstraints have no public accessors, but
          // `stats`/`constraints` ARE them when set — localCheckpoint
          // always passes Some(optimizedPlan.stats)/Some(constraints) —
          // and when origin* were None the effective values equal what
          // the unmodified frame reports, so forwarding them changes
          // only outputPartitioning either way. Output attributes are
          // unchanged, so the constraint set needs no remapping.
          classic.Dataset.ofRows(ds.sparkSession.asInstanceOf[classic.SparkSession],
            lr.copy(outputPartitioning = part)(
              ds.sparkSession.asInstanceOf[classic.SparkSession],
              Some(lr.stats), Some(lr.constraints)))
        }
      case _ => df
    }
  }

  /** The rows of `spark.read.format("binaryFile").load(pathString)`, with
    * each file the glob matched listed once, on the driver.
    *
    * `load` runs `globStatus`, keeps only the matched paths and hands them
    * to an [[InMemoryFileIndex]] as root paths, which lists every root
    * again: serially below `parallelPartitionDiscovery.threshold` (32)
    * roots, above it in an eager Spark job with one task per root, even
    * when the root is a file whose status the glob already returned. Here
    * the index is the same, but its [[FileStatusCache]] answers each
    * matched FILE with that status, converted the way Spark's own listing
    * converts a leaf (block locations attached unless
    * `spark.sql.sources.ignoreDataLocality`; a hidden or path-filtered
    * name lists as nothing). Matched DIRECTORIES are left to the index,
    * so they are still listed by Spark, distributed above the threshold.
    * Partition inference, split packing, the lazy `content` column and
    * `refresh()` (which empties the cache) behave as under `load`.
    *
    * A glob is never probed for a streaming sink's `_spark_metadata` log
    * (`load` stats the literal glob string for that and logs a
    * FileNotFoundException trace); a plain directory still is, and one
    * that holds the log reads through `load` and the log, as Spark's
    * `FileStreamSink.hasMetadata` rule requires. Nothing matched raises
    * `load`'s `PATH_NOT_FOUND` error.
    *
    * Attaching block locations costs one `getFileBlockLocations` call per
    * matched file on the driver: no I/O on the local and S3A file systems,
    * one namenode call on HDFS, where Spark's listing makes the same call
    * inside its listing tasks.
    */
  def binaryFiles(spark: SparkSession, pathString: String): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val hadoopConf = session.sessionState.newHadoopConf()
    val raw = new Path(pathString)
    val fs = raw.getFileSystem(hadoopConf)
    val path = raw.makeQualified(fs.getUri, fs.getWorkingDirectory)
    val matched = Option(fs.globStatus(path)).getOrElse(Array.empty[FileStatus])
    if (matched.isEmpty)
      throw QueryCompilationErrors.dataPathNotExistError(path.toString)
    if (!SparkHadoopUtil.get.isGlobPath(path) && matched.head.isDirectory &&
        FileStreamSink.hasMetadata(Seq(pathString), hadoopConf, conf))
      return spark.read.format("binaryFile").load(pathString)

    val filter = Option(FileInputFormat.getInputPathFilter(new JobConf(hadoopConf)))
    def listed(st: FileStatus, p: Path): Array[FileStatus] =
      if (HadoopFSUtils.shouldFilterOutPathName(p.getName) ||
          filter.exists(!_.accept(p))) Array.empty
      else if (conf.ignoreDataLocality) { st.setPath(p); Array(st) }
      else {
        val blocks = fs.getFileBlockLocations(st, 0, st.getLen).map { b =>
          if (b.getClass == classOf[BlockLocation]) b
          else new BlockLocation(b.getNames, b.getHosts, b.getOffset, b.getLength)
        }
        val located = new LocatedFileStatus(st.getLen, false, st.getReplication,
          st.getBlockSize, st.getModificationTime, 0, null, null, null, null, p,
          st.hasAcl, st.isEncrypted, st.isErasureCoded, blocks)
        if (st.isSymlink) located.setSymlink(st.getSymlink)
        Array(located)
      }
    val leaves = mutable.HashMap.empty[Path, Array[FileStatus]]
    val roots = matched.toSeq.map { st =>
      val p = st.getPath.makeQualified(fs.getUri, fs.getWorkingDirectory)
      if (!st.isDirectory) leaves(p) = listed(st, p)
      p
    }
    val cache = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        leaves.synchronized(leaves.get(p))
      override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit =
        leaves.synchronized(leaves(p) = files)
      override def invalidateAll(): Unit = leaves.synchronized(leaves.clear())
    }
    val index = new InMemoryFileIndex(session, roots, Map.empty, None, cache)
    session.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      BinaryFileFormat.schema.asNullable, None, new BinaryFileFormat,
      Map.empty)(session))
  }
}
