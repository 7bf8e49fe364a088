package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata front-end of the pipeline — SURVEY.md §2 O1-O6.
  *
  * Everything here is a narrow projection/filter over the `filename` string,
  * deliberately kept ahead of any byte-fetching stage so that at 100 TB the
  * extension filter and split run over a file *listing*, never over file
  * contents (the reference gets this right too: preprocess.py:320-323 runs
  * before any video byte is fetched).
  */
object Ingest {

  /** O1 — file listing as a DataFrame: the reference's driver-side
    * glob (preprocess.py:373-377), run once. `binaryFile`'s own `load`
    * would glob on the driver and then list every matched file again, in
    * a Spark job with one task per file once more than 32 paths match;
    * [[org.apache.spark.sql.GraftBridge.binaryFiles]] keeps the glob's
    * statuses instead, so listing starts no Spark job. Directories the
    * glob matches are still listed by Spark, distributed when there are
    * many.
    */
  def listFiles(spark: SparkSession, globPath: String): DataFrame =
    GraftBridge.binaryFiles(spark, globPath)
      .select(col("path").as("filename"))

  /** [[listFiles]] keeping binaryFile's `content` column for a decode
    * stage that needs the bytes (FFmpeg has no hdfs/s3a protocol
    * handler, so reopening the URI on the executor only works for local
    * files — the byte channel works everywhere). `content` is read
    * LAZILY: the filter/label/split stages project only `filename`, so
    * the bytes of filtered-out files are never fetched, and each
    * surviving file is read exactly once, at the decode flatMap.
    */
  def listFilesWithContent(spark: SparkSession, globPath: String): DataFrame =
    GraftBridge.binaryFiles(spark, globPath)
      .select(col("path").as("filename"), col("content"))

  /** O4 — keep only supported video containers
    * (reference: preprocess.py:320-323, split on '.' + last element).
    */
  val videoExtensions: Seq[String] = Seq("mkv", "avi", "mp4")

  def filterVideos(files: DataFrame): DataFrame =
    files.filter(
      element_at(split(col("filename"), "\\."), -1).isin(videoExtensions: _*))

  /** O5 — label = 3rd-from-last path segment
    * (reference: preprocess.py:268-274). Paths with fewer than 3 segments
    * get a null label instead of an ANSI out-of-bounds error (the reference
    * would raise IndexError there; null matches DuckDB's list[-3] semantics
    * and lets a 100 TB listing with a few malformed paths keep running).
    */
  def withLabel(files: DataFrame): DataFrame = {
    val segs = split(col("filename"), "/")
    files.withColumn("label",
      when(size(segs) >= 3, element_at(segs, -3)))
  }

  /** O6 — three-way train/val/test split, md5-bucketed on the filename:
    * single-pass, shuffle-free and fully deterministic across engines
    * and re-runs — the right choice at 100 TB, where split membership
    * must survive recomputation of a lost partition (a `rand()` column
    * is not recomputation-stable unless checkpointed). The reference's
    * unseeded Bernoulli split (preprocess.py:36-70) gives the same
    * ratios without that property (SURVEY §7).
    */
  def splitByHash(files: DataFrame, train: Double, validation: Double,
      test: Double, keyCol: String = "filename"): DataFrame = {
    require(math.abs(train + validation + test - 1.0) < 1e-9,
      s"ratios must sum to 1.0, got ${train + validation + test}")
    files.withColumn("dataset", hashBucket(col(keyCol), train, validation))
  }

  /** First two hex chars of md5 = a uniform bucket in [0, 256); thresholds
    * are hex-string comparisons so the same expression is one line of
    * portable SQL. 256 buckets quantize the ratios to <0.4% error.
    *
    * The threshold encodes the LAST INCLUDED bucket (`round(p*256) - 1`,
    * compared with `<=`): a cumulative ratio of 1.0 then maps to "ff"
    * rather than the 3-char "100", which would compare below every 2-char
    * bucket and silently misroute all rows; a ratio of 0 maps to the empty
    * string, below every bucket, i.e. an empty category.
    */
  private def hex2(p: Double): String = {
    val last = math.min(255L, math.round(p * 256) - 1)
    if (last < 0) "" else f"$last%02x"
  }

  private[graft] def hashBucket(key: Column, train: Double,
      validation: Double): Column = {
    val b = substring(md5(key.cast("binary")), 1, 2)
    when(b <= lit(hex2(train)), "train")
      .when(b <= lit(hex2(train + validation)), "val")
      .otherwise("test")
  }

  /** DuckDB mirror of [[hashBucket]] + thresholds, for oracle SQL. */
  private[graft] def hashBucketSql(keyExpr: String, train: Double,
      validation: Double): String =
    s"""CASE WHEN substr(md5($keyExpr), 1, 2) <= '${hex2(train)}' THEN 'train'
              WHEN substr(md5($keyExpr), 1, 2) <= '${hex2(train + validation)}' THEN 'val'
              ELSE 'test' END"""

  private val uriSchemeRe = "^([a-zA-Z][a-zA-Z0-9+.-]*)://.*"
  private val uriBucketRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]*).*"
  private val uriKeyRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*/?(.*)$"

  /** O7 plumbing — the reference's storage-URI split: `urllib.parse
    * .urlparse(element["filename"])` then `u.netloc` (bucket) and
    * `u.path[1:]` (object key) to address the video bytes
    * (preprocess.py:163-165). Three codegen `regexp_extract` columns over
    * the listing — like every other Ingest stage it runs on filenames
    * only, never content, so at 100 TB it prices as a narrow map over the
    * file index. Non-URI paths keep urlparse's shape (empty scheme and
    * bucket) with the key = the path minus any leading '/' — the sane
    * generalization of the reference's `[1:]`, which assumes a URI whose
    * path always starts with '/'.
    */
  def withUriParts(files: DataFrame): DataFrame = {
    val f = col("filename")
    val scheme = regexp_extract(f, uriSchemeRe, 1)
    files
      .withColumn("scheme", scheme)
      .withColumn("bucket", regexp_extract(f, uriBucketRe, 1))
      .withColumn("obj_key",
        when(scheme =!= "", regexp_extract(f, uriKeyRe, 1))
          .otherwise(regexp_replace(f, "^/", "")))
  }

  /** DuckDB mirror of [[withUriParts]], for oracle SQL. */
  private[graft] def uriPartsSql(fExpr: String): String = Seq(
    s"regexp_extract($fExpr, '$uriSchemeRe', 1) AS scheme",
    s"regexp_extract($fExpr, '$uriBucketRe', 1) AS bucket",
    s"""CASE WHEN regexp_extract($fExpr, '$uriSchemeRe', 1) <> ''
             THEN regexp_extract($fExpr, '$uriKeyRe', 1)
             ELSE regexp_replace($fExpr, '^/', '') END AS obj_key""")
    .mkString(",\n           ")
}
