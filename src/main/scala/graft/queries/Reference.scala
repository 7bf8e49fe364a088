package graft.queries

import graft.{Q, Tables}
import graft.pipeline._
import graft.tfrecord.TFRecords
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference pipeline's own operator surface (SURVEY.md §2 O1-O17),
  * driven through the graft.pipeline library over fixture-derived data so
  * every stage is DuckDB-checkable.
  *
  * "Videos" are synthesized deterministically from the documents table:
  * each doc becomes a path `videos/<lang>/<source>/doc_<id>.<ext>` (so the
  * label extracted by O5 is `lang`), and each kept video gets
  * `1 + doc_id % 7` frames at 500 ms spacing — pure arithmetic that the
  * oracle reproduces exactly. The binary decode / ML-embed stages (O7/O8)
  * aren't SQL-expressible; they are exercised end-to-end by `Main.smoke`
  * (wired as `SparkEntry.entry`) and unit-tested in FramesSpec / EmbedSpec /
  * MainSpec with the synthetic decoder + hash embedder.
  */
object Reference {

  private val exts = Seq("mp4", "mkv", "avi", "webm", "txt")

  /** Synthesized file listing with doc_id retained for frame synthesis;
    * also the listing `Main` runs the pipeline over when no real input is
    * given ([[graft.Main.fixtureListing]]).
    */
  private[graft] def synthFiles(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(
      concat(lit("videos/"), col("lang"), lit("/"), col("source"),
        lit("/doc_"), col("doc_id"), lit("."),
        element_at(
          array(exts.map(lit): _*),
          (col("doc_id") % 5 + 1).cast("int"))).as("filename"),
      col("doc_id"))

  private val filesSql: String = s"""
    SELECT 'videos/' || lang || '/' || source || '/doc_' || doc_id || '.' ||
           list_extract(['mp4','mkv','avi','webm','txt'],
                        CAST(doc_id % 5 + 1 AS INT)) AS filename,
           doc_id
    FROM documents"""

  /** O4 + O5 + O6 applied to the synthesized listing. */
  private def preparedFiles(s: SparkSession, dir: String): DataFrame =
    Ingest.splitByHash(
      Ingest.withLabel(Ingest.filterVideos(synthFiles(s, dir))),
      0.70, 0.15, 0.15)

  private val preparedSql: String = s"""
    SELECT filename, doc_id,
           string_split(filename, '/')[-3] AS label,
           ${Ingest.hashBucketSql("filename", 0.70, 0.15)} AS dataset
    FROM ($filesSql)
    WHERE string_split(filename, '.')[-1] IN ('mkv', 'avi', 'mp4')"""

  /** Deterministic synthetic frames: 1 + doc_id % 7 frames, 500 ms apart. */
  private def synthFrames(s: SparkSession, dir: String): DataFrame =
    preparedFiles(s, dir)
      .withColumn("frame_total", (col("doc_id") % 7 + 1).cast("double"))
      .withColumn("frame_per_sec", lit(2.0))
      .select(col("*"),
        explode(sequence(lit(0L),
          (col("frame_total") - 1).cast("long"))).as("frame_idx"))
      .withColumn("timestamp_ms", col("frame_idx") * 500L)
      .drop("frame_idx", "doc_id")

  // constant-bound generate_series + filter: this DuckDB rejects lateral
  // column arguments to table functions (CORRECTNESS_r01 Binder Error)
  private val framesSql: String = s"""
    SELECT filename, label, dataset,
           CAST(doc_id % 7 + 1 AS DOUBLE) AS frame_total,
           2.0 AS frame_per_sec,
           g.i * 500 AS timestamp_ms
    FROM ($preparedSql) p
    CROSS JOIN generate_series(0, 6) AS g(i)
    WHERE g.i <= p.doc_id % 7"""

  /** Render an array column as a comma-joined string so the oracle compare
    * is list-representation-agnostic.
    */
  private def joined(df: DataFrame, arrayCol: String): DataFrame =
    df.withColumn(arrayCol,
      concat_ws(",", transform(col(arrayCol), _.cast("string"))))

  val qs: Seq[Q] = Seq(

    // ---- O4 extension filter + O5 label extraction -------------------------
    Q("ref_filter_label",
      (s, dir) => Ingest.withLabel(Ingest.filterVideos(synthFiles(s, dir)))
        .select("filename", "label"),
      Some(s"""
        SELECT filename, string_split(filename, '/')[-3] AS label
        FROM ($filesSql)
        WHERE string_split(filename, '.')[-1] IN ('mkv', 'avi', 'mp4')""")),

    // ---- O7 plumbing: storage-URI → (scheme, bucket, object key) ----------
    // The reference's urlparse split (preprocess.py:163-165) over a listing
    // that mixes gs:// and s3a:// URIs with absolute local paths — the three
    // address shapes a mixed-lake listing actually contains.
    Q("ref_uri_parts",
      (s, dir) => Ingest.withUriParts(
        synthFiles(s, dir).select(
          when(col("doc_id") % 3 === 0, concat(lit("/"), col("filename")))
            .when(col("doc_id") % 3 === 1,
              concat(lit("gs://corpus-raw/"), col("filename")))
            .otherwise(concat(lit("s3a://lake-"), col("doc_id") % 4,
              lit("/"), col("filename"))).as("filename"))),
      Some(s"""
        SELECT filename,
           ${Ingest.uriPartsSql("filename")}
        FROM (
          SELECT CASE
                   WHEN doc_id % 3 = 0 THEN '/' || filename
                   WHEN doc_id % 3 = 1 THEN 'gs://corpus-raw/' || filename
                   ELSE 's3a://lake-' || (doc_id % 4) || '/' || filename
                 END AS filename
          FROM ($filesSql))""")),

    // ---- O6 deterministic 70/15/15 split, accounting per (dataset,label) --
    Q("ref_split",
      (s, dir) => preparedFiles(s, dir)
        .groupBy(col("dataset"), col("label"))
        .agg(count(lit(1)).as("n")),
      Some(s"""
        SELECT dataset, label, count(*) AS n
        FROM ($preparedSql) GROUP BY dataset, label""")),

    // ---- O15 single_frame mode: one sample per frame ------------------------
    Q("ref_single_frame",
      (s, dir) => joined(
        Samples.singleFrame(synthFrames(s, dir), Seq("timestamp_ms")),
        "timestamp_ms"),
      Some(s"""
        SELECT filename, label, dataset, frame_per_sec, frame_total,
               CAST(timestamp_ms AS VARCHAR) AS timestamp_ms
        FROM ($framesSql)""")),

    // ---- O14+O16+O17 full_video mode: group, sort, pivot --------------------
    Q("ref_full_video",
      (s, dir) => joined(
        Samples.fullVideo(synthFrames(s, dir), Seq("timestamp_ms")),
        "timestamp_ms"),
      Some(s"""
        SELECT filename, label, dataset, frame_per_sec, frame_total,
               array_to_string(list_sort(list(timestamp_ms)), ',') AS timestamp_ms
        FROM ($framesSql)
        GROUP BY filename, label, dataset, frame_per_sec, frame_total""")),

    // ---- O9-O13 crop_video mode: sliding windows + validity filter ---------
    // 2 s windows sliding every 500 ms; windows past end-of-video dropped
    // unless window_end == sequence length (the reference's exact rule).
    Q("ref_crop_video",
      (s, dir) => joined(
        Samples.cropVideo(synthFrames(s, dir), Seq("timestamp_ms"),
          sequenceLengthMs = 2000, periodMs = 500),
        "timestamp_ms"),
      Some(s"""
        WITH fr AS ($framesSql),
        expanded AS (
          SELECT *,
                 (CAST(floor(timestamp_ms / 500) AS BIGINT) - g.i) * 500 AS window_start,
                 (CAST(floor(timestamp_ms / 500) AS BIGINT) - g.i) * 500 + 2000 AS window_end
          FROM fr, generate_series(0, 3) AS g(i))
        SELECT window_start, window_end, filename, label, dataset,
               frame_per_sec, frame_total,
               array_to_string(list_sort(list(timestamp_ms)), ',') AS timestamp_ms
        FROM expanded
        WHERE window_end = 2000
           OR (window_start >= 0
               AND window_end <= 1000.0 * frame_total / frame_per_sec)
        GROUP BY window_start, window_end, filename, label, dataset,
                 frame_per_sec, frame_total""")),

    // ---- Example-mode (flat record) round-trip ------------------------------
    // The second TFRecord record type under the gate: the split
    // accounting written as flat tf.train.Example records (no feature
    // lists), read back, and hash-matched against the same SQL as
    // ref_split — covers the Example encode/decode path end-to-end.
    Q("ref_tfrecord_example",
      (s, dir) => {
        val rows = preparedFiles(s, dir)
          .groupBy(col("dataset"), col("label"))
          .agg(count(lit(1)).as("n"))
        val out = java.nio.file.Files
          .createTempDirectory("graft_tfrec_ex").toString
        rows.repartition(2)
          .write.format("tfrecord").option("recordType", "Example")
          .mode("overwrite").save(s"$out/data")
        s.read.schema(StructType(Seq(
            StructField("dataset", StringType),
            StructField("label", StringType),
            StructField("n", LongType))))
          .format("tfrecord").option("recordType", "Example")
          .load(s"$out/data")
      },
      Some(s"""
        SELECT dataset, label, count(*) AS n
        FROM ($preparedSql) GROUP BY dataset, label""")),

    // ---- O18-O20+O22 TFRecord sink round-trip -------------------------------
    // The full output stage under the correctness gate: full_video samples →
    // SequenceExample protos → shuffled (O19) sharded .tfrecord files with
    // per-split directories (O20/O22) → read back through the frame reader +
    // proto decoder → must hash-match the SAME oracle as ref_full_video.
    // Any framing, CRC, proto-layout, or shuffle-loss bug breaks the match.
    Q("ref_tfrecord_roundtrip",
      (s, dir) => {
        val samples = Samples.fullVideo(synthFrames(s, dir), Seq("timestamp_ms"))
        val out = java.nio.file.Files
          .createTempDirectory("graft_tfrec").toString
        TFRecords.write(samples, out, numShards = 4)
        val schema = StructType(Seq(
          StructField("filename", StringType),
          StructField("label", StringType),
          StructField("frame_per_sec", DoubleType),
          StructField("frame_total", DoubleType),
          StructField("timestamp_ms", ArrayType(LongType))))
        joined(
          TFRecords.read(s, out, schema)
            .select("filename", "label", "dataset", "frame_per_sec",
              "frame_total", "timestamp_ms"),
          "timestamp_ms")
      },
      Some(s"""
        SELECT filename, label, dataset, frame_per_sec, frame_total,
               array_to_string(list_sort(list(timestamp_ms)), ',') AS timestamp_ms
        FROM ($framesSql)
        GROUP BY filename, label, dataset, frame_per_sec, frame_total"""))
  )
}
