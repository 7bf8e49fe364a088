package graft.tfrecord

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.rand
import org.apache.spark.sql.types.StructType

/** User-facing TFRecord write/read helpers — the composition of O19 (global
  * shuffle before write, reference preprocess.py:73-79), O20 (sharded
  * TFRecord sink, preprocess.py:109-128) and O22 (per-split fan-out,
  * preprocess.py:389-416).
  */
object TFRecords {

  /** Write `samples` as sharded SequenceExample TFRecords under
    * `{outputDir}/data/`, one subdirectory per value of `splitCol`
    * (`dataset=train/...` — the reference's `{out}/data/{split}/...` layout,
    * preprocess.py:119-123).
    *
    * The pre-write `repartition(numShards, rand(seed))` is the reference's
    * random-key GroupByKey shuffle (O19) in its Spark-native form: a hash
    * exchange on a random key — a true random permutation across shards with
    * NO global sort (`orderBy(rand)` would be a scale bug). Seeded so golden
    * tests are byte-reproducible, a deliberate upgrade over the reference's
    * unseeded random.random() (preprocess.py:77).
    */
  def write(samples: DataFrame, outputDir: String, numShards: Int,
      seed: Long = 42L, splitCol: String = "dataset"): Unit =
    shuffledWrite(samples, outputDir, numShards, seed, splitCol, "overwrite")

  /** The one shard rule and sink chain behind [[write]] and
    * [[writeStream]]: shuffle on a `seed`ed random key into `numShards`
    * partitions, then save each split's SequenceExample shards under
    * `{outputDir}/data/{splitCol}=…` with save `mode`.
    */
  private def shuffledWrite(samples: DataFrame, outputDir: String,
      numShards: Int, seed: Long, splitCol: String, mode: String): Unit =
    samples
      .repartition(numShards, rand(seed))
      .write
      .format("tfrecord")
      .option("recordType", "SequenceExample")
      .partitionBy(splitCol)
      .mode(mode)
      .save(s"$outputDir/data")

  /** Read sharded TFRecords back. `schema` must be the data schema WITHOUT
    * the partition column; Spark appends `splitCol` from the directory names.
    */
  def read(spark: SparkSession, outputDir: String,
      schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .format("tfrecord")
      .option("recordType", "SequenceExample")
      .load(s"$outputDir/data")

  /** Streaming form of [[write]]: each micro-batch appends its rows as
    * TFRecord shards under the same `{outputDir}/data/{split}=…` layout,
    * shuffled with a batch-derived seed (so the permutation differs per
    * batch but stays replay-deterministic). Start with `.start()` on the
    * returned writer.
    *
    * Delivery is at-least-once: a batch replayed after a crash between
    * the file commit and the checkpoint write appends again (the classic
    * non-transactional file-sink caveat — exact dedup downstream, e.g.
    * dd_exact's lineage over the output, restores effective
    * exactly-once).
    */
  def writeStream(samples: DataFrame, outputDir: String, numShards: Int,
      checkpointDir: String, seed: Long = 42L,
      splitCol: String = "dataset")
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    samples.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        shuffledWrite(batch, outputDir, numShards, seed + batchId, splitCol,
          "append")
      }
}
