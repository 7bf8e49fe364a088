package graft.pipeline

import java.nio.file.{Files, Path}

import graft.{Counters, SparkSpec}
import org.apache.hadoop.fs.{BlockLocation, FileStatus, PathFilter,
  RawLocalFileSystem, Path => HadoopPath}
import org.apache.spark.sql.{AnalysisException, DataFrame, GraftBridge}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, sha2}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** An input path filter set through `mapreduce.input.pathFilter.class`
  * (serializable: Spark's listing job ships it to its tasks).
  */
class NoSidecarsFilter extends PathFilter with Serializable {
  override def accept(p: HadoopPath): Boolean = !p.getName.endsWith(".json")
}

/** The local file system under the `hosted` scheme, placing every file's
  * one block on host `h1`: the local file system places them on
  * `localhost`, which Spark's scan drops from a task's preferred hosts.
  */
class HostedLocalFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("hosted:///")
  override def getFileBlockLocations(f: FileStatus, start: Long,
      len: Long): Array[BlockLocation] =
    Array(new BlockLocation(Array("h1:9866"), Array("h1"), 0, f.getLen))
}

class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def put(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
  }

  /** `<root>/<label>/clips/c<i>.{avi,json}`: 48 files matched by a glob
    * over every label's clips, more than Spark's 32-path threshold for a
    * listing job, plus hidden names (`_x`, `.x`, an in-flight
    * `._COPYING_`), two levels of nested directories under one clips dir,
    * and a hidden label directory whose clips a glob still reaches.
    */
  private lazy val tree: Path = {
    val root = Files.createTempDirectory("ingest_tree")
    for (l <- 0 until 4; i <- 0 until 6) {
      put(root.resolve(s"label$l/clips/c$i.avi"), s"clip $l $i")
      put(root.resolve(s"label$l/clips/c$i.json"), s"""{"l": $l, "i": $i}""")
    }
    val c0 = root.resolve("label0/clips")
    put(c0.resolve("_x.avi"), "hidden underscore")
    put(c0.resolve(".x.avi"), "hidden dot")
    put(c0.resolve("y.avi._COPYING_"), "in-flight copy")
    put(c0.resolve("nested/n.avi"), "nested")
    put(c0.resolve("nested/deeper/d.avi"), "nested deeper")
    put(root.resolve("_label/clips/h.avi"), "under a hidden label")
    root
  }

  /** Every column, with `content` as its SHA-256, sorted by path. */
  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.select(df.columns.filterNot(_ == "content").map(col).toIndexedSeq :+
        sha2(col("content"), 256): _*)
      .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)

  /** Asserts the listing equals `binaryFile`'s `load` (schema and rows) and
    * returns the listed file names.
    */
  private def assertSameAsLoad(path: String): Seq[String] = {
    val ours = GraftBridge.binaryFiles(spark, path)
    val load = spark.read.format("binaryFile").load(path)
    assert(ours.schema === load.schema, path)
    val rows = rowsOf(ours)
    assert(rows === rowsOf(load), path)
    rows.map(_.head.toString.split('/').last)
  }

  test("O1 listing ≡ binaryFile load: a >32-file glob across label dirs") {
    val names = assertSameAsLoad(s"$tree/*/clips/*")
    // 48 clips and sidecars, h.avi, and nested/n.avi: a matched directory
    // contributes its own files, not those of its subdirectories (no
    // recursiveFileLookup); hidden names drop whether matched or listed
    assert(names.size === 50)
    assert(names.count(_.endsWith(".json")) === 24)
    assert(Set("n.avi", "h.avi").subsetOf(names.toSet))
    assert(!names.contains("d.avi"))
    assert(!names.exists(n => n.startsWith("_") || n.startsWith(".") ||
      n.endsWith("._COPYING_")))
  }

  test("O1 listing ≡ binaryFile load: directory, file, extension and " +
      "directory-matching globs") {
    // plain directories (what FramesSpec passes), one with a nested subdir
    assert(assertSameAsLoad(s"$tree/label1/clips").size === 12)
    assert(assertSameAsLoad(s"$tree/label0/clips").size === 12)
    assert(assertSameAsLoad(s"$tree/label0/clips/nested") === Seq("n.avi"))
    // a single file, plain and qualified
    assert(assertSameAsLoad(s"$tree/label1/clips/c0.avi") === Seq("c0.avi"))
    assert(assertSameAsLoad(s"file://$tree/label2/clips/c1.json") ===
      Seq("c1.json"))
    // an extension glob: the nested directory no longer matches
    assert(assertSameAsLoad(s"$tree/*/clips/*.avi").size === 25)
    // globs that match only directories, with subdirectories below them
    assert(assertSameAsLoad(s"$tree/*/clips").size === 49)
    assert(assertSameAsLoad(s"$tree/label0/*").size === 12)
    assert(assertSameAsLoad(s"$tree/*").isEmpty)
  }

  test("O1 listing ≡ binaryFile load: partition directories") {
    val root = Files.createTempDirectory("ingest_parts")
    put(root.resolve("year=2023/a.avi"), "a")
    put(root.resolve("year=2024/b.avi"), "b")
    put(root.resolve("year=2024/c.mkv"), "c")
    assert(GraftBridge.binaryFiles(spark, root.toString).columns
      .contains("year"))
    assert(assertSameAsLoad(root.toString).size === 3)
    assert(assertSameAsLoad(s"$root/*").size === 3)
    assert(assertSameAsLoad(s"$root/*/*.avi").size === 2)
  }

  test("O1 a streaming sink's _spark_metadata log still governs its " +
      "directory") {
    val src = Files.createTempDirectory("ingest_stream_src")
    val sink = Files.createTempDirectory("ingest_stream_sink")
    val ckpt = Files.createTempDirectory("ingest_stream_ckpt")
    put(src.resolve("lines.txt"), "a\nb\nc\n")
    val q = spark.readStream.text(src.toString).writeStream.format("text")
      .option("checkpointLocation", ckpt.toString).start(sink.toString)
    try q.processAllAvailable() finally q.stop()
    assert(Files.isDirectory(sink.resolve("_spark_metadata")))
    // a file the sink's log does not name: the log, not the directory,
    // says what the sink wrote
    put(sink.resolve("stray.txt"), "not committed by the sink")
    val logged = assertSameAsLoad(sink.toString)
    assert(logged.nonEmpty && !logged.contains("stray.txt"))
    // a glob is not a sink directory: it lists what it matches
    val globbed = assertSameAsLoad(s"$sink/*")
    assert(globbed.contains("stray.txt") &&
      globbed.toSet.subsetOf(logged.toSet + "stray.txt"))
  }

  test("O1 listing ≡ binaryFile load under a configured input PathFilter") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("mapreduce.input.pathFilter.class",
      classOf[NoSidecarsFilter].getName)
    try {
      val names = assertSameAsLoad(s"$tree/*/clips/*")
      assert(names.size === 26 && !names.exists(_.endsWith(".json")))
    } finally conf.unset("mapreduce.input.pathFilter.class")
  }

  test("O1 the scan packs the same tasks with the same preferred hosts") {
    def tasks(df: DataFrame): Seq[Seq[String]] = {
      val rdd = df.queryExecution.sparkPlan.collectFirst {
        case s: FileSourceScanExec => s.inputRDD
      }.get
      rdd.partitions.toSeq.map(rdd.preferredLocations)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.hosted.impl", classOf[HostedLocalFileSystem].getName)
    try {
      val glob = s"hosted://$tree/*/clips/*"
      assert(assertSameAsLoad(glob).size === 50)
      val ours = tasks(GraftBridge.binaryFiles(spark, glob))
      assert(ours.size > 1 && ours.forall(_ === Seq("h1")))
      assert(ours === tasks(spark.read.format("binaryFile").load(glob)))
    } finally conf.unset("fs.hosted.impl")
  }

  test("O1 a path that matches nothing fails as load does: PATH_NOT_FOUND") {
    for (path <- Seq(s"$tree/*/nothing/*", s"$tree/missing",
        s"$tree/label0/clips/*.mp4")) {
      val ours = intercept[AnalysisException](GraftBridge.binaryFiles(spark, path))
      val load = intercept[AnalysisException](
        spark.read.format("binaryFile").load(path))
      assert(ours.getCondition === "PATH_NOT_FOUND", path)
      assert(ours.getCondition === load.getCondition, path)
      assert(ours.getMessage === load.getMessage, path)
    }
  }

  test("O1 listing a >32-file glob starts no Spark job") {
    val glob = s"$tree/*/clips/*"
    val (listed, counts) = Counters.during(spark)(Ingest.listFiles(spark, glob))
    assert(counts.jobs === 0)
    val (_, withContent) = Counters.during(spark)(
      Ingest.listFilesWithContent(spark, glob))
    assert(withContent.jobs === 0)
    // the counter sees binaryFile load's one-task-per-file listing job
    val (_, load) = Counters.during(spark)(
      spark.read.format("binaryFile").load(glob))
    assert(load.jobs >= 1)
    assert(listed.count() === 50)
  }

  test("O1 file listing: binaryFile glob scan") {
    val dir = java.nio.file.Files.createTempDirectory("ingest_ls")
    Seq("a.mp4", "b.txt", "c.mkv").foreach { n =>
      java.nio.file.Files.write(dir.resolve(n), Array[Byte](1, 2, 3))
    }
    val listed = Ingest.listFiles(spark, s"$dir/*")
      .as[String].collect().map(_.split('/').last).sorted
    assert(listed.toSeq === Seq("a.mp4", "b.txt", "c.mkv"))
  }

  test("O4 extension filter: keeps mkv/avi/mp4, handles edge cases") {
    val files = Seq(
      "a/b/c/x.mp4", "a/b/c/x.mkv", "a/b/c/x.avi", // kept
      "a/b/c/x.MP4", // case-sensitive like the reference: dropped
      "a/b/c/x.webm", "a/b/c/x.txt", // wrong extension
      "a/b/c/mp4", // no dot: whole name is the "extension"
      "a/b/c/x.tar.mp4" // only the last segment counts: kept
    ).toDF("filename")
    val kept = Ingest.filterVideos(files).as[String].collect().sorted
    assert(kept.toSeq === Seq("a/b/c/x.avi", "a/b/c/x.mkv", "a/b/c/x.mp4",
      "a/b/c/x.tar.mp4"))
  }

  test("O5 label extraction: 3rd-from-last path segment") {
    val files = Seq("gs://bucket/videos/cats/v1/file.mp4").toDF("filename")
    val label = Ingest.withLabel(files).select("label").as[String].head()
    assert(label === "cats") // reference: preprocess.py:268-274
  }

  test("O5 short paths yield null label, not a crash") {
    val files = Seq("file.mp4", "a/file.mp4").toDF("filename")
    val labels = Ingest.withLabel(files).select("label").collect()
    assert(labels.forall(_.isNullAt(0)))
  }

  test("O6 ratio guard rejects ratios that do not sum to 1") {
    val files = Seq("a.mp4").toDF("filename")
    intercept[IllegalArgumentException] {
      Ingest.splitByHash(files, 0.7, 0.2, 0.2)
    }
  }

  test("O6 splitByHash is a partition: every row gets exactly one dataset") {
    val files = (1 to 500).map(i => s"videos/l/s/f$i.mp4").toDF("filename")
    val tagged = Ingest.splitByHash(files, 0.70, 0.15, 0.15)
    assert(tagged.count() === 500)
    assert(tagged.filter(!col("dataset").isin("train", "val", "test"))
      .count() === 0)
    // deterministic: same input → identical assignment
    val a = tagged.orderBy("filename").as[(String, String)].collect()
    val b = Ingest.splitByHash(files, 0.70, 0.15, 0.15)
      .orderBy("filename").as[(String, String)].collect()
    assert(a.sameElements(b))
    // ratios within quantization tolerance (256 buckets + sampling noise)
    val n = tagged.filter(col("dataset") === "train").count()
    assert(n > 250 && n < 450, s"train fraction wildly off: $n/500")
  }

  test("O6 property: splitByHash partitions all rows for arbitrary ratios") {
    val ratioGen = for {
      a <- Gen.choose(0.0, 1.0)
      b <- Gen.choose(0.0, 1.0 - a)
    } yield (a, b)
    val files = (1 to 100).map(i => s"v/l/s/f$i.mp4").toDF("filename")
    files.cache().count()
    val prop = Prop.forAll(ratioGen) { case (tr, va) =>
      val counts = Ingest.splitByHash(files, tr, va, 1.0 - tr - va)
        .groupBy("dataset").count().as[(String, Long)].collect().toMap
      counts.values.sum == 100L &&
        counts.keySet.subsetOf(Set("train", "val", "test"))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
    files.unpersist()
  }

  test("O7 plumbing: URI split mirrors urlparse netloc/path semantics") {
    val got = Ingest.withUriParts(Seq(
        "gs://bkt/a/b.mp4", // the reference's exact shape
        "s3a://lake-1/x.mkv", // other scheme, digits/dash in bucket
        "gs://bkt", // bucket-only URI: empty key, not a crash
        "/abs/local.mp4", // absolute path: no scheme/bucket, '/' stripped
        "rel/local.avi") // relative path: passes through whole
        .toDF("filename"))
      .select("filename", "scheme", "bucket", "obj_key")
      .as[(String, String, String, String)].collect().toSeq
    assert(got === Seq(
      ("gs://bkt/a/b.mp4", "gs", "bkt", "a/b.mp4"),
      ("s3a://lake-1/x.mkv", "s3a", "lake-1", "x.mkv"),
      ("gs://bkt", "gs", "bkt", ""),
      ("/abs/local.mp4", "", "", "abs/local.mp4"),
      ("rel/local.avi", "", "", "rel/local.avi")))
  }
}
