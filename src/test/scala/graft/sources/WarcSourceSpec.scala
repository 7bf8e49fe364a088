package graft.sources

import graft.SparkSpec
import graft.warc.WarcIO
import org.apache.spark.sql.functions._

/** The `warc` DSv2 table: row fidelity against WarcIO, payload pruning
  * proven by the never-allocated counter, warc_type pushdown proven the
  * same way, filename pushdown pruning the listing, the pushed filters
  * surfacing in the plan description, and the exactness rule of the
  * predicate compiler behind both pushdowns.
  */
class WarcSourceSpec extends SparkSpec {
  import spark.implicits._

  private def mkCorpus(nFiles: Int, recsPerFile: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("warcsrc").toString
    (0 until nFiles).foreach { f =>
      val recs = Iterator(WarcIO.WarcRecord("warcinfo", "",
        "2026-01-01T00:00:00Z", "application/warc-fields", 9L,
        "software9".getBytes)) ++
        (0 until recsPerFile).iterator.map { i =>
          val p = s"file $f rec $i ${"y" * (i % 40)}".getBytes
          WarcIO.WarcRecord("resource", s"http://t.local/f$f/r$i",
            "2026-01-01T00:00:00Z", "text/plain", p.length.toLong, p)
        }
      WarcIO.writeFile(f"$dir/part-$f%05d.warc.gz", recs)
    }
    dir
  }

  test("reads every record with exact fields and payload bytes") {
    val dir = mkCorpus(3, 10)
    val rows = spark.read.format("warc").load(dir)
      .select("filename", "warc_type", "target_uri", "content_length",
        "payload")
      .collect()
    assert(rows.length === 3 * 11)
    val resources = rows.filter(_.getString(1) == "resource")
    assert(resources.length === 30)
    resources.foreach { r =>
      val payload = r.getAs[Array[Byte]]("payload")
      assert(payload.length.toLong === r.getLong(3))
      // uri ↔ payload coherence
      val u = r.getString(2)
      val (f, i) = ("f(\\d+)/r(\\d+)".r.findFirstMatchIn(u).map(m =>
        (m.group(1), m.group(2)))).get
      assert(new String(payload).startsWith(s"file $f rec $i"))
    }
  }

  test("payload pruning: a metadata query never allocates payload bytes") {
    val dir = mkCorpus(2, 8)
    val skipped0 = WarcSource.payloadBytesSkipped.get()
    val mat0 = WarcSource.payloadsMaterialized.get()
    val agg = spark.read.format("warc").load(dir)
      .groupBy("warc_type").agg(count(lit(1)).as("n"),
        sum("content_length").as("bytes"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(agg("resource")._1 === 16)
    assert(agg("warcinfo")._1 === 2)
    val skippedBytes = WarcSource.payloadBytesSkipped.get() - skipped0
    assert(WarcSource.payloadsMaterialized.get() === mat0,
      "pruned scan must not materialize any payload")
    assert(skippedBytes === agg("resource")._2 + agg("warcinfo")._2,
      "every payload byte must be accounted as skipped")
  }

  test("warc_type pushdown: filtered-out payloads skip unallocated") {
    val dir = mkCorpus(2, 8)
    val mat0 = WarcSource.payloadsMaterialized.get()
    val skipped0 = WarcSource.payloadBytesSkipped.get()
    val n = spark.read.format("warc").load(dir)
      .filter(col("warc_type") === "resource")
      .select("payload").collect().length
    assert(n === 16)
    assert(WarcSource.payloadsMaterialized.get() - mat0 === 16L,
      "exactly the matching payloads materialize")
    assert(WarcSource.payloadBytesSkipped.get() - skipped0 === 2 * 9L,
      "the two warcinfo payloads skip")
  }

  test("filename pushdown prunes the LISTING before partition planning") {
    val dir = mkCorpus(4, 3)
    val df = spark.read.format("warc").load(dir)
      .filter(col("filename").endsWith("part-00002.warc.gz"))
    assert(df.count() === 4) // 3 resources + 1 warcinfo from ONE file
    // the scan's own description proves the prune reached the listing
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("files: 1"), desc)
    assert(desc.contains("StringEndsWith"), desc)
  }

  test("missing dir is an error, not an empty scan") {
    intercept[IllegalArgumentException] {
      spark.read.format("warc").load("/nonexistent/warc/dir").collect()
    }
  }

  test("scale smoke: 20k records across 16 members stream through") {
    val dir = java.nio.file.Files.createTempDirectory("warcbig").toString
    (0 until 16).foreach { f =>
      WarcIO.writeFile(f"$dir/p-$f%03d.warc.gz",
        (0 until 1250).iterator.map { i =>
          val p = s"$f/$i".getBytes
          WarcIO.WarcRecord("resource", s"u:$f:$i", "2026-01-01T00:00:00Z",
            "text/plain", p.length.toLong, p)
        })
    }
    val got = spark.read.format("warc").load(dir)
      .agg(count(lit(1)), countDistinct(col("target_uri")),
        sum(col("content_length")))
      .as[(Long, Long, Long)].collect().head
    assert(got._1 === 20000L)
    assert(got._2 === 20000L)
    assert(got._3 > 0L)
  }

  test("stringPredicate compiles only exactly-evaluable shapes") {
    import org.apache.spark.sql.sources._
    def p(f: Filter) = WarcSource.stringPredicate("filename")(f)
    def t(f: Filter) = WarcSource.stringPredicate("warc_type")(f)
    assert(p(EqualTo("filename", "x")).exists(_("x")))
    assert(p(Not(StringContains("filename", "a"))).exists(!_("abc")))
    // Not over an unsupported operand must not compile (an over-
    // inclusive approximation would flip into a wrong exclusion)
    assert(p(Not(EqualTo("timestamp_ms", 0L))).isEmpty)
    assert(p(And(StringStartsWith("filename", "/d"),
      EqualTo("timestamp_ms", 0L))).isEmpty)
    assert(p(Or(StringEndsWith("filename", ".mp4"),
      StringEndsWith("filename", ".mkv"))).exists(_("x.mkv")))
    assert(p(GreaterThan("timestamp_ms", 5L)).isEmpty)
    // the same rule keyed by warc_type: the other column never compiles
    assert(t(EqualTo("warc_type", "resource")).exists(_("resource")))
    assert(t(In("warc_type", Array("resource", "response")))
      .exists(f => f("response") && !f("warcinfo")))
    assert(t(In("warc_type", Array("resource", 1))).isEmpty)
    assert(t(IsNotNull("warc_type")).exists(_("warcinfo")))
    assert(t(Not(EqualTo("warc_type", "warcinfo")))
      .exists(f => f("resource") && !f("warcinfo")))
    assert(t(EqualTo("filename", "resource")).isEmpty)
    assert(t(Not(EqualTo("filename", "x"))).isEmpty)
    assert(t(Or(EqualTo("warc_type", "resource"),
      EqualTo("filename", "x"))).isEmpty)
    assert(t(EqualTo("warc_type", 1)).isEmpty)
  }
}
