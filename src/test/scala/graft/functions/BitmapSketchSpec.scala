package graft.functions

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

class BitmapSketchSpec extends SparkSpec {
  import spark.implicits._

  test("reduce sets the id bit; merge ORs; nulls skip; out-of-range fails") {
    val agg = new BitmapSketch(2) // 128-id space
    var buf = agg.zero
    buf = agg.reduce(buf, 0L)
    buf = agg.reduce(buf, 63L)
    buf = agg.reduce(buf, 64L)
    assert(buf(0) === (1L | (1L << 63)) && buf(1) === 1L)
    // duplicates are free (idempotent), nulls follow SQL skip semantics
    assert(agg.reduce(buf.clone(), 63L).toSeq === buf.toSeq)
    assert(agg.reduce(buf.clone(), null).toSeq === buf.toSeq)
    val merged = agg.merge(buf.clone(), agg.reduce(agg.zero, 127L))
    assert(merged(1) === (1L | (1L << 63)))
    // aliasing would silently corrupt counts — it must throw instead
    intercept[IllegalArgumentException](agg.reduce(agg.zero, 128L))
    intercept[IllegalArgumentException](agg.reduce(agg.zero, -1L))
  }

  test("grouped cardinality ≡ exact count distinct, duplicates included") {
    val df = Seq((0, 5L), (0, 5L), (0, 9L), (1, 5L), (1, 63L), (1, 64L),
      (1, 64L), (2, 100L)).toDF("g", "id")
    val bm = udaf(new BitmapSketch(2))
    val got = df.groupBy(col("g"))
      .agg(BitmapSketch.cardinality(bm(col("id"))).as("n"))
      .as[(Int, Long)].collect().toMap
    assert(got === Map(0 -> 2L, 1 -> 3L, 2 -> 1L))
  }

  test("set algebra: and reproduces exact set intersection") {
    val a = Set(1L, 5L, 64L, 100L)
    val b = Set(5L, 64L, 99L)
    val bm = udaf(new BitmapSketch(2))
    val df = (a.toSeq.map(("a", _)) ++ b.toSeq.map(("b", _)))
      .toDF("side", "id")
    val bms = df.groupBy(col("side")).agg(bm(col("id")).as("bm"))
    val row = bms.filter(col("side") === "a").select(col("bm").as("ab"))
      .crossJoin(bms.filter(col("side") === "b").select(col("bm").as("bb")))
      .select(
        BitmapSketch.cardinality(BitmapSketch.and(col("ab"), col("bb"))))
      .head
    assert(row.getLong(0) === (a & b).size.toLong)
  }

  test("and + cardinality ≡ set membership across word boundaries") {
    val members = Set(0L, 1L, 63L, 64L, 65L, 127L)
    val agg = new BitmapSketch(2)
    val bm = members.foldLeft(agg.zero)((b, id) => agg.reduce(b, id))
    // id lands in word id / 64 at bit id % 64
    (0L until 128L).foreach { id =>
      val bit = (bm((id >>> 6).toInt) >>> (id & 63)) & 1L
      assert((bit == 1L) === members.contains(id), s"id $id")
    }
    // a singleton bitmap meets the member bitmap iff id is a member
    val got = (0L until 128L).map(id => (id, agg.reduce(agg.zero, id)))
      .toDF("id", "single")
      .select(col("id"), BitmapSketch.cardinality(
        BitmapSketch.and(lit(bm), col("single"))).as("n"))
      .as[(Long, Long)].collect().toMap
    (0L until 128L).foreach(id =>
      assert(got(id) === (if (members.contains(id)) 1L else 0L), s"id $id"))
  }

  test("ev_bitmap_retention: diagonal full, monotone bounds, join parity") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("ev_bitmap_retention")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_signup"), r.getAs[Long]("n_retained"))).toMap
    assert(rows.nonEmpty)
    rows.foreach { case ((cw, w), (signup, ret)) =>
      assert(w >= cw)
      assert(ret >= 0 && ret <= signup, s"cell ($cw, $w)")
      // a user's signup week IS an active week for them
      if (w == cw) assert(ret === signup, s"diagonal ($cw)")
    }
    // parity with the per-user join form the bitmap algebra replaces
    val e = Tables.events(spark, sfDir)
    val su = e.groupBy(col("user_id")).agg(min(col("ems")).as("s"))
      .select(col("user_id"), expr("s div 604800000").as("cw"))
    val act = e.select(col("user_id"), expr("ems div 604800000").as("w"))
      .distinct()
    val joined = su.join(act, Seq("user_id"))
      .filter(col("w") >= col("cw"))
      .groupBy(col("cw"), col("w")).agg(count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    joined.foreach { case (cell, n) =>
      assert(rows(cell)._2 === n, s"cell $cell")
    }
    rows.foreach { case (cell, (_, ret)) =>
      if (!joined.contains(cell)) assert(ret === 0L, s"cell $cell")
    }
  }
}
