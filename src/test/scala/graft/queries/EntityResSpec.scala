package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic laws of the entity-resolution family, proven against the
  * sf0.001 fixture (150 customers → 450 synthesized records) with
  * first-principles recomputes independent of the query lineages.
  */
class EntityResSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  import spark.implicits._

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, sfDir)

  test("blocking never splits a true entity and bounds the pair budget") {
    val recs = EntityRes.keyed(EntityRes.records(spark, sfDir))
      .select(col("rec_id"), col("c_custkey"), col("bk"))
      .as[(Long, Long, Long)].collect()
    // every record of one customer lands in the SAME block (recall of
    // the blocking stage is 1 by construction; er_match's FN is then
    // attributable to the threshold alone)
    recs.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).distinct.length === 1)
    }
    // the blocking card's pair budget is strictly below all-pairs
    val card = run("er_blocking")
      .agg(sum(col("n_pairs")), sum(col("n_records")))
      .as[(Long, Long)].collect().head
    val n = recs.length.toLong
    assert(card._2 === n)
    assert(card._1 < n * (n - 1) / 2)
  }

  test("keyed: a digitless name falls into its nation's -1 block, not null") {
    // outside input need not end in digits; TRY_CAST keeps Spark's bk
    // equal to DuckDB's (where a plain CAST of "rp" raises)
    val bk = Seq((1L, "Acme Corp", 7L), (2L, "Customer#000000042", 7L))
      .toDF("rec_id", "name", "c_nationkey")
    val got = EntityRes.keyed(bk).select(col("rec_id"), col("bk"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 699L, 2L -> 742L))
  }

  test("er_match's counts equal a first-principles recompute") {
    val recs = EntityRes.keyed(EntityRes.records(spark, sfDir))
      .select(col("rec_id"), col("bk"), col("norm"))
      .as[(Long, Long, String)].collect()
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val pairs = for {
      a <- recs; b <- recs
      if a._2 == b._2 && a._1 < b._1
    } yield (a._1 / 3 == b._1 / 3, lev(a._3, b._3) <= 1)
    val tp = pairs.count(p => p._1 && p._2).toLong
    val fp = pairs.count(p => !p._1 && p._2).toLong
    val fn = pairs.count(p => p._1 && !p._2).toLong
    val row = run("er_match")
      .select(col("tp"), col("fp"), col("fn"), col("recall_pm"))
      .as[(Long, Long, Long, Long)].collect().head
    assert((row._1, row._2, row._3) === ((tp, fp, fn)))
    // the structural misses: every 5th customer's web record sits at
    // distance 2 from BOTH its siblings → exactly 2 FN per such customer
    val nCust = recs.length / 3
    assert(fn === 2L * ((nCust + 4) / 5))
    assert(row._4 === tp * 1000 / (tp + fn))
  }

  test("er_golden covers every record exactly once and picks by priority") {
    val golden = run("er_golden").cache()
    val nRecords = EntityRes.records(spark, sfDir).count()
    // completeness: entity sizes sum to the record count (matched
    // clusters ∪ singletons partition the records)
    assert(golden.agg(sum(col("n_records"))).as[Long].collect().head
      === nRecords)
    // survivorship: every multi-record entity with a crm member picks a
    // crm golden record, and merged seg is never null when any member
    // has one (crm/pos members always do)
    val bad = golden.filter(col("n_records") >= 3 &&
      (col("golden_src") =!= "crm" || col("seg").isNull)).count()
    assert(bad === 0L)
    // false-positive audit column: entities gluing two customers are
    // exactly the ones the matcher merged across custkeys, and each
    // still surfaces one golden record
    val fpEnt = golden.filter(col("n_custkeys") > 1)
    assert(fpEnt.filter(col("golden_rec").isNull).count() === 0L)
    golden.unpersist()
  }

  test("er_report agrees with the detail views it summarizes") {
    val r = run("er_report").collect().head
    val blocking = run("er_blocking")
      .agg(sum(col("n_records")), count(lit(1)), sum(col("n_pairs")))
      .as[(Long, Long, Long)].collect().head
    assert(r.getAs[Long]("n_records") === blocking._1)
    assert(r.getAs[Long]("n_blocks") === blocking._2)
    assert(r.getAs[Long]("n_candidates") === blocking._3)
    val ent = run("er_entities")
    assert(r.getAs[Long]("n_linked_records") === ent.count())
    assert(r.getAs[Long]("n_entities_multi") ===
      ent.select(col("entity_id")).distinct().count())
    assert(r.getAs[Long]("largest_entity") ===
      ent.agg(max(col("entity_size"))).as[Long].collect().head)
    assert(r.getAs[Long]("n_singletons") ===
      r.getAs[Long]("n_records") - r.getAs[Long]("n_linked_records"))
    val m = run("er_match").collect().head
    assert(r.getAs[Long]("n_matches") ===
      m.getAs[Long]("tp") + m.getAs[Long]("fp"))
  }

  test("er_report_capped: the scale-path card is coherent and accounts " +
      "its truncation (round 14)") {
    val r = run("er_report_capped").collect().head
    val full = run("er_report").collect().head
    // record/block census is the UNCAPPED corpus — the card reports the
    // world, then says how much of it the cap kept
    assert(r.getAs[Long]("n_records") === full.getAs[Long]("n_records"))
    assert(r.getAs[Long]("n_blocks") === full.getAs[Long]("n_blocks"))
    assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_capped_out") ===
      r.getAs[Long]("n_records"))
    assert(r.getAs[Long]("n_capped_out") > 0,
      "fixture blocks exceed BlockCap by construction — a zero here " +
        "means the cap lineage was not exercised")
    // the cap can only SHRINK candidate volume, and every capped pair
    // count matches a first-principles recompute of the capped lineage
    assert(r.getAs[Long]("n_candidates") <=
      full.getAs[Long]("n_candidates"))
    val sp = EntityRes.scoredPairsOf(EntityRes.cappedKeyed(
      EntityRes.keyed(EntityRes.records(spark, sfDir))))
    assert(r.getAs[Long]("n_candidates") === sp.count())
    assert(r.getAs[Long]("n_matches") ===
      sp.filter(col("is_match") === 1).count())
    // conservation: linked + singletons = records (capped-out records
    // are singletons by the cappedKeyed contract)
    assert(r.getAs[Long]("n_linked_records") +
      r.getAs[Long]("n_singletons") === r.getAs[Long]("n_records"))
  }

  test("er_threshold_curve at t=1 equals er_match (the shipped rule)") {
    val curve = run("er_threshold_curve").filter(col("t") === 1)
      .select(col("tp"), col("fp"), col("fn"), col("precision_pm"),
        col("recall_pm"))
      .as[(Long, Long, Long, Long, Long)].collect().head
    val m = run("er_match")
      .select(col("tp"), col("fp"), col("fn"), col("precision_pm"),
        col("recall_pm"))
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(curve === m)
    // monotone laws over the curve: recall never falls, precision never
    // rises as the threshold loosens
    val pts = run("er_threshold_curve")
      .select(col("t"), col("precision_pm"), col("recall_pm"))
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(pts.map(_._3).sliding(2).forall(w => w(0) <= w(1)))
    assert(pts.map(_._2).sliding(2).forall(w => w(0) >= w(1)))
  }

  test("er_entities sizes agree with er_golden's matched clusters") {
    val ent = run("er_entities")
    val fromEntities = ent.groupBy(col("entity_id"))
      .agg(max(col("entity_size")).as("sz"))
      .select(col("entity_id"), col("sz"))
      .as[(Long, Long)].collect().toMap
    val fromGolden = run("er_golden").filter(col("n_records") >= 2)
      .select(col("entity_id"), col("n_records"))
      .as[(Long, Long)].collect().toMap
    assert(fromEntities === fromGolden)
  }
}
