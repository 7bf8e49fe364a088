package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f)), // near 0
    (2L, Seq(0.0f, 1.0f, 0.0f)), // orthogonal to 0
    (3L, Seq(-1.0f, 0.0f, 0.0f)), // opposite of 0
    (25L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")

  test("quantize + dot: exact fixed-point integer arithmetic") {
    val q = VectorOps.quantized(vecs)
    val n2 = q.filter(col("vec_id") === 1L).select("n2").as[Long].head()
    assert(n2 === 900L * 900 + 100L * 100) // exact, no float drift
  }

  test("knnBrute ranks by cosine with deterministic tiebreak") {
    val out = VectorOps.knnBrute(vecs, vecs.filter(col("vec_id") === 0L), 4)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect()
    assert(out.map(_._2).toSeq === Seq(1L, 2L, 25L, 3L))
    assert(math.abs(out(0)._3 - 0.9 / math.sqrt(0.82)) < 1e-9)
    assert(out(1)._3 === 0.0)
    assert(out(3)._3 === -1.0)
  }

  test("assignIvf: every vector lands in exactly one bucket") {
    val asg = VectorOps.assignIvf(vecs, centroidModulo = 25)
    val rows = asg.select("vec_id", "centroid_id").as[(Long, Long)].collect()
    assert(rows.length === 5) // one row per vector
    assert(rows.toMap.apply(1L) === 0L) // near centroid 0
    assert(rows.toMap.apply(25L) === 25L) // centroid assigns to itself
  }

  test("lshSignature: stable bits; identical vectors share a bucket") {
    val vs = Seq(
      (0L, Seq.fill(8)(0.5f)),
      (1L, Seq.fill(8)(0.5f)), // identical → identical signature
      (2L, Seq.tabulate(8)(i => if (i % 2 == 0) 0.9f else -0.9f)))
      .toDF("vec_id", "embedding")
    val sigs = VectorOps.lshSignature(vs, planes = 8, dims = 8)
      .as[(Long, String)].collect().toMap
    assert(sigs.values.forall(s => s.length == 8 && s.forall("01".contains(_))))
    assert(sigs(0L) === sigs(1L))
    // determinism across invocations (literal sign matrix)
    val again = VectorOps.lshSignature(vs, planes = 8, dims = 8)
      .as[(Long, String)].collect().toMap
    assert(sigs === again)
  }

  test("knnIvf searches only the probe's bucket") {
    val out = VectorOps.knnIvf(vecs, col("vec_id") === 0L,
      centroidModulo = 25, k = 10).as[(Long, Long, Double, Int)].collect()
    // bucket of centroid 0 = {0,1,2}; 3 = (-1,0,0) is NEARER centroid 25
    // (cos 0 > cos -1), so IVF correctly misses the antipodal vector —
    // the classic ANN recall trade-off the brute-force baseline catches
    assert(out.map(_._2).sorted.toSeq === Seq(1L, 2L))
  }

  test("assignIvf: a zero-norm side scores -inf, never NaN") {
    // centroids are vec_id % 5 == 0: ids 0 and 5 (2-D for readability)
    def assign(emb: Seq[(Long, Seq[Float])]): Map[Long, Long] =
      VectorOps.assignIvf(emb.toDF("vec_id", "embedding"), 5)
        .select(col("vec_id"), col("centroid_id")).as[(Long, Long)]
        .collect().toMap
    val real = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.8f, 0.3f)), (5L, Seq(0.0f, 1.0f)), (6L, Seq(0.1f, 0.9f)))
    // a zero VECTOR ties at -inf against every centroid and falls
    // through to the centroid_id-asc tie-break
    assert(assign(real :+ (7L -> Seq(0.0f, 0.0f)))(7L) === 0L)
    // a zero CENTROID loses to every real one; unguarded, its NaN
    // cosine would sort first under `ccos DESC` and take every vector
    val zeroCentroid = assign(Seq((0L, Seq(0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)), (5L, Seq(0.0f, 1.0f))))
    assert(zeroCentroid === Map(0L -> 0L, 1L -> 5L, 5L -> 5L))
  }
}
