package graft.similarity

import graft.ops.Materialize._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-similarity building blocks over the `embeddings` table
  * (vec_id, embedding ARRAY<FLOAT>, label): brute-force cosine top-k as the
  * correctness baseline and an IVF (inverted-file) bucketed variant as the
  * scale path.
  *
  * Cosine is computed in FIXED POINT: each coordinate is quantized to
  * round(x * 1000) as a long (the fixtures carry 3-decimal values, so this
  * is lossless), the dot product and norms are exact integer sums, and only
  * the final cosine = dot / sqrt(na) / sqrt(nb) touches floating point.
  * Integer sums are associative — the result is independent of Spark's
  * partitioning/order — and the final double is a chain of IEEE
  * correctly-rounded ops on exact integers, so DuckDB reproduces it
  * bit-for-bit. A naive float sum would be run-order-dependent at 100 TB.
  * Max |q| ≈ 1000 ⇒ dot ≤ dims·10⁶ — overflow-safe for dims ≪ 10¹².
  */
object VectorOps {

  val Scale = 1000

  /** ARRAY<FLOAT> → ARRAY<BIGINT> fixed-point quantization. */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * Scale).cast("long"))

  /** Exact integer dot product of two quantized vectors (portable
    * higher-order-function form — works on any session).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Squared norm of a quantized vector. */
  def norm2(a: Column): Column = dot(a, a)

  /** Session-aware dot: the native codegen'd [[graft.functions.FixedPointDot]]
    * when the session was built with graft.functions.GraftExtensions (a
    * tight primitive loop inside whole-stage codegen), else the HOF form
    * (which allocates an intermediate array per pair).
    */
  def dotFn(df: DataFrame): (Column, Column) => Column =
    if (df.sparkSession.catalog.functionExists("fixedpoint_dot"))
      (a, b) => call_function("fixedpoint_dot", a, b)
    else dot

  /** cosine from integer dot + squared norms (IEEE-deterministic). */
  def cosine(dotCol: Column, na: Column, nb: Column): Column =
    dotCol.cast("double") / sqrt(na.cast("double")) / sqrt(nb.cast("double"))

  /** [[cosine]] for centroid ASSIGNMENT: a zero-norm side (n2 = 0) scores
    * -∞ instead of NaN, so a degenerate (all-zero) vector or centroid
    * loses to every real one and the (cos desc, id asc) tie-break
    * resolves by centroid id. Unguarded, Spark sorts NaN largest, so an
    * all-zero centroid (NaN cosine to every vector) would win each
    * vector's `ccos DESC` row_number and pull the whole index into its
    * bucket.
    */
  def cosineAssign(dotCol: Column, na: Column, nb: Column): Column =
    when(na === 0 || nb === 0, lit(Double.NegativeInfinity))
      .otherwise(cosine(dotCol, na, nb))

  /** Session-aware quantize (the [[dotFn]] discipline): the native
    * codegen'd [[graft.functions.FixedPointQuantize]] when the session
    * registered GraftExtensions — the HOF form's LambdaFunction makes
    * its whole Project fall out of whole-stage codegen — else the
    * portable [[quantize]].
    */
  def quantizeFn(df: DataFrame): Column => Column =
    if (df.sparkSession.catalog.functionExists("fixedpoint_quantize"))
      c => call_function("fixedpoint_quantize", c)
    else quantize

  /** embeddings → (vec_id[, keep…], q ARRAY<BIGINT>, n2 BIGINT), the
    * working form. `keep` names extra corpus columns to carry through
    * (e.g. the language/label a bitext-mining split keys on) — threading
    * them here keeps ONE quantization definition instead of a re-join
    * of the corpus against itself just to recover a dropped column.
    */
  def quantized(embeddings: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val d = dotFn(embeddings)
    val qz = quantizeFn(embeddings)
    embeddings.select(col("vec_id") +: keep.map(col) :+
        qz(col("embedding")).as("q"): _*)
      .withColumn("n2", d(col("q"), col("q")))
  }

  /** Brute-force cosine top-k: every probe against the whole corpus.
    * The probe set is small and broadcast, so the corpus never shuffles —
    * the right baseline shape even at scale (cost is one corpus scan).
    */
  def knnBrute(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val d = dotFn(corpus)
    val c = quantized(corpus)
    val p = quantized(probes).select(col("vec_id").as("probe_id"),
      col("q").as("pq"), col("n2").as("pn2"))
    val scored = c.join(broadcast(p), col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", cosine(d(col("pq"), col("q")), col("pn2"),
        col("n2")))
    topK(scored, k)
  }

  /** IVF: centroids are a deterministic corpus subset (vec_id % modulo = 0);
    * every vector is assigned to its nearest centroid (one broadcast pass —
    * a narrow map, no shuffle of the corpus), and a probe searches only its
    * own centroid's bucket. The candidate join is keyed on centroid_id, so
    * work scales with bucket size, not corpus size.
    */
  def assignIvf(corpus: DataFrame, centroidModulo: Int,
      keep: Seq[String] = Nil): DataFrame =
    assignIvfScored(corpus, centroidModulo, keep).drop("ccos")

  /** [[assignIvf]] keeping the winning centroid cosine (`ccos`) — the
    * per-member "typicality" score SemDeDup-style semantic dedup ranks
    * on when choosing which member of a duplicate group to keep.
    * `keep` passes extra corpus columns through (see [[quantized]]);
    * centroids are still drawn from the FULL corpus regardless.
    */
  def assignIvfScored(corpus: DataFrame, centroidModulo: Int,
      keep: Seq[String] = Nil): DataFrame = {
    val d = dotFn(corpus)
    val q = quantized(corpus, keep)
    val cents = q.filter(col("vec_id") % centroidModulo === 0)
      .select(col("vec_id").as("centroid_id"), col("q").as("cq"),
        col("n2").as("cn2"))
    import org.apache.spark.sql.expressions.Window
    val scored = q.join(broadcast(cents))
      .withColumn("ccos", cosineAssign(d(col("q"), col("cq")), col("n2"),
        col("cn2")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("centroid_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id") +: keep.map(col) :+ col("centroid_id") :+
        col("q") :+ col("n2") :+ col("ccos"): _*)
  }

  /** Top-k per probe within the probe's IVF bucket. */
  def knnIvf(corpus: DataFrame, probeFilter: Column, centroidModulo: Int,
      k: Int): DataFrame =
    bucketTopK(assignIvf(corpus, centroidModulo), dotFn(corpus),
      probeFilter, k, sameOn = None)

  /** [[knnIvf]] under a metadata predicate (filtered vector search):
    * candidates must share the probe's `sameOn` value, enforced as a
    * conjunct of the bucket join — PRE-filtered semantics, so all k
    * survivors satisfy the predicate (post-filtering would silently
    * return fewer). `meta` is (vec_id, sameOn) and joins the assignment
    * on vec_id — co-partitioned; at scale the metadata rides the vector
    * row and the join disappears.
    */
  def knnIvfPreFiltered(corpus: DataFrame, probeFilter: Column,
      centroidModulo: Int, k: Int, meta: DataFrame,
      sameOn: String): DataFrame =
    bucketTopK(assignIvf(corpus, centroidModulo).join(meta, "vec_id"),
      dotFn(corpus), probeFilter, k, Some(sameOn))

  /** Shared bucket-search body: probe projection, centroid-keyed
    * candidate join (plus the optional same-`sameOn` conjunct),
    * self-exclusion, cosine rerank, per-probe top-k — one definition so
    * the filtered and unfiltered searches cannot drift.
    */
  private def bucketTopK(assigned: DataFrame, d: (Column, Column) => Column,
      probeFilter: Column, k: Int, sameOn: Option[String]): DataFrame =
    topK(bucketScored(assigned, d, probeFilter, sameOn), k,
      carry = sameOn.toSeq.map(col))

  /** Shared scored-candidate stage: probe projection, centroid-keyed
    * candidate join (plus the optional same-`sameOn` conjunct),
    * self-exclusion, cosine scoring — ONE definition composed by both
    * [[bucketTopK]] (rank window) and [[rangeSearch]] (τ filter), so the
    * k-bounded and radius-bounded searches cannot drift.
    */
  private def bucketScored(assigned: DataFrame,
      d: (Column, Column) => Column, probeFilter: Column,
      sameOn: Option[String]): DataFrame = {
    val probeCols = Seq(col("vec_id").as("probe_id"), col("centroid_id"),
      col("q").as("pq"), col("n2").as("pn2")) ++
      sameOn.map(c => col(c).as(s"p_$c"))
    val probes = assigned.filter(probeFilter).select(probeCols: _*)
    val joined = assigned.join(probes, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("probe_id"))
    val filtered = sameOn.fold(joined)(c =>
      joined.filter(col(c) === col(s"p_$c")))
    filtered.withColumn("cosine",
      cosine(d(col("pq"), col("q")), col("pn2"), col("n2")))
  }

  /** Deterministic ±1 hyperplane matrix for sign-LSH: entry (plane j, dim
    * i) is +1 iff the first hex digit of md5("j|i") ≥ '8'. Derived from
    * md5 so any engine (and the DuckDB oracle) can reproduce it; fixed at
    * plan time, shipped as literal arrays.
    */
  def hyperplaneSigns(planes: Int, dims: Int): Array[Array[Long]] =
    Array.tabulate(planes) { j =>
      Array.tabulate(dims) { i =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$j|$i".getBytes("UTF-8"))
        if (((md(0) >> 4) & 0xf) >= 8) 1L else -1L
      }
    }

  /** Random-hyperplane (sign) LSH signature: bit j = sign of q·h_j, as a
    * '0'/'1' string. Equal signatures → same bucket; the classic cosine-LSH
    * scale path (bucket join instead of all-pairs). Each projection is one
    * [[dot]] against a literal sign vector — codegen'd when the native
    * fixedpoint_dot is registered.
    */
  def lshSignature(corpus: DataFrame, planes: Int, dims: Int): DataFrame =
    lshSignatureFull(corpus, planes, dims)
      .select(col("vec_id"), col("signature"))

  /** Top-k per probe within the probe's full-signature LSH bucket — the
    * second ANN bucketing scheme next to [[knnIvf]]: candidates share all
    * `planes` sign bits, reranked by exact cosine. Cost tracks bucket
    * size (n/2^planes on average); probes with a lonely signature return
    * no rows (the honest LSH failure mode IVF doesn't have — production
    * multi-probes neighboring signatures).
    */
  def knnLshBucket(corpus: DataFrame, probeFilter: Column, planes: Int,
      dims: Int, k: Int): DataFrame = {
    val d = dotFn(corpus)
    // one signature pass feeds probes AND corpus sides of the join
    val sigs = lshSignatureFull(corpus, planes, dims).materialize()
    val probes = sigs.filter(probeFilter)
      .select(col("signature"), col("vec_id").as("probe_id"),
        col("q").as("pq"), col("n2").as("pn2"))
    val scored = sigs.join(probes, Seq("signature"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", cosine(d(col("pq"), col("q")), col("pn2"),
        col("n2")))
    topK(scored, k)
  }

  /** [[lshSignature]] keeping the quantized vector and norm — the working
    * form for signature-bucketed k-NN (join on the signature, cosine
    * rerank inside the bucket).
    */
  def lshSignatureFull(corpus: DataFrame, planes: Int,
      dims: Int): DataFrame = {
    val d = dotFn(corpus)
    val signs = hyperplaneSigns(planes, dims)
    val q = quantized(corpus)
    val bits = (0 until planes).map { j =>
      when(d(col("q"), array(signs(j).map(lit).toSeq: _*)) >= 0, "1")
        .otherwise("0")
    }
    q.select(col("vec_id"), concat(bits: _*).as("signature"), col("q"),
      col("n2"))
  }

  /** Radius (threshold) search within the probe's IVF bucket: every
    * candidate with cosine ≥ `tau`, not a fixed k — the dedup/recall
    * companion to [[knnIvf]] ("give me ALL near-matches", e.g. candidate
    * generation for a human-review queue). Same bucket-join body as
    * [[bucketTopK]] — cost tracks bucket size — but the per-probe window
    * is replaced by a narrow filter, so this is pure
    * scan→join→filter: no window, no sort, fully combinable, and the
    * output size is governed by `tau` alone. Approximation contract is
    * IVF's: a qualifying neighbor assigned to a different centroid is
    * missed (the oracle mirrors bucketing exactly, so the gate measures
    * the operator, not the recall).
    */
  def rangeSearch(corpus: DataFrame, probeFilter: Column,
      centroidModulo: Int, tau: Double): DataFrame =
    bucketScored(assignIvf(corpus, centroidModulo), dotFn(corpus),
        probeFilter, sameOn = None)
      .filter(col("cosine") >= tau)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("cosine"))

  private def topK(scored: DataFrame, k: Int,
      carry: Seq[Column] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id") +: col("vec_id").as("neighbor_id") +:
        carry :+ col("cosine") :+ col("rank"): _*)
  }
}
