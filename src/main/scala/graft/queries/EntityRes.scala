package graft.queries

import graft.{Q, Tables}
import graft.ops.Materialize._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity resolution / record linkage — the MDM-style operator family
  * (Fellegi–Sunter blocking → pairwise scoring → match decision →
  * entity clustering → golden-record survivorship) the curation side of
  * a training-data pipeline needs when the "duplicates" are structured
  * RECORDS from several source systems rather than near-identical text.
  * Same discipline as the dedup family: candidate generation is ALWAYS
  * blocked (never all-pairs), expensive scoring runs only on in-block
  * pairs, clustering is the bounded [[graft.ops.Components]] propagation,
  * and every step is mirrored in DuckDB SQL so the whole chain sits
  * under the hash gate.
  *
  * The fixture has no dirty-records table, so one is SYNTHESIZED
  * deterministically from `customer` (the dd_url_dedup crawl-variant
  * precedent): each customer yields three source-system records whose
  * name variants exercise the matcher —
  *   - v0 `crm`: the clean name (`Customer#000000042`);
  *   - v1 `web`: a doubled consonant (`Customerr#…`, edit distance 1) —
  *     and for every 5th customer a TRIPLED one (`Customerrr#…`,
  *     distance 2), deliberately past the match threshold so the family
  *     has structural false negatives to measure; v1 also arrives with
  *     a NULL market segment (source-system incompleteness, so golden-
  *     record survivorship has real work);
  *   - v2 `pos`: lower-cased with the `#` dropped — distance 0 after
  *     normalization, a pure canonicalization catch.
  * Ground truth (the generating c_custkey) rides along for EVALUATION
  * ONLY (the txt_langid_eval discipline); the matcher itself sees just
  * name / nation / segment.
  */
object EntityRes {

  /** The dirty-records synthesis: (rec_id, c_custkey, c_nationkey,
    * c_acctbal, src, name, seg). rec_id = custkey·3 + variant, so the
    * eval side can recover ground truth as `rec_id div 3` without a
    * join. Narrow: one customer scan × a 3-row explode, all codegen
    * string ops. Mirrored literally in [[recordsSql]].
    */
  private[graft] def records(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"),
        explode(array(lit(0), lit(1), lit(2))).as("v"))
      .select(
        (col("c_custkey") * 3 + col("v")).as("rec_id"),
        col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        when(col("v") === 0, lit("crm"))
          .when(col("v") === 1, lit("web")).otherwise(lit("pos")).as("src"),
        when(col("v") === 0, col("c_name"))
          .when(col("v") === 1, concat(substring(col("c_name"), 1, 8),
            when(col("c_custkey") % 5 === 0, lit("rr")).otherwise(lit("r")),
            substring(col("c_name"), 9, 100)))
          .otherwise(expr("replace(lower(c_name), '#', '')")).as("name"),
        when(col("v") === 1, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("seg"))

  /** DuckDB mirror of [[records]] as a `recs` CTE. */
  private def recordsSql: String = """
    recs AS (
      SELECT c_custkey * 3 + v AS rec_id,
             c_custkey, c_nationkey, c_acctbal,
             CASE v WHEN 0 THEN 'crm' WHEN 1 THEN 'web' ELSE 'pos'
               END AS src,
             CASE v
               WHEN 0 THEN c_name
               WHEN 1 THEN substr(c_name, 1, 8) ||
                    CASE WHEN c_custkey % 5 = 0 THEN 'rr' ELSE 'r' END ||
                    substr(c_name, 9, 100)
               ELSE replace(lower(c_name), '#', '') END AS name,
             CASE WHEN v = 1 THEN NULL ELSE c_mktsegment END AS seg
      FROM customer CROSS JOIN (SELECT unnest([0, 1, 2]) AS v))"""

  /** Normalization + blocking key over a records frame: `norm` folds
    * case and punctuation (so v2 lands at distance 0), and the blocking
    * key = nation × last-two-digits-of-norm — computable from record
    * FIELDS only (never the ground-truth key), collides all variants of
    * one customer by construction, and bounds candidate generation to
    * Σ|block|² instead of n². Key selectivity is the whole scaling
    * story: a one-digit key makes |block| grow linearly with the corpus
    * (measured 15 s at sf0.1 — quadratic in disguise); the two-digit
    * key is 10× more selective, and production blocking picks keys so
    * |block| stays O(1) in corpus size (then Σ|block|² is linear).
    *
    * Digit-suffix assumption, made SAFE rather than assumed: the
    * fixture's names all end in digits (`Customer#000000042` and its
    * variants), but this function takes any records frame, and input
    * from outside the fixture need not follow that naming. A plain CAST
    * of a non-numeric suffix yields null under Spark's non-ANSI cast
    * but RAISES in DuckDB — divergent engines outside the fixture — so
    * both sides use TRY_CAST folded to a −1 sentinel: every digitless
    * record in a nation lands in one well-defined fallback block
    * (nation·100 − 1) instead of an unblockable null, and the two
    * engines agree on every input.
    */
  private[graft] def keyed(recs: DataFrame): DataFrame =
    recs
      .withColumn("norm", expr("replace(lower(name), '#', '')"))
      .withColumn("bk", col("c_nationkey").cast("long") * 100 +
        expr("coalesce(TRY_CAST(substring(norm, length(norm) - 1, 2)" +
          " AS BIGINT), -1)"))

  private def keyedSql: String = """
    keyed AS (
      SELECT *, replace(lower(name), '#', '') AS norm,
             c_nationkey * 100 +
               coalesce(TRY_CAST(substr(norm, length(norm) - 1, 2)
                 AS BIGINT), -1) AS bk
      FROM recs)"""

  /** Hot-block pair cap: records kept per blocking key before the
    * scorer sees them, and the salt fan-out bounding the final
    * per-block window at Cap×Salt rows (the dd_domain_cap discipline).
    * 4 truncates real fixture blocks (variants cluster 3+ per customer,
    * collisions push past 4), so the cap is exercised by the oracle
    * gate, not just the planted-hot-block spec.
    */
  private[graft] val BlockCap = 4
  private[graft] val BlockCapSalt = 8

  /** [[keyed]] with each block capped at `cap` records — the hot-block
    * safety valve [[scoredPairsOf]] itself deliberately lacks: a
    * pathological key collecting a data-sized block (one default city
    * field, an empty-string name) would otherwise go quadratic no
    * matter how selective the OTHER keys are. Survivors are chosen by
    * a salted-md5 order (unbiased — block position, not record
    * content, decides nothing) with rec_id as the total-order tie
    * break, so both engines and every rerun keep the same records.
    * Two-phase ranking bounds the final window at Cap×Salt rows per
    * block (the per-(block, salt) pre-rank keeps a superset of the
    * final top-Cap — top-k distributes over any partition of the
    * input); the DuckDB mirror needs only the single logical window.
    * Capped-OUT records simply generate no pairs (they surface as
    * singletons downstream) — and the truncation is never silent:
    * er_report_capped carries THIS lineage's truncation economics
    * (n_kept / n_capped_out — er_blocking's cap columns describe the
    * cap against the scaled DEFAULT key since r16, a different key at
    * sf ≥ 0.1), and er_pairs_capped gates this exact lineage.
    */
  private[graft] def cappedKeyed(k: DataFrame,
      cap: Int = BlockCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = expr("CAST(conv(substring(md5(concat('ercap', " +
      "CAST(rec_id AS STRING))), 1, 15), 16, 10) AS BIGINT)")
    val order = Seq(h.asc, col("rec_id").asc)
    val pre = Window.partitionBy(col("bk"),
      pmod(col("rec_id"), lit(BlockCapSalt))).orderBy(order: _*)
    val fin = Window.partitionBy(col("bk")).orderBy(order: _*)
    k.withColumn("pre_rk", row_number().over(pre))
      .filter(col("pre_rk") <= cap)
      .withColumn("cap_rk", row_number().over(fin))
      .filter(col("cap_rk") <= cap)
      .drop("pre_rk", "cap_rk")
  }

  /** DuckDB mirror of [[cappedKeyed]] as a `ckeyed` CTE (single
    * window — the salted pre-pass is result-invisible).
    */
  private def cappedKeyedSql(cap: Int = BlockCap): String = s"""
    ckeyed AS (
      SELECT rec_id, c_custkey, c_nationkey, c_acctbal, src, name, seg,
             norm, bk
      FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY bk
                 ORDER BY CAST('0x' || substr(md5('ercap' ||
                   CAST(rec_id AS VARCHAR)), 1, 15) AS BIGINT),
                   rec_id) AS cap_rk
        FROM keyed)
      WHERE cap_rk <= $cap)"""

  /** The OTHER branch of the sf1.0 operating rule (BASELINE.md: "EITHER
    * scale the blocking key's selectivity with the corpus OR run the
    * capped lineage" — r14 verdict task 3): a blocking key whose
    * digit-count GROWS with corpus size, so mean block size — and with
    * it Σ|block|², the scorer's whole bill — stays O(1) as the corpus
    * scales and the uncapped super-linear exponent the fixed 2-digit
    * key measured (1.17 pairs / 1.46 report at sf1.0) flattens to
    * ≈ linear.
    *
    * digits = clamp(2..6, decimal digits of n_corpus/150): one more
    * digit per 10× corpus, i.e. 10× more blocks per nation, holding
    * records-per-block at ~1.8 for this fixture family (sf0.01 → 2
    * digits — the er_pairs key exactly; sf0.1 → 3; the 10×-amplified
    * sf1.0 → 4). The corpus count rides as a broadcast 1-row aggregate
    * (the txt_surprisal totals pattern — no driver collect, no
    * cluster-size assumption), and the key is the STRING
    * `nation:right(norm, digits)` — `right` is total on short norms
    * where a computed-start substring would diverge between engines.
    * Variants of one customer share their full 9-digit suffix, so any
    * digit-count collides them by construction; recall is preserved at
    * every scale while selectivity tracks the corpus.
    */
  private[graft] def scaledKeyed(recs: DataFrame): DataFrame = {
    val n1 = recs.agg(count(lit(1)).as("n_corpus"))
    recs
      .crossJoin(broadcast(n1))
      .withColumn("digits", greatest(lit(2), least(lit(6),
        length(expr("CAST(n_corpus div 150 AS STRING)")))))
      .withColumn("norm", expr("replace(lower(name), '#', '')"))
      .withColumn("bk", concat(col("c_nationkey").cast("string"),
        lit(":"), expr("right(norm, digits)")))
  }

  /** DuckDB mirror of [[scaledKeyed]] as a `skeyed` CTE. */
  private def scaledKeyedSql: String = """
    n AS (SELECT count(*) AS n_corpus FROM recs),
    skeyed AS (
      SELECT r.*, replace(lower(name), '#', '') AS norm,
             CAST(c_nationkey AS VARCHAR) || ':' ||
               right(replace(lower(name), '#', ''),
                 GREATEST(2, LEAST(6,
                   length(CAST(n_corpus // 150 AS VARCHAR))))) AS bk
      FROM recs r CROSS JOIN n)"""

  /** In-block candidate pairs with the pairwise feature vector:
    * levenshtein over normalized names (computed ONLY inside blocks),
    * null-safe segment agreement, and the match decision (distance
    * ≤ 1). Shared by er_pairs / er_match / er_entities / er_golden so
    * the decision rule cannot drift between the views.
    *
    * Blocking key: [[scaledKeyed]] — the DEFAULT family lineage is the
    * scale-safe one (r15 verdict: "a user who reaches for er_report at
    * scale gets the quadratic plan today"). The fixed 2-digit key's
    * measured super-linear exponents (1.17 pairs / 1.46 report at
    * sf1.0, Σ|block|² under fixed selectivity) live on as the
    * explicitly-named `er_*_fixedkey_demo` demonstration cards. On the
    * fixture every norm ends in digits, so at sf ≤ 0.01 (digits = 2)
    * the scaled key blocks IDENTICALLY to the old fixed key — same
    * candidate set, same oracle rows — while sf ≥ 0.1 gets the finer
    * key the corpus size demands.
    */
  private[graft] def scoredPairs(s: SparkSession, dir: String): DataFrame =
    scoredPairsOf(scaledKeyed(records(s, dir)))

  /** The same blocked scorer over ANY keyed records frame — the seam the
    * 90k-record scale smoke drives, so it exercises the identical
    * join/scoring lineage the oracle gates.
    */
  private[graft] def scoredPairsOf(k: DataFrame): DataFrame = {
    val s = k.sparkSession
    // repartition the probe side on the blocking key: the customer scan
    // is one file locally, and a broadcast join would inherit its 1-2
    // input partitions — serializing millions of levenshtein calls onto
    // one core. Exchanging on bk is exactly the shuffle the blocked
    // join pays at cluster scale anyway; the scorer then parallelizes
    // by block wherever the input layout came from. The EXPLICIT count
    // (vs repartition(col)) matters: AQE coalesces size-based shuffles
    // to ~1 partition on the few-MB record table, blind to the
    // pair-scoring CPU downstream of the join.
    val shufflePartitions = s.conf.get("spark.sql.shuffle.partitions").toInt
    // r19: the r18 shared-subtree form relied on AQE runtime stage
    // reuse to run the synthesis + exchange once — and the profiler
    // shows that reuse does NOT fire (er_report's stage decomposition
    // had TWO near-identical synthesis stages, 32 tasks each, ~1 MB
    // shuffle write each: the explode×3 + normalization + exchange ran
    // per side). Make the sharing physical instead: materialize the
    // keyed projection ONCE after the bk exchange and re-claim
    // hash(bk, n) through the checkpoint bridge (the Components edge
    // discipline), so the self-join reads one checkpointed frame from
    // both sides with NO further exchange and the synthesis runs
    // exactly once. At cluster scale this is the same one-shuffle plan
    // the r18 form intended; the checkpoint is block-local.
    val kp = org.apache.spark.sql.GraftBridge.reclaimHashPartitioning(
      k.select(col("bk"), col("rec_id"), col("norm"), col("seg"))
        .repartition(shufflePartitions, col("bk"))
        .materialize(),
      Seq("bk"), shufflePartitions)
    val a = kp.select(col("bk"), col("rec_id").as("rec_a"),
      col("norm").as("norm_a"), col("seg").as("seg_a"))
    val b = kp.select(col("bk"), col("rec_id").as("rec_b"),
      col("norm").as("norm_b"), col("seg").as("seg_b"))
    a.join(b, Seq("bk"))
      .filter(col("rec_a") < col("rec_b"))
      .select(col("rec_a"), col("rec_b"),
        // THRESHOLDED levenshtein (banded O(k·n) DP, not full O(n·m)):
        // no consumer reads a distance above 2 (er_pairs cuts at 2, the
        // match rule at 1), so the scorer never pays for the exact
        // value of a far pair — the difference between O(n·m) and
        // O(k·n) per comparison is the scorer's whole budget on long
        // fields at scale. Spark returns -1 past the threshold; map it
        // to 3 (any value > 2) so the ≤2 cut can't admit it. Distances
        // 0..2 are exact, so the md5-free oracle (exact levenshtein)
        // sees identical surviving rows.
        levenshtein(col("norm_a"), col("norm_b"), 2).cast("long")
          .as("d_raw"),
        (col("seg_a") <=> col("seg_b")).cast("long").as("seg_agree"))
      .withColumn("name_dist",
        when(col("d_raw") < 0, lit(3L)).otherwise(col("d_raw")))
      .drop("d_raw")
      .withColumn("is_match", (col("name_dist") <= 1).cast("long"))
  }

  private def scoredPairsSql: String = s"""
    $recordsSql,
    $scaledKeyedSql,
    pairs AS (
      -- LEAST(…, 3) mirrors Spark's THRESHOLDED levenshtein exactly:
      -- the Spark side maps every past-threshold distance to 3, so the
      -- mirror must too — value-identical pairs cross-engine, not mere
      -- agreement-after-the-≤2-filter (a future consumer reading raw
      -- name_dist would otherwise silently diverge)
      SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
             LEAST(CAST(levenshtein(a.norm, b.norm) AS BIGINT), 3)
               AS name_dist,
             CAST(a.seg IS NOT DISTINCT FROM b.seg AS BIGINT) AS seg_agree,
             CAST(levenshtein(a.norm, b.norm) <= 1 AS BIGINT) AS is_match
      FROM skeyed a JOIN skeyed b ON a.bk = b.bk AND a.rec_id < b.rec_id)"""

  val qs: Seq[Q] = Seq(

    // ---- blocking-efficiency card ------------------------------------------
    // The table a linkage engineer reads before paying for scoring: per
    // blocking key, how many records land in the block and how many
    // pairs that commits the matcher to (Σ n(n−1)/2 across blocks vs
    // n(n−1)/2 all-pairs is the whole economics of blocking). One
    // narrow synthesis pass + one combinable aggregate; nothing here is
    // bigger than the block-key domain.
    Q("er_blocking",
      // over the corpus-SCALED key since r16 — the card describes the
      // economics of the key the DEFAULT family lineage actually pays
      // for (er_report's n_blocks/n_candidates stay coherent with this
      // card at EVERY sf, not just where the keys coincide); the
      // fixed-key+cap arm's own truncation economics live in
      // er_report_capped's n_kept/n_capped_out columns
      (s, dir) => scaledKeyed(records(s, dir))
        .groupBy(col("bk"))
        .agg(count(lit(1)).as("n_records"))
        .select(col("bk"), col("n_records"),
          // div, not `/`: Column./ on longs is IEEE double division —
          // the integer quotient is what DuckDB's // yields
          expr("(n_records * (n_records - 1)) div 2").as("n_pairs"),
          // the hot-block cap's bound IF APPLIED TO THIS (scaled) KEY —
          // the safety-valve sizing a reader checks before trusting the
          // default lineage uncapped. NOTE r16: the ACTUAL capped
          // lineage (er_pairs_capped / er_report_capped) deliberately
          // runs the FIXED key, and ITS truncation economics live in
          // er_report_capped's n_kept / n_capped_out columns — this
          // card's columns no longer describe that lineage at sf where
          // the keys diverge
          least(col("n_records"), lit(BlockCap.toLong)).as("n_capped"),
          expr(s"(least(n_records, $BlockCap) * " +
            s"(least(n_records, $BlockCap) - 1)) div 2")
            .as("n_pairs_capped"),
          expr(s"(n_records * (n_records - 1)) div 2 - " +
            s"(least(n_records, $BlockCap) * " +
            s"(least(n_records, $BlockCap) - 1)) div 2")
            .as("n_pairs_dropped")),
      Some(s"""
        WITH $recordsSql, $scaledKeyedSql
        SELECT bk, count(*) AS n_records,
               count(*) * (count(*) - 1) // 2 AS n_pairs,
               LEAST(count(*), $BlockCap) AS n_capped,
               LEAST(count(*), $BlockCap) *
                 (LEAST(count(*), $BlockCap) - 1) // 2 AS n_pairs_capped,
               count(*) * (count(*) - 1) // 2 -
                 LEAST(count(*), $BlockCap) *
                 (LEAST(count(*), $BlockCap) - 1) // 2 AS n_pairs_dropped
        FROM skeyed GROUP BY bk""")),

    // ---- capped scored pairs (the hot-block safety valve) -------------------
    // The SAME blocked scorer over the BlockCap-capped blocks — the
    // lineage a 100 TB run uses when key selectivity cannot be trusted
    // (a default-value field, an empty name): per-block candidate work
    // is bounded at Cap(Cap−1)/2 regardless of how hot a key gets,
    // records past the cap surface as singletons rather than melting an
    // executor. Blocks already under the cap score IDENTICALLY to
    // er_pairs (ErCapSpec proves that recall contract plus the bound on
    // a planted 2k-record hot block).
    Q("er_pairs_capped",
      (s, dir) => scoredPairsOf(cappedKeyed(keyed(records(s, dir))))
        .filter(col("name_dist") <= 2),
      Some(s"""
        WITH $recordsSql, $keyedSql, ${cappedKeyedSql()},
        pairs AS (
          SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
                 LEAST(CAST(levenshtein(a.norm, b.norm) AS BIGINT), 3)
                   AS name_dist,
                 CAST(a.seg IS NOT DISTINCT FROM b.seg AS BIGINT)
                   AS seg_agree,
                 CAST(levenshtein(a.norm, b.norm) <= 1 AS BIGINT)
                   AS is_match
          FROM ckeyed a JOIN ckeyed b
            ON a.bk = b.bk AND a.rec_id < b.rec_id)
        SELECT * FROM pairs WHERE name_dist <= 2""")),

    // ---- scored pairs under the FIXED 2-digit key: a DEMONSTRATION ----------
    // The known-quadratic failure mode, kept as an explicitly-named demo
    // (r15 verdict task 2): Σ|block|² under a fixed-selectivity key is
    // super-linear in corpus size by construction — measured exponent
    // 1.17 at the sf1.0 amplification (BASELINE.md "sf1.0 scaling").
    // The DEFAULT er_pairs below runs the corpus-scaled key; this card
    // exists so the failure mode stays measured and teachable, never
    // reachable under a default name.
    Q("er_pairs_fixedkey_demo",
      (s, dir) => scoredPairsOf(keyed(records(s, dir)))
        .filter(col("name_dist") <= 2),
      Some(s"""
        WITH $recordsSql, $keyedSql,
        pairs AS (
          SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
                 LEAST(CAST(levenshtein(a.norm, b.norm) AS BIGINT), 3)
                   AS name_dist,
                 CAST(a.seg IS NOT DISTINCT FROM b.seg AS BIGINT)
                   AS seg_agree,
                 CAST(levenshtein(a.norm, b.norm) <= 1 AS BIGINT)
                   AS is_match
          FROM keyed a JOIN keyed b
            ON a.bk = b.bk AND a.rec_id < b.rec_id)
        SELECT * FROM pairs WHERE name_dist <= 2""")),

    // ---- scored candidate pairs --------------------------------------------
    // The pairwise comparison vector (Fellegi–Sunter's gamma), restricted
    // to near pairs (distance ≤ 2) so the output is decision-sized:
    // matches, plus the distance-2 near-misses a threshold review would
    // look at. Levenshtein runs ONLY on in-block pairs — the blocked
    // join IS the guard that keeps the quadratic scorer affordable —
    // and the block key is the corpus-SCALED one ([[scaledKeyed]]): its
    // digit-count grows with the corpus so per-block work is O(1) at
    // any scale (measured envelope 0.33/1.00 across the sf1.0 segments,
    // vs 1.17 for the fixed key now demoted to er_pairs_fixedkey_demo).
    Q("er_pairs",
      (s, dir) => scoredPairs(s, dir).filter(col("name_dist") <= 2),
      Some(s"""
        WITH $scoredPairsSql
        SELECT * FROM pairs WHERE name_dist <= 2""")),

    // ---- matcher evaluation against the synthesis ground truth -------------
    // The er twin of txt_langid_eval: ground truth (same generating
    // custkey ⇔ same entity) is recoverable as rec_id div 3, so
    // TP/FP/FN and integer per-mille precision/recall are exact. FN > 0
    // by construction (every 5th customer's web record sits at distance
    // 2); all true pairs are in-block by construction, so FN here is
    // the THRESHOLD's miss, not blocking's. One aggregate over the
    // scored pairs + the true-pair total 3·|customers| as a 1-row cross.
    Q("er_match",
      (s, dir) => {
        val sp = scoredPairs(s, dir)
          .withColumn("same_entity",
            (expr("rec_a div 3") === expr("rec_b div 3")).cast("long"))
        val agg = sp.agg(
          count(lit(1)).as("n_candidates"),
          sum(col("is_match") * col("same_entity")).as("tp"),
          sum(col("is_match") * (lit(1) - col("same_entity"))).as("fp"),
          sum((lit(1) - col("is_match")) * col("same_entity")).as("fn"))
        val total = records(s, dir).agg(count(lit(1)).as("n_true_pairs"))
        agg.crossJoin(total).select(
          col("n_candidates"), col("n_true_pairs"), col("tp"), col("fp"),
          col("fn"),
          expr("(tp * 1000) div (tp + fp)").as("precision_pm"),
          expr("(tp * 1000) div (tp + fn)").as("recall_pm"))
      },
      Some(s"""
        WITH $scoredPairsSql,
        ev AS (
          SELECT count(*) AS n_candidates,
                 CAST(sum(is_match * same_entity) AS BIGINT) AS tp,
                 CAST(sum(is_match * (1 - same_entity)) AS BIGINT) AS fp,
                 CAST(sum((1 - is_match) * same_entity) AS BIGINT) AS fn
          FROM (SELECT *,
                  CAST(rec_a // 3 = rec_b // 3 AS BIGINT) AS same_entity
                FROM pairs)),
        tot AS (SELECT count(*) AS n_true_pairs FROM recs)
        SELECT n_candidates, n_true_pairs, tp, fp, fn,
               (tp * 1000) // (tp + fp) AS precision_pm,
               (tp * 1000) // (tp + fn) AS recall_pm
        FROM ev CROSS JOIN tot""")),

    // ---- entity formation: matched pairs → clusters ------------------------
    // The dd_clusters discipline on record linkage: bounded min-label
    // propagation (ops.Components, 3 rounds — match clusters are
    // near-cliques, diameter ≤ 2) over the MATCHED pairs only, plus the
    // entity size joined back. A false-positive merge shows up here as
    // an entity spanning two custkeys — exactly what er_golden surfaces.
    Q("er_entities",
      (s, dir) => {
        val matched = scoredPairs(s, dir).filter(col("is_match") === 1)
          .select(col("rec_a").as("doc_a"), col("rec_b").as("doc_b"))
        val labeled = graft.ops.Components.label(matched, rounds = 3)
          .select(col("doc_id").as("rec_id"), col("cluster_id")
            .as("entity_id"))
        val sizes = labeled.groupBy(col("entity_id"))
          .agg(count(lit(1)).as("entity_size"))
        labeled.join(sizes, Seq("entity_id"))
          .select(col("rec_id"), col("entity_id"), col("entity_size"))
      },
      Some(s"""
        WITH $scoredPairsSql,
        cand AS (
          SELECT rec_a AS doc_a, rec_b AS doc_b FROM pairs
          WHERE is_match = 1),
        ${graft.ops.Components.labelSql(3)},
        lab AS (SELECT doc_id AS rec_id, cluster_id AS entity_id FROM l3)
        SELECT rec_id, entity_id, count(*) OVER (PARTITION BY entity_id)
                 AS entity_size
        FROM lab""")),

    // ---- golden-record survivorship ----------------------------------------
    // The MDM merge: per entity (matched clusters ∪ unmatched records as
    // their own singleton entities — the dd_cluster_sizes completeness
    // rule, so every record lands in exactly one entity), pick the
    // surviving record by source priority crm > web > pos (ties to the
    // lowest rec_id) via one packed-integer min — src_rank·10¹² + rec_id
    // stays far under 2⁶³ at any custkey scale — and merge fields:
    // segment = max over members (max ignores the web NULLs in both
    // engines — survivorship by completeness), balance = exact max
    // (doubles compare exactly; no sum, so no fxsum needed). n_custkeys
    // audits false-positive merges: > 1 means the matcher glued two
    // real customers.
    Q("er_golden",
      (s, dir) => {
        val matched = scoredPairs(s, dir).filter(col("is_match") === 1)
          .select(col("rec_a").as("doc_a"), col("rec_b").as("doc_b"))
        val labeled = graft.ops.Components.label(matched, rounds = 3,
            materializeResult = false) // consumed once (r19)
          .select(col("doc_id").as("rec_id"), col("cluster_id")
            .as("entity_id"))
        val recs = records(s, dir)
        val members = recs.join(labeled, Seq("rec_id"), "left")
          .withColumn("entity_id",
            coalesce(col("entity_id"), col("rec_id")))
          .withColumn("src_rank",
            when(col("src") === "crm", 0L)
              .when(col("src") === "web", 1L).otherwise(2L))
        members.groupBy(col("entity_id"))
          .agg(
            min(col("src_rank") * 1000000000000L + col("rec_id"))
              .as("pk"),
            count(lit(1)).as("n_records"),
            countDistinct(col("c_custkey")).as("n_custkeys"),
            max(col("seg")).as("seg"),
            max(col("c_acctbal")).as("bal_max"))
          .select(col("entity_id"),
            expr("pk % 1000000000000").as("golden_rec"),
            when(expr("pk div 1000000000000") === 0, "crm")
              .when(expr("pk div 1000000000000") === 1, "web")
              .otherwise("pos").as("golden_src"),
            col("n_records"), col("n_custkeys"), col("seg"),
            col("bal_max"))
      },
      Some(s"""
        WITH $scoredPairsSql,
        cand AS (
          SELECT rec_a AS doc_a, rec_b AS doc_b FROM pairs
          WHERE is_match = 1),
        ${graft.ops.Components.labelSql(3)},
        members AS (
          SELECT r.*, coalesce(l.cluster_id, r.rec_id) AS entity_id,
                 CASE r.src WHEN 'crm' THEN 0 WHEN 'web' THEN 1 ELSE 2
                   END AS src_rank
          FROM recs r LEFT JOIN l3 l ON l.doc_id = r.rec_id),
        g AS (
          SELECT entity_id,
                 min(src_rank * 1000000000000 + rec_id) AS pk,
                 count(*) AS n_records,
                 count(DISTINCT c_custkey) AS n_custkeys,
                 max(seg) AS seg,
                 max(c_acctbal) AS bal_max
          FROM members GROUP BY entity_id)
        SELECT entity_id, pk % 1000000000000 AS golden_rec,
               CASE pk // 1000000000000 WHEN 0 THEN 'crm'
                 WHEN 1 THEN 'web' ELSE 'pos' END AS golden_src,
               n_records, n_custkeys, seg, bal_max
        FROM g""")),

    // ---- the linkage data card (dd_report discipline) ----------------------
    // One row a pipeline owner reads after a linkage run: corpus size,
    // blocking fan-in, candidate/match volume, entity formation, and the
    // largest merged entity (the FP-chain alarm). Composed from the SAME
    // scaledKeyed/scoredPairs/Components definitions as the detail views —
    // coherence with er_blocking/er_entities is spec-enforced — so the
    // card cannot disagree with the tables it summarizes. Three
    // model-sized aggregate sides cross into the single row (the
    // allowlisted dq_expectations shape).
    Q("er_report",
      (s, dir) => {
        val k = scaledKeyed(records(s, dir))
        val sp = scoredPairsOf(k).materialize()
        val blocks = k.agg(count(lit(1)).as("n_records"),
          countDistinct(col("bk")).as("n_blocks"))
        val pairsAgg = sp.agg(count(lit(1)).as("n_candidates"),
          sum(col("is_match")).as("n_matches"))
        val entAgg = graft.ops.Components.label(
            sp.filter(col("is_match") === 1)
              .select(col("rec_a").as("doc_a"), col("rec_b").as("doc_b")),
            rounds = 3,
            // input = a filter over the sp checkpoint, labels consumed
            // once — both barrier skips apply (r19)
            inputMaterialized = true, materializeResult = false)
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_entities_multi"),
            sum(col("sz")).as("n_linked_records"),
            max(col("sz")).as("largest_entity"))
        blocks.crossJoin(pairsAgg).crossJoin(entAgg)
          .select(col("n_records"), col("n_blocks"), col("n_candidates"),
            col("n_matches"), col("n_entities_multi"),
            col("n_linked_records"),
            (col("n_records") - col("n_linked_records"))
              .as("n_singletons"),
            col("largest_entity"))
      },
      Some(s"""
        WITH $scoredPairsSql,
        blocks_a AS (
          SELECT count(*) AS n_records, count(DISTINCT bk) AS n_blocks
          FROM skeyed),
        pairs_a AS (
          SELECT count(*) AS n_candidates,
                 CAST(sum(is_match) AS BIGINT) AS n_matches
          FROM pairs),
        cand AS (
          SELECT rec_a AS doc_a, rec_b AS doc_b FROM pairs
          WHERE is_match = 1),
        ${graft.ops.Components.labelSql(3)},
        szs AS (SELECT cluster_id, count(*) AS sz FROM l3 GROUP BY 1),
        ent_a AS (
          SELECT count(*) AS n_entities_multi,
                 CAST(sum(sz) AS BIGINT) AS n_linked_records,
                 max(sz) AS largest_entity
          FROM szs)
        SELECT n_records, n_blocks, n_candidates, n_matches,
               n_entities_multi, n_linked_records,
               n_records - n_linked_records AS n_singletons,
               largest_entity
        FROM blocks_a CROSS JOIN pairs_a CROSS JOIN ent_a""")),

    // ---- the linkage card on the FIXED 2-digit key: a DEMONSTRATION --------
    // The old er_report lineage, demoted to an explicitly-named demo
    // (r15 verdict task 2): the UNCAPPED scorer under the fixed key
    // measured scaling exponent ~1.46 at the sf1.0 amplification
    // (BASELINE.md "sf1.0 scaling") — Σ|block|² under fixed selectivity
    // is quadratic in corpus size by construction. Kept so the failure
    // mode stays measured; the default er_report above runs the
    // corpus-scaled key.
    Q("er_report_fixedkey_demo",
      (s, dir) => {
        val k = keyed(records(s, dir))
        val sp = scoredPairsOf(k).materialize()
        val blocks = k.agg(count(lit(1)).as("n_records"),
          countDistinct(col("bk")).as("n_blocks"))
        val pairsAgg = sp.agg(count(lit(1)).as("n_candidates"),
          sum(col("is_match")).as("n_matches"))
        val entAgg = graft.ops.Components.label(
            sp.filter(col("is_match") === 1)
              .select(col("rec_a").as("doc_a"), col("rec_b").as("doc_b")),
            rounds = 3,
            // input = a filter over the sp checkpoint, labels consumed
            // once — both barrier skips apply (r19)
            inputMaterialized = true, materializeResult = false)
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_entities_multi"),
            sum(col("sz")).as("n_linked_records"),
            max(col("sz")).as("largest_entity"))
        blocks.crossJoin(pairsAgg).crossJoin(entAgg)
          .select(col("n_records"), col("n_blocks"), col("n_candidates"),
            col("n_matches"), col("n_entities_multi"),
            col("n_linked_records"),
            (col("n_records") - col("n_linked_records"))
              .as("n_singletons"),
            col("largest_entity"))
      },
      Some(s"""
        WITH $recordsSql, $keyedSql,
        pairs AS (
          SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
                 CAST(levenshtein(a.norm, b.norm) <= 1 AS BIGINT)
                   AS is_match
          FROM keyed a JOIN keyed b
            ON a.bk = b.bk AND a.rec_id < b.rec_id),
        blocks_a AS (
          SELECT count(*) AS n_records, count(DISTINCT bk) AS n_blocks
          FROM keyed),
        pairs_a AS (
          SELECT count(*) AS n_candidates,
                 CAST(sum(is_match) AS BIGINT) AS n_matches
          FROM pairs),
        cand AS (
          SELECT rec_a AS doc_a, rec_b AS doc_b FROM pairs
          WHERE is_match = 1),
        ${graft.ops.Components.labelSql(3)},
        szs AS (SELECT cluster_id, count(*) AS sz FROM l3 GROUP BY 1),
        ent_a AS (
          SELECT count(*) AS n_entities_multi,
                 CAST(sum(sz) AS BIGINT) AS n_linked_records,
                 max(sz) AS largest_entity
          FROM szs)
        SELECT n_records, n_blocks, n_candidates, n_matches,
               n_entities_multi, n_linked_records,
               n_records - n_linked_records AS n_singletons,
               largest_entity
        FROM blocks_a CROSS JOIN pairs_a CROSS JOIN ent_a""")),

    // ---- the linkage card on the CAPPED lineage (the 100 TB path) ----------
    // The same card over the BlockCap-capped lineage (measured exponent
    // 0.26) — the path a production run takes when key selectivity
    // can't be trusted (the OTHER arm of the operating rule next to the
    // scaled key the default er_report now runs) — with the truncation
    // economics IN the card (n_kept / n_capped_out), so the cap is
    // never silent: capped-out records are accounted as singletons,
    // exactly the cappedKeyed contract.
    Q("er_report_capped",
      (s, dir) => {
        val k = keyed(records(s, dir))
        val ck = cappedKeyed(k).materialize()
        val sp = scoredPairsOf(ck).materialize()
        val blocks = k.agg(count(lit(1)).as("n_records"),
          countDistinct(col("bk")).as("n_blocks"))
        val kept = ck.agg(count(lit(1)).as("n_kept"))
        val pairsAgg = sp.agg(count(lit(1)).as("n_candidates"),
          sum(col("is_match")).as("n_matches"))
        val entAgg = graft.ops.Components.label(
            sp.filter(col("is_match") === 1)
              .select(col("rec_a").as("doc_a"), col("rec_b").as("doc_b")),
            rounds = 3,
            // input = a filter over the sp checkpoint, labels consumed
            // once — both barrier skips apply (r19)
            inputMaterialized = true, materializeResult = false)
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_entities_multi"),
            sum(col("sz")).as("n_linked_records"),
            max(col("sz")).as("largest_entity"))
        blocks.crossJoin(kept).crossJoin(pairsAgg).crossJoin(entAgg)
          .select(col("n_records"), col("n_blocks"), col("n_kept"),
            (col("n_records") - col("n_kept")).as("n_capped_out"),
            col("n_candidates"), col("n_matches"),
            col("n_entities_multi"), col("n_linked_records"),
            (col("n_records") - col("n_linked_records"))
              .as("n_singletons"),
            col("largest_entity"))
      },
      Some(s"""
        WITH $recordsSql, $keyedSql, ${cappedKeyedSql()},
        pairs AS (
          SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
                 CAST(levenshtein(a.norm, b.norm) <= 1 AS BIGINT)
                   AS is_match
          FROM ckeyed a JOIN ckeyed b
            ON a.bk = b.bk AND a.rec_id < b.rec_id),
        blocks_a AS (
          SELECT count(*) AS n_records, count(DISTINCT bk) AS n_blocks
          FROM keyed),
        kept_a AS (SELECT count(*) AS n_kept FROM ckeyed),
        pairs_a AS (
          SELECT count(*) AS n_candidates,
                 CAST(sum(is_match) AS BIGINT) AS n_matches
          FROM pairs),
        cand AS (
          SELECT rec_a AS doc_a, rec_b AS doc_b FROM pairs
          WHERE is_match = 1),
        ${graft.ops.Components.labelSql(3)},
        szs AS (SELECT cluster_id, count(*) AS sz FROM l3 GROUP BY 1),
        ent_a AS (
          SELECT count(*) AS n_entities_multi,
                 CAST(sum(sz) AS BIGINT) AS n_linked_records,
                 max(sz) AS largest_entity
          FROM szs)
        SELECT n_records, n_blocks, n_kept,
               n_records - n_kept AS n_capped_out,
               n_candidates, n_matches, n_entities_multi,
               n_linked_records,
               n_records - n_linked_records AS n_singletons,
               largest_entity
        FROM blocks_a CROSS JOIN kept_a CROSS JOIN pairs_a
        CROSS JOIN ent_a""")),

    // ---- match-threshold operating curve ------------------------------------
    // The knob-selection discipline (mm_hamming_curve / sim_tau_curve /
    // dd_jaccard_curve) applied to the ER decision threshold: precision
    // and recall at every distance cut t ∈ {0, 1, 2}, all from ONE
    // scored-pair pass — the table that JUSTIFIES the family's dist ≤ 1
    // rule instead of asserting it. Bounded at 2 because the thresholded
    // scorer never learns larger distances (by design — see
    // scoredPairsOf); ground truth rides the rec_id arithmetic, so no
    // extra join. Coherence with er_match at t=1 is spec-enforced.
    Q("er_threshold_curve",
      (s, dir) => {
        val sp = scoredPairs(s, dir)
          .withColumn("same_entity",
            (expr("rec_a div 3") === expr("rec_b div 3")).cast("long"))
          .select(col("name_dist"), col("same_entity"),
            explode(array(lit(0), lit(1), lit(2))).as("t"))
          .filter(col("name_dist") <= col("t"))
          .groupBy(col("t"))
          .agg(count(lit(1)).as("n_matched"),
            sum(col("same_entity")).as("tp"))
        val total = records(s, dir).agg(count(lit(1)).as("n_true_pairs"))
        sp.crossJoin(broadcast(total))
          .select(col("t"), col("n_matched"), col("tp"),
            (col("n_matched") - col("tp")).as("fp"),
            (col("n_true_pairs") - col("tp")).as("fn"),
            expr("(tp * 1000) div n_matched").as("precision_pm"),
            expr("(tp * 1000) div n_true_pairs").as("recall_pm"))
      },
      Some(s"""
        WITH $scoredPairsSql,
        se AS (
          SELECT *, CAST(rec_a // 3 = rec_b // 3 AS BIGINT) AS same_entity
          FROM pairs),
        e AS (
          SELECT se.*, t
          FROM se CROSS JOIN (SELECT unnest([0, 1, 2]) AS t)
          WHERE name_dist <= t),
        g AS (
          SELECT t, count(*) AS n_matched,
                 CAST(sum(same_entity) AS BIGINT) AS tp
          FROM e GROUP BY 1),
        tot AS (SELECT count(*) AS n_true_pairs FROM recs)
        SELECT t, n_matched, tp, n_matched - tp AS fp,
               n_true_pairs - tp AS fn,
               (tp * 1000) // n_matched AS precision_pm,
               (tp * 1000) // n_true_pairs AS recall_pm
        FROM g CROSS JOIN tot"""))
  )
}
