package graft.queries

import graft.{Q, Tables}
import graft.ops.Materialize._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal metadata surface under the correctness gate. Frame decode
  * is the video → TFRecord pipeline's (`graft.pipeline.Frames.extract`);
  * what IS oracle-checkable is the metadata-only layer: relational
  * accounting over binary payload columns without decoding.
  * Assets are synthesized from `documents` (text bytes as payload, kind by
  * doc_id mod 3) so DuckDB sees identical bytes.
  */
object MultimodalQ {

  // dHash geometry: 60-bit fingerprint (fits a positive BIGINT in both
  // engines — the simhashWide 48-bit precedent), 4 blocks of 15 bits so
  // hamming ≤ 3 pairs must agree exactly on ≥ 1 block (pigeonhole — exact
  // recall, not probabilistic), over a fixed-length "thumbnail" crop.
  private[graft] val DhashBits = 60
  private[graft] val DhashBlocks = 4
  private[graft] val DhashMaxHamming = 3
  private[graft] val DhashThumb = 96
  // mm_hybrid_neardup's semantic-evidence threshold (dd_semantic's edge
  // τ — the two queries flag the same embedding-space duplicates)
  private[graft] val HybridTau = 0.35
  // mm_scene_cuts: frame-sampling stride (overlapping crops — half a
  // thumb), frame budget per asset, and the cut threshold separating
  // shot boundaries from within-scene jitter
  private[graft] val SceneStride = 48
  private[graft] val SceneMaxFrames = 8
  private[graft] val SceneCutTau = 12
  private val DhashBlockBits = DhashBits / DhashBlocks // 15
  private val DhashBlockMask = (1L << DhashBlockBits) - 1
  // mm_video_neardup: inverted-index document-frequency cap per frame
  // hash (recordings per hash — a shared intro slate is this domain's
  // hot key) and the minimum aligned-frame count that upgrades a
  // candidate to a near-dup (1–2 shared frames happen by collision;
  // 3 agreeing on ONE offset do not). Declared BEFORE `qs`: the oracle
  // strings interpolate them during object init (the audioPairsSql
  // lesson).
  private[graft] val VideoDfCap = 16
  private[graft] val VideoMinAlign = 3
  // mm_image_features thumbnail geometry (small enough that the HOF
  // feature math stays cheap per row, wide enough that the row-aware
  // edge energy exercises real scanline structure)
  private[graft] val ImgW = 12
  private[graft] val ImgH = 8

  /** 60-bit difference hash of a string payload: sample DhashBits+1 fixed
    * positions across the first [[DhashThumb]] chars, bit i = sampled
    * char i > sampled char i+1. The FIXED-length crop is the stub
    * "resize" — alignment is the point: real dHash scales every image to
    * the same 9×8 grid for exactly this reason, and a variable-length
    * sample (measured here first) scatters near-identical payloads to
    * hamming 22+. In production the (substr, ascii) projection is swapped
    * for a real thumbnail decode (mapPartitions / `Frames.extract`);
    * everything downstream — banding, bucket join, hamming check — is
    * payload-agnostic and unchanged.
    */
  /** Session-aware dhash (the [[graft.similarity.VectorOps.dotFn]]
    * discipline: dispatch on the session that will RUN the plan, not the
    * thread-active one): native one-byte-walk form (functions.Dhash60)
    * when that session registered GraftExtensions, the portable Column
    * form otherwise. DhashExprSpec pins bit-equality of the two forms.
    */
  private[graft] def dhash(s: SparkSession,
      payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (s.catalog.functionExists("dhash60")) call_function("dhash60", payload)
    else dhashColumnForm(payload)

  /** Portable built-in-only form of [[dhash]] (works on any session):
    * sample positions are Scala-side constants (Thumb is fixed), so the
    * whole hash is one codegen'd projection — 61 ascii(substr) + 60
    * compare-and-or terms, no UDF, no explode. Each substr walks the
    * (variable-width) string from its start, which is why the native
    * expression exists.
    */
  private[graft] def dhashColumnForm(payload: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val cs = (0 to DhashBits).map { i =>
      ascii(substring(payload, 1 + i * (DhashThumb - 1) / DhashBits, 1))
    }
    (0 until DhashBits).map { i =>
      when(cs(i) > cs(i + 1), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Metadata-only relational surface: per-kind accounting computed WITHOUT
    * decoding — the property that makes 100 TB of media queryable (payload
    * columns are pruned; only lengths/hashes are read).
    *
    * The content fingerprint is the NUMERIC 60-bit md5 prefix, not the hex
    * string: a long min aggregates via HashAggregate, where a string min
    * falls back to SortAggregate (sorts every partition — the same
    * trade documented at TextOps.minhash).
    */
  private[graft] def assetStats(assets: DataFrame): DataFrame =
    assets
      .select(col("asset_id"), col("kind"), col("content"))
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_assets"),
        sum(length(col("content"))).as("total_bytes"),
        min(conv(substring(md5(col("content")), 1, 15), 16, 10)
          .cast("long")).as("min_content_hash"))

  /** Exact dedup of binary assets by payload hash: duplicate groups
    * (≥2 members) with their canonical (smallest) asset id. The payload
    * is hashed in the scan projection and pruned before the exchange —
    * content bytes never shuffle.
    */
  private[graft] def dedupByContent(assets: DataFrame): DataFrame =
    assets
      .select(col("asset_id"), col("kind"),
        md5(col("content")).as("content_hash"))
      .groupBy(col("kind"), col("content_hash"))
      .agg(count(lit(1)).as("n_assets"), min(col("asset_id")).as("canonical_id"))
      .filter(col("n_assets") >= 2)

  /** The 4 (blk, bv) block structs of a dhash column — the bucket
    * layout of the dhash near-dup pair lineage below.
    */
  private[graft] def dhashBlockStructs(h: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    array((0 until DhashBlocks).map(b =>
      struct(lit(b).as("blk"),
        shiftright(h, b * DhashBlockBits)
          .bitwiseAND(lit(DhashBlockMask)).as("bv"))): _*)

  /** The dhash near-dup pair lineage (hash → block explode → bucket
    * self-join → exact hamming, pre-distinct) — ONE definition consumed
    * by mm_dhash_neardup and mm_dhash_clusters so the ledger cannot
    * drift from the pair query it composes.
    */
  private def dhashScoredPairs(s: SparkSession, dir: String): DataFrame = {
    val dh = Tables.sharded(s, dir, "documents")
      .select(col("doc_id").as("asset_id"),
        dhash(s, substring(col("text"), 1, DhashThumb)).as("dhash"))
      .materialize() // both sides of the bucket join — hash pass once
    val blocked = dh.select(col("asset_id"), col("dhash"),
        explode(dhashBlockStructs(col("dhash"))).as("e"))
      .select(col("asset_id"), col("dhash"),
        col("e.blk").as("blk"), col("e.bv").as("bv"))
    val lhs = blocked.select(col("blk"), col("bv"),
      col("asset_id").as("asset_a"), col("dhash").as("h_a"))
    val rhs = blocked.select(col("blk"), col("bv"),
      col("asset_id").as("asset_b"), col("dhash").as("h_b"))
    lhs.join(rhs, Seq("blk", "bv"))
      .filter(col("asset_a") < col("asset_b"))
      .select(col("asset_a"), col("asset_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long")
          .as("hamming"))
      .distinct()
  }

  /** [[dhashScoredPairs]] cut at the production threshold — the form the
    * near-dup and cluster queries consume.
    */
  private def dhashPairs(s: SparkSession, dir: String): DataFrame =
    dhashScoredPairs(s, dir).filter(col("hamming") <= DhashMaxHamming)

  /** Oracle CTEs base/ch/dh/blocked/pairs mirroring [[dhashPairs]] —
    * shared by both dhash oracles for the same no-drift reason.
    */
  private val dhashPairsSql = s"""
        base AS (
          SELECT doc_id AS asset_id, substr(text, 1, $DhashThumb) AS t
          FROM documents),
        ch AS (
          SELECT asset_id,
                 [ascii(substr(t, 1 + (i * ${DhashThumb - 1}) // $DhashBits, 1))
                  for i in generate_series(0, $DhashBits)] AS cs
          FROM base),
        dh AS (
          SELECT asset_id,
                 CAST(list_sum([CASE WHEN cs[i+1] > cs[i+2]
                                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
                                for i in generate_series(0, ${DhashBits - 1})])
                   AS BIGINT) AS dhash
          FROM ch),
        blocked AS (
          SELECT asset_id, dhash, b.b AS blk,
                 (dhash >> ($DhashBlockBits * b.b)) & $DhashBlockMask AS bv
          FROM dh CROSS JOIN generate_series(0, ${DhashBlocks - 1}) AS b(b)),
        pairs AS (
          SELECT DISTINCT a.asset_id AS asset_a, b.asset_id AS asset_b,
                 a.dhash AS h_a, b.dhash AS h_b
          FROM blocked a JOIN blocked b
            ON a.blk = b.blk AND a.bv = b.bv AND a.asset_id < b.asset_id)"""

  val qs: Seq[Q] = Seq(

    // ---- perceptual-hash near-dup (dHash + block-bucketed hamming) ---------
    // The media analog of dd_simhash_near (imagededup's default): identical
    // or slightly-retouched assets land within hamming 3 of each other's
    // difference hash, and candidates come from the same Manku-style
    // block-bucket join — never all-pairs. Scale shape: one narrow hash
    // projection over the payload (payload bytes die in the scan), a
    // 4× (blk, bv) explode of 8-byte hashes, a self-join keyed on the
    // block value (hot buckets stay spread across tasks for AQE to
    // skew-split), and the exact bit_count(xor) check runs BEFORE the
    // pair-dedup exchange.
    Q("mm_dhash_neardup",
      (s, dir) => dhashPairs(s, dir),
      Some(s"""
        WITH $dhashPairsSql
        SELECT asset_a, asset_b,
               CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
        FROM pairs WHERE bit_count(xor(h_a, h_b)) <= $DhashMaxHamming""")),

    // ---- perceptual-dup ledger: pairs → clusters → keep-newest -------------
    // What a media pipeline actually consumes: near-dup PAIRS folded into
    // duplicate SETS (bounded min-label components — the dd_clusters /
    // dd_semantic contract: rounds × |edges| joins, exact for the
    // clique-shaped groups block-bucketing produces) and one ledger row
    // per set with the retention decision. Keep rule: HIGHEST asset_id
    // survives — "newest upload wins", the common media-CMS policy (and
    // deliberately distinct from cluster_id = min reachable id, so the
    // ledger carries real information beyond the label).
    Q("mm_dhash_clusters",
      (s, dir) => {
        val pairs = dhashPairs(s, dir)
          .select(col("asset_a").as("doc_a"), col("asset_b").as("doc_b"))
        graft.ops.Components.label(pairs, rounds = 2,
            materializeResult = false) // consumed once (r19)
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
            max(col("doc_id")).as("keep_id"))
          .withColumn("n_removed", col("n_members") - 1)
      },
      Some(s"""
        WITH $dhashPairsSql,
        cand AS (
          SELECT asset_a AS doc_a, asset_b AS doc_b FROM pairs
          WHERE bit_count(xor(h_a, h_b)) <= $DhashMaxHamming),
        ${graft.ops.Components.labelSql(2)}
        SELECT cluster_id, count(*) AS n_members, max(doc_id) AS keep_id,
               count(*) - 1 AS n_removed
        FROM l2 GROUP BY cluster_id""")),

    Q("mm_asset_stats",
      (s, dir) => assetStats(
        Tables.sharded(s, dir, "documents").select(
          col("doc_id").as("asset_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (col("doc_id") % 3 + 1).cast("int")).as("kind"),
          col("text").cast("binary").as("content"))),
      // this DuckDB's md5() takes VARCHAR only; the payload here IS utf-8
      // text bytes, so md5(text) hashes the identical byte sequence
      Some("""
        SELECT kind, count(*) AS n_assets,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               min(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT))
                 AS min_content_hash
        FROM (
          SELECT doc_id AS asset_id,
                 list_extract(['image', 'audio', 'video'],
                              CAST(doc_id % 3 + 1 AS INT)) AS kind,
                 text
          FROM documents)
        GROUP BY kind""")),

    // ---- exact binary-asset dedup (content-hash groups) --------------------
    // The image/video dedup primitive: group assets by the md5 of their
    // payload BYTES, keep groups with >1 member — without decoding a
    // single pixel. Payloads here are the leading 80 text bytes (so the
    // fixture's near-dup documents, which share prefixes, yield real
    // duplicate groups — the "same thumbnail bytes" case). One
    // map-side-combinable aggregation; the shuffle carries (hash,
    // partial count, partial min), never content. At 100 TB this is the
    // first pass of any media pipeline: the payload column is read once,
    // hashed in place, and pruned before the exchange.
    Q("mm_asset_dedup",
      (s, dir) => dedupByContent(
        Tables.sharded(s, dir, "documents").select(
          col("doc_id").as("asset_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (col("doc_id") % 3 + 1).cast("int")).as("kind"),
          substring(col("text"), 1, 80).cast("binary").as("content"))),
      Some("""
        SELECT kind, content_hash, count(*) AS n_assets,
               min(asset_id) AS canonical_id
        FROM (
          SELECT doc_id AS asset_id,
                 list_extract(['image', 'audio', 'video'],
                              CAST(doc_id % 3 + 1 AS INT)) AS kind,
                 md5(substr(text, 1, 80)) AS content_hash
          FROM documents)
        GROUP BY kind, content_hash
        HAVING count(*) >= 2""")),

    // ---- cross-modal join: per-doc text ⋈ asset feature fusion --------------
    // The multimodal-training-data shape: each document links to its media
    // assets (here two synthesized per doc — the full payload and an
    // 80-char "thumbnail"), asset features are aggregated per doc, and the
    // text-side stats join in on doc_id to one fused feature row. Scale
    // shape: payload bytes are measured/hashed IN THE SCAN PROJECTION and
    // die before the aggregation exchange — the doc_id join moves only
    // small per-doc feature rows, never content (PlanAuditSpec asserts no
    // binary crosses an exchange). Fused milli_bytes_per_token is integer
    // arithmetic, so the row hash-matches the oracle.
    Q("mm_crossmodal",
      (s, dir) => {
        val d = Tables.sharded(s, dir, "documents")
        val assets = d.select(col("doc_id"), explode(array(
            struct(
              element_at(array(lit("image"), lit("audio"), lit("video")),
                (col("doc_id") % 3 + 1).cast("int")).as("kind"),
              col("text").cast("binary").as("content")),
            struct(lit("image").as("kind"),
              substring(col("text"), 1, 80).cast("binary").as("content"))))
            .as("a"))
          .select(col("doc_id"), col("a.kind").as("kind"),
            col("a.content").as("content"))
        val assetFeats = assets
          // payload consumed here: length + numeric hash prefix (long min
          // aggregates via HashAggregate — the TextOps.minhash trade)
          .select(col("doc_id"), col("kind"),
            length(col("content")).cast("long").as("nbytes"),
            conv(substring(md5(col("content")), 1, 15), 16, 10)
              .cast("long").as("h"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_assets"),
            sum(col("nbytes")).as("total_bytes"),
            countDistinct(col("kind")).as("n_kinds"),
            min(col("h")).as("min_content_hash"))
        val textFeats = d.select(col("doc_id"), col("n_chars"),
          size(graft.text.TextOps.tokens(col("text"))).cast("long")
            .as("n_tokens"))
        textFeats.join(assetFeats, "doc_id")
          .select(col("doc_id"), col("n_tokens"), col("n_chars"),
            col("n_assets"), col("n_kinds"), col("total_bytes"),
            col("min_content_hash"),
            call_function("div", col("total_bytes") * 1000,
              greatest(col("n_tokens"), lit(1L)))
              .as("milli_bytes_per_token"))
      },
      Some("""
        WITH assets AS (
          SELECT doc_id,
                 list_extract(['image', 'audio', 'video'],
                              CAST(doc_id % 3 + 1 AS INT)) AS kind,
                 octet_length(encode(text)) AS nbytes,
                 CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
          FROM documents
          UNION ALL
          SELECT doc_id, 'image',
                 octet_length(encode(substr(text, 1, 80))),
                 CAST(('0x' || substr(md5(substr(text, 1, 80)), 1, 15))
                   AS BIGINT)
          FROM documents),
        af AS (
          SELECT doc_id, count(*) AS n_assets,
                 CAST(sum(nbytes) AS BIGINT) AS total_bytes,
                 count(DISTINCT kind) AS n_kinds,
                 min(h) AS min_content_hash
          FROM assets GROUP BY doc_id),
        tf AS (
          SELECT doc_id, n_chars,
                 CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                   AS BIGINT) AS n_tokens
          FROM documents)
        SELECT t.doc_id, t.n_tokens, t.n_chars, a.n_assets, a.n_kinds,
               a.total_bytes, a.min_content_hash,
               CAST((a.total_bytes * 1000) // greatest(t.n_tokens, 1)
                 AS BIGINT) AS milli_bytes_per_token
        FROM tf t JOIN af a USING (doc_id)""")),

    // ---- hybrid near-dup: perceptual ∪ semantic evidence -------------------
    // Production media dedup stacks two independent detectors, because
    // each has blind spots the other covers: a perceptual hash (dHash
    // blocks) catches byte-level retouches but misses re-renders; an
    // embedding cosine (IVF-bucketed, the dd_embed_cos shape over the
    // asset's vector — vec_id ≡ doc_id in the fixture lake) catches
    // semantic re-renders but misses payloads the encoder never saw.
    // This is their evidence UNION: one row per candidate pair with a
    // flag per detector — the "both" rows are the high-precision
    // auto-remove set, single-evidence rows go to review. Plan: the two
    // parent lineages unchanged (their audited shapes), merged by one
    // full-outer join on the pair key; evidence flags are narrow
    // coalesces. Both parents bucket their candidates (dhash blocks /
    // IVF centroids) — nothing here is all-pairs.
    Q("mm_hybrid_neardup",
      (s, dir) => {
        import graft.similarity.VectorOps
        val ph = dhashPairs(s, dir)
          .select(col("asset_a"), col("asset_b"))
          .withColumn("ev_dhash", lit(true))
        val assigned = VectorOps.assignIvf(
          Tables.sharded(s, dir, "embeddings"), Similarity.CentroidModulo)
          .materialize() // both sides of the bucket self-join
        val d = VectorOps.dotFn(assigned)
        val a = assigned.select(col("centroid_id"),
          col("vec_id").as("asset_a"), col("q").as("qa"),
          col("n2").as("na"))
        val b = assigned.select(col("centroid_id"),
          col("vec_id").as("asset_b"), col("q").as("qb"),
          col("n2").as("nb"))
        val sem = a.join(b, Seq("centroid_id"))
          .filter(col("asset_a") < col("asset_b"))
          .filter(VectorOps.cosine(d(col("qa"), col("qb")),
            col("na"), col("nb")) >= HybridTau)
          .select(col("asset_a"), col("asset_b"))
          .withColumn("ev_cosine", lit(true))
        ph.join(sem, Seq("asset_a", "asset_b"), "full_outer")
          .select(col("asset_a"), col("asset_b"),
            coalesce(col("ev_dhash"), lit(false)).as("ev_dhash"),
            coalesce(col("ev_cosine"), lit(false)).as("ev_cosine"))
      },
      Some(s"""
        WITH $dhashPairsSql,
        ph AS (
          SELECT asset_a, asset_b, true AS ev_dhash FROM pairs
          WHERE bit_count(xor(h_a, h_b)) <= $DhashMaxHamming),
        ${Similarity.assignSql},
        sem AS (
          SELECT a.vec_id AS asset_a, b.vec_id AS asset_b,
                 true AS ev_cosine
          FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id
                               AND a.vec_id < b.vec_id
          WHERE ${Similarity.cosSql("a", "b")} >= $HybridTau)
        SELECT asset_a, asset_b,
               coalesce(ev_dhash, false) AS ev_dhash,
               coalesce(ev_cosine, false) AS ev_cosine
        FROM ph FULL JOIN sem USING (asset_a, asset_b)""")),

    // ---- hamming operating curve (threshold sweep for the dedup knob) ------
    // The table an operator reads to CHOOSE DhashMaxHamming (the
    // ev_gap_stats discipline: measure before hardcoding): per hamming
    // distance, how many block-bucket candidate pairs exist and the
    // running total a threshold τ would admit. ONE scored-pair pass (the
    // dhashScoredPairs lineage shared with mm_dhash_neardup, threshold
    // removed), a combinable ≤61-bin histogram, and the cumulative
    // window over the model-sized bin table (allowlisted global). The
    // curve covers block-bucket CANDIDATES — exactly the population the
    // production threshold filters.
    Q("mm_hamming_curve",
      (s, dir) => {
        val hist = dhashScoredPairs(s, dir)
          .groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))
        val w = Window.orderBy(col("hamming"))
          .rowsBetween(Window.unboundedPreceding, 0)
        hist.withColumn("cum_pairs", sum(col("n_pairs")).over(w))
      },
      Some(s"""
        WITH $dhashPairsSql,
        hist AS (
          SELECT CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming,
                 count(*) AS n_pairs
          FROM pairs GROUP BY 1)
        SELECT hamming, n_pairs,
               CAST(sum(n_pairs) OVER (ORDER BY hamming
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pairs
        FROM hist""")),

    // ---- perceptual-hash robustness under a synthetic retouch --------------
    // The eval a perceptual dedup needs before trusting its threshold:
    // perturb every asset IN PLACE (one character of the thumb swapped —
    // the text analog of a small retouch; dHash is alignment-sensitive
    // by design, so an in-place edit, not a crop, is the right probe),
    // hash both versions, and report how many perturbed copies stay
    // within DhashMaxHamming of their originals — recall-under-retouch,
    // plus mean/max hamming drift. ONE narrow double-hash projection
    // (payload bytes die in the scan) and a single-row combinable
    // aggregate; recall and mean are integer per-mille.
    Q("mm_dhash_robustness",
      (s, dir) => {
        val hashed = Tables.sharded(s, dir, "documents")
          .select(col("doc_id"),
            dhash(s, substring(col("text"), 1, DhashThumb)).as("h0"),
            dhash(s, concat(substring(col("text"), 1, 9), lit("z"),
              substring(col("text"), 11, DhashThumb - 10))).as("h1"))
          .withColumn("hamming",
            bit_count(col("h0").bitwiseXOR(col("h1"))).cast("long"))
        hashed.agg(count(lit(1)).as("n_assets"),
            sum(when(col("hamming") <= DhashMaxHamming, 1L).otherwise(0L))
              .as("n_within_tau"),
            sum(col("hamming")).as("total_hamming"),
            max(col("hamming")).as("max_hamming"))
          .withColumn("recall_milli", call_function("div",
            lit(1000L) * col("n_within_tau"), col("n_assets")))
          .withColumn("mean_hamming_milli", call_function("div",
            lit(1000L) * col("total_hamming"), col("n_assets")))
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, substr(text, 1, $DhashThumb) AS t0,
                 substr(text, 1, 9) || 'z' ||
                   substr(text, 11, ${DhashThumb - 10}) AS t1
          FROM documents),
        ch AS (
          SELECT doc_id,
                 [ascii(substr(t0, 1 + (i * ${DhashThumb - 1}) // $DhashBits,
                    1)) for i in generate_series(0, $DhashBits)] AS c0,
                 [ascii(substr(t1, 1 + (i * ${DhashThumb - 1}) // $DhashBits,
                    1)) for i in generate_series(0, $DhashBits)] AS c1
          FROM base),
        dh AS (
          SELECT doc_id,
                 CAST(list_sum([CASE WHEN c0[i+1] > c0[i+2]
                   THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
                   for i in generate_series(0, ${DhashBits - 1})]) AS BIGINT)
                   AS h0,
                 CAST(list_sum([CASE WHEN c1[i+1] > c1[i+2]
                   THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
                   for i in generate_series(0, ${DhashBits - 1})]) AS BIGINT)
                   AS h1
          FROM ch),
        hm AS (SELECT CAST(bit_count(xor(h0, h1)) AS BIGINT) AS hamming
               FROM dh),
        g AS (
          SELECT count(*) AS n_assets,
                 CAST(sum(CASE WHEN hamming <= $DhashMaxHamming
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_within_tau,
                 CAST(sum(hamming) AS BIGINT) AS total_hamming,
                 max(hamming) AS max_hamming
          FROM hm)
        SELECT n_assets, n_within_tau, total_hamming, max_hamming,
               (1000 * n_within_tau) // n_assets AS recall_milli,
               (1000 * total_hamming) // n_assets AS mean_hamming_milli
        FROM g""")),

    // ---- scene-cut detection (temporal frame analysis) ---------------------
    // The video-side primitive the frame pipeline (O7) feeds: sample
    // frames along each asset, perceptual-hash each, and flag a CUT
    // where consecutive frames' hamming jumps past the jitter band —
    // shot-boundary detection, the thing a frame-sampling stage keys on
    // to sample per-scene instead of per-second. Frames here are the
    // stub decode: overlapping fixed-width crops at stride
    // [[SceneStride]] (the mm_dhash "resize" discipline — fixed-length
    // alignment is what keeps within-scene hamming small), ≤
    // [[SceneMaxFrames]] per asset; in production the crop projection
    // swaps for `Frames.extract` and NOTHING downstream changes.
    // Plan: one narrow frame explode (bounded ×MaxFrames), the hash in
    // the same codegen projection, one per-asset lag window, one
    // per-asset aggregate — no joins at all.
    Q("mm_scene_cuts",
      (s, dir) => {
        val fr = Tables.sharded(s, dir, "documents")
          .select(col("doc_id").as("asset_id"), col("text"),
            least(expr(s"length(text) div $SceneStride"),
              lit(SceneMaxFrames)).cast("long").as("nf"))
          .filter(col("nf") >= 2)
          .select(col("asset_id"),
            explode(sequence(lit(0L), col("nf") - 1)).as("frame"),
            col("text"))
          .select(col("asset_id"), col("frame"),
            dhash(s, expr(
              s"substring(text, 1 + frame * $SceneStride, $DhashThumb)"))
              .as("h"))
        val w = Window.partitionBy(col("asset_id")).orderBy(col("frame"))
        fr.withColumn("ph", lag(col("h"), 1).over(w))
          .filter(col("ph").isNotNull)
          .withColumn("ham",
            bit_count(col("h").bitwiseXOR(col("ph"))).cast("long"))
          .groupBy(col("asset_id"))
          .agg((count(lit(1)) + 1).as("n_frames"),
            sum(when(col("ham") > SceneCutTau, 1L).otherwise(0L))
              .as("n_cuts"),
            call_function("div", sum(col("ham")) * 1000, count(lit(1)))
              .as("mean_ham_milli"),
            max(col("ham")).as("max_hamming"))
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id AS asset_id, text,
                 least(length(text) // $SceneStride, $SceneMaxFrames)
                   AS nf
          FROM documents),
        fr AS (
          SELECT asset_id, CAST(g.i AS BIGINT) AS frame,
                 substr(text, 1 + g.i * $SceneStride, $DhashThumb) AS t
          FROM base
          CROSS JOIN generate_series(0, ${SceneMaxFrames - 1}) AS g(i)
          WHERE base.nf >= 2 AND g.i < base.nf),
        ch AS (
          SELECT asset_id, frame,
                 [ascii(substr(t, 1 + (i * ${DhashThumb - 1}) // $DhashBits,
                    1)) for i in generate_series(0, $DhashBits)] AS cs
          FROM fr),
        dh AS (
          SELECT asset_id, frame,
                 CAST(list_sum([CASE WHEN cs[i+1] > cs[i+2]
                   THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
                   for i in generate_series(0, ${DhashBits - 1})]) AS BIGINT)
                   AS h
          FROM ch),
        lg AS (
          SELECT asset_id, h,
                 lag(h) OVER (PARTITION BY asset_id ORDER BY frame) AS ph
          FROM dh),
        sc AS (
          SELECT asset_id, CAST(bit_count(xor(h, ph)) AS BIGINT) AS ham
          FROM lg WHERE ph IS NOT NULL)
        SELECT asset_id, count(*) + 1 AS n_frames,
               CAST(sum(CASE WHEN ham > $SceneCutTau THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_cuts,
               CAST((CAST(sum(ham) AS BIGINT) * 1000) // count(*)
                 AS BIGINT) AS mean_ham_milli,
               max(ham) AS max_hamming
        FROM sc GROUP BY 1""")),

    // ---- image features through REAL PNG bytes -------------------------------
    // The image rung of the "real container" rule (WAV proved audio,
    // y4m/MJPEG-AVI video): per-document RGB pixels (deterministic
    // integer formulas both engines can generate) round-trip through
    // REAL PNG bytes — genuine DEFLATE compression via
    // [[graft.pipeline.PngCodec]], cross-validated both directions
    // against the JRE's own ImageIO reader/writer — then the feature
    // card (dimensions from the parsed IHDR, exact per-channel integer
    // sums, integer-permille max luma, row-aware horizontal edge
    // energy) computes from the DECODED pixels. The DuckDB oracle
    // computes the same math from the same generated list WITHOUT the
    // container: PNG is lossless, so the hash match proves the
    // compress→decompress round trip bit-exact AND the chunk/filter
    // parsing. The codec pair is the sanctioned binary-I/O UDF
    // exception; everything else is codegen HOFs over a pure NARROW
    // projection — zero exchanges, embarrassingly parallel at any
    // scale. png_bytes is deliberately NOT in the output: DEFLATE
    // output length is compressor-version-dependent (unlike WAV's
    // arithmetic header), so it is spec-checked, never oracle-hashed.
    Q("mm_image_features",
      (s, dir) => {
        val (w, h) = (ImgW, ImgH)
        val enc = udf((xs: Seq[Long]) =>
          graft.pipeline.PngCodec.encode(w, h, xs.map(_.toInt).toArray))
        val dec = udf((b: Array[Byte]) => {
          val (dw, dh, rgb) = graft.pipeline.PngCodec.decode(b)
          (dw.toLong, dh.toLong, rgb.map(_.toLong).toSeq)
        })
        Tables(s, dir, "documents").select(col("doc_id"))
          .withColumn("gen", expr(
            s"""transform(sequence(0L, ${w * h - 1}L), i ->
               ((doc_id * 37 + i * i * 11 + 3) % 256) * 65536 +
               ((doc_id * (i * 13 + 7)) % 256) * 256 +
               (doc_id * 101 + i * 29) % 256)"""))
          .withColumn("d", dec(enc(col("gen"))))
          .select(col("doc_id"), col("d._1").as("width"),
            col("d._2").as("height"), col("d._3").as("rgb"))
          .select(col("doc_id"), col("width"), col("height"),
            expr("CAST(size(rgb) AS BIGINT)").as("n_pixels"),
            expr("aggregate(rgb, 0L, (a, x) -> a + x div 65536)")
              .as("sum_r"),
            expr("aggregate(rgb, 0L, (a, x) -> a + (x div 256) % 256)")
              .as("sum_g"),
            expr("aggregate(rgb, 0L, (a, x) -> a + x % 256)").as("sum_b"),
            expr("array_max(transform(rgb, x -> 299 * (x div 65536) + " +
              "587 * ((x div 256) % 256) + 114 * (x % 256)))")
              .as("max_luma_pm"),
            expr(s"""aggregate(transform(sequence(1L, ${w * h - 1}L), i ->
                 IF(i % $w = 0, 0L, abs(element_at(rgb, CAST(i + 1 AS INT))
                   div 65536 - element_at(rgb, CAST(i AS INT))
                   div 65536))), 0L, (a, x) -> a + x)""")
              .as("edge_energy"))
      },
      Some(s"""
        WITH g AS (
          SELECT doc_id,
                 list_transform(generate_series(0, ${ImgW * ImgH - 1}), i ->
                   ((doc_id * 37 + i * i * 11 + 3) % 256) * 65536 +
                   ((doc_id * (i * 13 + 7)) % 256) * 256 +
                   (doc_id * 101 + i * 29) % 256) AS l
          FROM documents)
        SELECT doc_id,
               CAST($ImgW AS BIGINT) AS width,
               CAST($ImgH AS BIGINT) AS height,
               CAST(len(l) AS BIGINT) AS n_pixels,
               CAST(list_sum(list_transform(l, x -> x // 65536)) AS BIGINT)
                 AS sum_r,
               CAST(list_sum(list_transform(l, x -> (x // 256) % 256))
                 AS BIGINT) AS sum_g,
               CAST(list_sum(list_transform(l, x -> x % 256)) AS BIGINT)
                 AS sum_b,
               CAST(list_max(list_transform(l, x -> 299 * (x // 65536) +
                 587 * ((x // 256) % 256) + 114 * (x % 256))) AS BIGINT)
                 AS max_luma_pm,
               CAST(list_sum(list_transform(
                 generate_series(1, ${ImgW * ImgH - 1}), i ->
                   CASE WHEN i % $ImgW = 0 THEN 0
                        ELSE abs(l[i + 1] // 65536 - l[i] // 65536)
                   END)) AS BIGINT) AS edge_energy
        FROM g""")),

    // ---- image near-dup over REAL decoded pixels -----------------------------
    // mm_dhash_neardup's scaladoc promised that its (substr, ascii)
    // "thumbnail" swaps for a real decode with everything downstream
    // unchanged — this query KEEPS that promise: the actual dHash
    // algorithm (a 9×8 grid, bit = left pixel brighter than right) over
    // pixels that round-tripped through REAL PNG bytes (DEFLATE
    // compress → decompress via [[graft.pipeline.PngCodec]]), then the
    // family's block-bucket discipline verbatim. Each document plants a
    // BRIGHTNESS-SHIFTED twin — +10 gray on every pixel, bytes and
    // DEFLATE stream completely different — and dHash's gradient-sign
    // invariance makes the fingerprints identical (pixel values are
    // generated in [0, 200): the shift never clamps, so every
    // left-vs-right comparison is preserved): exactly the re-exposed
    // re-upload robustness real image dedup exists for. 60 of the 64
    // grid bits are used so the fingerprint stays a positive BIGINT in
    // both engines (the simhashWide precedent; block math unchanged).
    // The oracle computes the same fingerprint from the same generated
    // pixel list container-free — the hash match proves the compressed
    // round trip AND pins the bucket economics. The base pixel is
    // salted-md5-derived, not modular arithmetic: a first cut used
    // (doc_id · c_i) % 200, and every pair of docs congruent mod 200
    // got bit-identical images — 280k pairs at sf0.1, the audio
    // hot-bucket lesson in its residue-class form. Full-entropy mixing
    // keeps non-planted fingerprints hash-uniform.
    Q("mm_image_neardup",
      (s, dir) => imagePairs(s, dir),
      Some(s"""
        WITH $imagePairsSql
        SELECT rec_a, rec_b, hamming FROM pairs
        WHERE hamming <= $DhashMaxHamming""")),

    // ---- audio features through REAL WAV bytes -------------------------------
    // The audio rung of the multimodal family: per-document PCM16
    // waveforms (deterministic integer samples both engines can
    // generate) round-trip through the REAL RIFF/WAVE container
    // ([[graft.pipeline.WavCodec]], cross-validated against the JRE's
    // own WAVE reader) on the Spark side, then the feature card —
    // sample count, container size, peak amplitude, energy (exact
    // integer sum of squares; ms_level = mean square, no sqrt so no
    // transcendental), zero-crossing count (the classic pitch proxy) —
    // computes from the DECODED samples. The DuckDB oracle computes the
    // same features from the same generated list WITHOUT the container:
    // a hash match therefore proves the encode→decode round trip is
    // bit-exact AND the 44-byte canonical header math (wav_bytes is
    // measured from real bytes on one side, arithmetic on the other).
    // The codec pair is the sanctioned UDF exception (binary container
    // I/O is not SQL); everything else is codegen HOFs. Plan: a pure
    // NARROW projection — no explode, no window, ZERO exchanges —
    // feature extraction stays embarrassingly parallel at any scale.
    Q("mm_audio_features",
      (s, dir) => {
        val wavEnc = udf((xs: Seq[Long]) =>
          graft.pipeline.WavCodec.encode(xs.map(_.toShort).toArray, 8000))
        val wavDec = udf((b: Array[Byte]) =>
          graft.pipeline.WavCodec.decode(b)._3.map(_.toLong).toSeq)
        Tables(s, dir, "documents").select(col("doc_id"))
          .withColumn("samples", expr(
            "transform(sequence(0L, 159L), i -> " +
              "(doc_id * 7919 + i * i * 40503 + i * 131) % 65536 - 32768)"))
          .withColumn("wav", wavEnc(col("samples")))
          .withColumn("decoded", wavDec(col("wav")))
          .select(col("doc_id"),
            expr("CAST(size(decoded) AS BIGINT)").as("n_samples"),
            length(col("wav")).cast("long").as("wav_bytes"),
            expr("array_max(transform(decoded, x -> abs(x)))").as("peak"),
            expr("aggregate(decoded, 0L, (acc, x) -> acc + x * x)")
              .as("sum_sq"),
            expr("aggregate(zip_with(slice(decoded, 1, 159), " +
              "slice(decoded, 2, 159), " +
              "(a, b) -> IF((a >= 0) != (b >= 0), 1L, 0L)), " +
              "0L, (acc, x) -> acc + x)").as("zero_crossings"))
          .withColumn("ms_level", expr("sum_sq div n_samples"))
          .select(col("doc_id"), col("n_samples"), col("wav_bytes"),
            col("peak"), col("sum_sq"), col("ms_level"),
            col("zero_crossings"))
      },
      Some("""
        WITH g AS (
          SELECT doc_id,
                 list_transform(generate_series(0, 159), i ->
                   (doc_id * 7919 + i * i * 40503 + i * 131) % 65536
                     - 32768) AS l
          FROM documents),
        f AS (
          SELECT doc_id,
                 CAST(len(l) AS BIGINT) AS n_samples,
                 CAST(44 + 2 * len(l) AS BIGINT) AS wav_bytes,
                 CAST(list_max(list_transform(l, x -> abs(x))) AS BIGINT)
                   AS peak,
                 CAST(list_sum(list_transform(l, x -> x * x)) AS BIGINT)
                   AS sum_sq,
                 CAST(list_sum(list_transform(generate_series(2, 160),
                   j -> CASE WHEN (l[j-1] >= 0) != (l[j] >= 0)
                     THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings
          FROM g)
        SELECT doc_id, n_samples, wav_bytes, peak, sum_sq,
               sum_sq // n_samples AS ms_level, zero_crossings
        FROM f""")),

    // ---- audio near-dup: sign-of-delta fingerprint + block buckets ----------
    // The audio twin of mm_dhash_neardup (Shazam-style robust
    // fingerprinting, miniaturized): a 60-bit fingerprint whose bit b
    // compares two anchor samples — a DELTA sign, so it is invariant to
    // DC offset / constant gain shift, exactly the robustness a
    // loudness-normalized re-upload needs. Each document contributes
    // two "recordings": the original and a DC-shifted copy whose BYTES
    // differ but whose fingerprint is identical — the planted near-dup
    // the bucket join must find. Same pigeonhole discipline as dhash:
    // 4×15-bit blocks, hamming ≤ 3 pairs must agree exactly on ≥ 1
    // block (EXACT recall, not probabilistic), candidate generation
    // always bucketed. The Spark side fingerprints DECODED samples that
    // round-tripped through the real WAV container; the oracle
    // fingerprints the generated list container-free — the
    // mm_audio_features proof, now load-bearing under a join.
    Q("mm_audio_neardup",
      (s, dir) => audioPairs(s, dir),
      Some(s"""
        WITH $audioPairsSql
        SELECT rec_a, rec_b, hamming FROM pairs
        WHERE hamming <= $DhashMaxHamming""")),

    // ---- audio-dup ledger: pairs → clusters → keep-newest --------------------
    // The mm_dhash_clusters discipline on the audio fingerprint pairs:
    // near-dup PAIRS folded into duplicate SETS (bounded min-label
    // components — clique-shaped groups under block bucketing) and one
    // ledger row per set with the keep-newest retention decision
    // (highest rec_id survives). Composed from the SAME audioPairs
    // definition as mm_audio_neardup, so the ledger cannot drift from
    // the pair query it summarizes.
    Q("mm_audio_clusters",
      (s, dir) => {
        val pairs = audioPairs(s, dir)
          .select(col("rec_a").as("doc_a"), col("rec_b").as("doc_b"))
        graft.ops.Components.label(pairs, rounds = 2,
            materializeResult = false) // consumed once (r19)
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
            max(col("doc_id")).as("keep_id"))
          .withColumn("n_removed", col("n_members") - 1)
      },
      Some(s"""
        WITH $audioPairsSql,
        cand AS (
          SELECT rec_a AS doc_a, rec_b AS doc_b FROM pairs
          WHERE hamming <= $DhashMaxHamming),
        ${graft.ops.Components.labelSql(2)}
        SELECT cluster_id, count(*) AS n_members, max(doc_id) AS keep_id,
               count(*) - 1 AS n_removed
        FROM l2 GROUP BY cluster_id""")),

    // ---- VIDEO near-dup: frame-fingerprint sequence alignment ---------------
    // The temporal rung of the multimodal family: none of the per-asset
    // queries above can catch a TRIMMED RE-UPLOAD — the same video minus
    // its first seconds, the classic YouTube-scale duplicate — because
    // every whole-asset fingerprint moves when the content shifts. The
    // standard industrial answer (frame-level fingerprints + temporal
    // alignment) is what this query does, miniaturized onto the
    // mm_scene_cuts frame model: each asset is a SEQUENCE of per-frame
    // dHashes; every document plants a twin "recording" whose payload
    // drops the first frame-stride of content, so the twin's frame k is
    // bit-identical to the original's frame k+1 — a one-frame-shifted
    // fingerprint sequence, undetectable to whole-asset hashing,
    // guaranteed recoverable here.
    //   Candidates: an inverted index on the exact frame hash (share a
    // frame → candidate), DF-CAPPED at [[VideoDfCap]] recordings per
    // hash — a shared intro slate or black frame is the hot key of this
    // domain, and an uncapped index would go quadratic on it (the
    // dd_domain_cap discipline; VideoNearDupSpec plants exactly that
    // slate and proves both the bound and that twins still recover via
    // their remaining frames).
    //   Verification: alignment votes. Each shared frame (a, b) votes
    // for offset d = frame_a − frame_b; a genuine sub-sequence match
    // concentrates votes on ONE offset, accidental hash collisions
    // scatter. Per pair keep the best (most votes, then smallest
    // offset) via a packed-integer max — n ≤ 8 frames and |d| ≤ 7, so
    // pack = n·1024 + (512 − d) is exact and tie-deterministic (the
    // er_golden survivorship discipline). A pair is a near-dup when ≥
    // [[VideoMinAlign]] frames agree on one offset; containment_milli
    // = aligned/min(nf) recognizes clip-within-video containment.
    //   Scale: one fingerprint pass (materialized), then key-bucketed
    // joins only — hash-partitioned on h with the cap bounding every
    // bucket, never all-pairs; aggregates carry (rec, rec, d) keys, not
    // payloads. 100 TB shape: identical, with the frame table bucketed
    // by h on disk.
    Q("mm_video_neardup",
      (s, dir) => videoNearDup(s, Tables.sharded(s, dir, "documents")),
      Some(s"""
        WITH $videoPairsSql
        SELECT rec_a, rec_b, n_aligned, best_offset, containment_milli
        FROM vnd""")),

    // ---- video-dup ledger: aligned pairs → duplicate sets → keep-newest -----
    // The retention ledger over the alignment pairs — the third instance
    // of the pairs→clusters contract (mm_dhash_clusters, mm_audio_
    // clusters): bounded min-label components over the near-dup pairs,
    // one row per duplicate set with the keep-newest (max rec_id)
    // survivor. Composed from the SAME videoNearDup lineage / oracle
    // CTE block as mm_video_neardup, so the ledger cannot drift from
    // the pair query it summarizes.
    Q("mm_video_clusters",
      (s, dir) => {
        val pairs = videoNearDup(s, Tables.sharded(s, dir, "documents"))
          .select(col("rec_a").as("doc_a"), col("rec_b").as("doc_b"))
        graft.ops.Components.label(pairs, rounds = 2,
            materializeResult = false) // consumed once (r19)
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
            max(col("doc_id")).as("keep_id"))
          .withColumn("n_removed", col("n_members") - 1)
      },
      Some(s"""
        WITH $videoPairsSql,
        cand AS (SELECT rec_a AS doc_a, rec_b AS doc_b FROM vnd),
        ${graft.ops.Components.labelSql(2)}
        SELECT cluster_id, count(*) AS n_members, max(doc_id) AS keep_id,
               count(*) - 1 AS n_removed
        FROM l2 GROUP BY cluster_id""")),

    // ---- multimodal dedup governance card ------------------------------------
    // One row per MODALITY, composed from the SAME four pair lineages
    // the near-dup queries register (stub-thumbnail dHash, PNG-decoded
    // dHash, audio fingerprint, video frame alignment) — the card a data
    // steward reads before a training run: how many duplicate pairs per
    // modality, touching how many records. Because each lineage is the
    // single shared definition, the card cannot drift from the queries
    // it summarizes; on the oracle side each lineage's CTE block is
    // scoped inside its own subquery (names collide across blocks by
    // design). Four 1-row aggregate pairs cross into four card rows —
    // the dq_expectations verdict-card shape, per modality.
    Q("mm_dedup_report",
      (s, dir) => {
        // r18: the four modality pair pipelines are fully independent —
        // materialize them CONCURRENTLY (guide §2.6) so each pipeline's
        // straggler tail back-fills with the next modality's work,
        // instead of four sequential decode-heavy job chains
        val Seq(pAudio, pImage, pDhash, pVideo) =
          graft.ops.Materialize.materializeAll(
            audioPairs(s, dir).select(col("rec_a").as("a"),
              col("rec_b").as("b")),
            imagePairs(s, dir).select(col("rec_a").as("a"),
              col("rec_b").as("b")),
            dhashPairs(s, dir).select(col("asset_a").as("a"),
              col("asset_b").as("b")),
            videoNearDup(s, Tables.sharded(s, dir, "documents"))
              .select(col("rec_a").as("a"), col("rec_b").as("b")))
        def card(modality: String, p: DataFrame): DataFrame = {
          val members = p.select(col("a").as("m"))
            .unionByName(p.select(col("b").as("m")))
          p.agg(count(lit(1)).as("n_pairs"))
            .crossJoin(members.agg(
              countDistinct(col("m")).as("n_dup_records")))
            .select(lit(modality).as("modality"), col("n_pairs"),
              col("n_dup_records"))
        }
        card("audio_fingerprint", pAudio)
          .unionByName(card("image_png_dhash", pImage))
          .unionByName(card("image_stub_dhash", pDhash))
          .unionByName(card("video_alignment", pVideo))
      },
      Some {
        def block(modality: String, ctes: String, sel: String,
            ca: String, cb: String): String = s"""
          SELECT * FROM (
            WITH $ctes,
            p2 AS ($sel)
            SELECT '$modality' AS modality,
                   (SELECT CAST(count(*) AS BIGINT) FROM p2) AS n_pairs,
                   (SELECT CAST(count(DISTINCT m) AS BIGINT) FROM (
                      SELECT $ca AS m FROM p2
                      UNION ALL SELECT $cb FROM p2)) AS n_dup_records)"""
        Seq(
          block("audio_fingerprint", audioPairsSql,
            s"SELECT rec_a, rec_b FROM pairs WHERE hamming <= $DhashMaxHamming",
            "rec_a", "rec_b"),
          block("image_png_dhash", imagePairsSql,
            s"SELECT rec_a, rec_b FROM pairs WHERE hamming <= $DhashMaxHamming",
            "rec_a", "rec_b"),
          block("image_stub_dhash", dhashPairsSql,
            s"SELECT asset_a, asset_b FROM pairs " +
              s"WHERE bit_count(xor(h_a, h_b)) <= $DhashMaxHamming",
            "asset_a", "asset_b"),
          block("video_alignment", videoPairsSql,
            "SELECT rec_a, rec_b FROM vnd", "rec_a", "rec_b"))
          .mkString("\nUNION ALL\n")
      })
  )

  /** The image near-dup pair lineage (pixel gen → PNG round trip → real
    * 9×8 dHash → block-bucket self-join → exact hamming, threshold
    * applied) — ONE definition consumed by mm_image_neardup and
    * mm_dedup_report.
    */
  private[graft] def imagePairs(s: SparkSession, dir: String): DataFrame = {
    val (w, h) = (9, 8)
    val enc = udf((xs: Seq[Long]) =>
      graft.pipeline.PngCodec.encode(w, h, xs.map(_.toInt).toArray))
    val dec = udf((b: Array[Byte]) =>
      graft.pipeline.PngCodec.decode(b)._3.map(_.toLong).toSeq)
    val recs = Tables.sharded(s, dir, "documents")
      .select(col("doc_id"), explode(array(lit(0), lit(1))).as("v"))
      .select((col("doc_id") * 2 + col("v")).as("rec_id"),
        col("doc_id"), col("v"))
      .withColumn("gen", expr(
        s"""transform(sequence(0L, ${w * h - 1}L), i ->
           (CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),
              '|', CAST(i AS STRING))), 1, 12), 16, 10) AS BIGINT)
              % 200 +
            IF(v = 1, 10L, 0L)) * 65793)"""))
      .withColumn("rgb", dec(enc(col("gen"))))
      .select(col("rec_id"), expr(
        s"""aggregate(sequence(0, 59), 0L, (acc, k) -> acc + IF(
           element_at(rgb, CAST((k div 8) * 9 + (k % 8) + 1 AS INT))
             div 65536 >
           element_at(rgb, CAST((k div 8) * 9 + (k % 8) + 2 AS INT))
             div 65536,
           shiftleft(1L, k), 0L))""").as("f"))
      .materialize() // one decode+fingerprint pass, both join sides
    val blocked = recs.select(col("rec_id"), col("f"),
        explode(dhashBlockStructs(col("f"))).as("e"))
      .select(col("rec_id"), col("f"),
        col("e.blk").as("blk"), col("e.bv").as("bv"))
    blocked.select(col("blk"), col("bv"), col("rec_id").as("rec_a"),
        col("f").as("f_a"))
      .join(blocked.select(col("blk"), col("bv"),
        col("rec_id").as("rec_b"), col("f").as("f_b")), Seq("blk", "bv"))
      .filter(col("rec_a") < col("rec_b"))
      .select(col("rec_a"), col("rec_b"),
        bit_count(col("f_a").bitwiseXOR(col("f_b"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= DhashMaxHamming)
  }

  /** Oracle CTE block recs→…→pairs mirroring [[imagePairs]] — shared by
    * the image near-dup oracle and the report (CTE names collide with
    * the audio block's by design; each consumer scopes its block inside
    * its own subquery). A def, not a val (the audioPairsSql lesson).
    */
  private def imagePairsSql = s"""
        recs AS (
          SELECT doc_id * 2 + v AS rec_id, doc_id, v
          FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS v)),
        g AS (
          SELECT rec_id,
                 list_transform(generate_series(0, 71), i ->
                   (CAST('0x' || substr(md5(doc_id || '|' || i), 1, 12)
                      AS BIGINT) % 200 +
                    CASE WHEN v = 1 THEN 10 ELSE 0 END) * 65793) AS l
          FROM recs),
        fp AS (
          SELECT rec_id,
                 CAST(list_sum(list_transform(generate_series(0, 59),
                   k -> CASE WHEN l[(k // 8) * 9 + (k % 8) + 1] // 65536 >
                       l[(k // 8) * 9 + (k % 8) + 2] // 65536
                     THEN (CAST(1 AS BIGINT) << k) ELSE 0 END))
                   AS BIGINT) AS f
          FROM g),
        blocked AS (
          SELECT rec_id, f, blk, (f >> (blk * 15)) & 32767 AS bv
          FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS blk)),
        pairs AS (
          SELECT DISTINCT a.rec_id AS rec_a, b.rec_id AS rec_b,
                 CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
          FROM blocked a JOIN blocked b
            ON a.blk = b.blk AND a.bv = b.bv AND a.rec_id < b.rec_id)"""

  /** Oracle CTE block recs→…→vnd mirroring [[videoNearDup]], shared by
    * both video oracles for the no-drift reason above. A def, not a
    * val: `qs` interpolates it during object init (the audioPairsSql
    * lesson).
    */
  private def videoPairsSql = s"""
        recs AS (
          SELECT doc_id * 2 + v AS rec_id,
                 CASE WHEN v = 1 THEN substr(text, 1 + $SceneStride)
                      ELSE text END AS text
          FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS v)),
        base AS (
          SELECT rec_id, text,
                 least(length(text) // $SceneStride, $SceneMaxFrames) AS nf
          FROM recs),
        fr AS (
          SELECT rec_id, nf, CAST(g.i AS BIGINT) AS frame,
                 substr(text, 1 + g.i * $SceneStride, $DhashThumb) AS t
          FROM base
          CROSS JOIN generate_series(0, ${SceneMaxFrames - 1}) AS g(i)
          WHERE base.nf >= 2 AND g.i < base.nf),
        ch AS (
          SELECT rec_id, nf, frame,
                 [ascii(substr(t, 1 + (i * ${DhashThumb - 1}) // $DhashBits,
                    1)) for i in generate_series(0, $DhashBits)] AS cs
          FROM fr),
        dh AS (
          SELECT rec_id, nf, frame,
                 CAST(list_sum([CASE WHEN cs[i+1] > cs[i+2]
                   THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
                   for i in generate_series(0, ${DhashBits - 1})]) AS BIGINT)
                   AS h
          FROM ch),
        keep AS (
          SELECT h FROM dh GROUP BY h
          HAVING count(DISTINCT rec_id) <= $VideoDfCap),
        idx AS (SELECT dh.* FROM dh JOIN keep USING (h)),
        co AS (
          SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
                 a.frame - b.frame AS d, count(*) AS n
          FROM idx a JOIN idx b ON a.h = b.h AND a.rec_id < b.rec_id
          GROUP BY 1, 2, 3),
        best AS (
          SELECT rec_a, rec_b, max(n * 1024 + (512 - d)) AS pack
          FROM co GROUP BY 1, 2),
        nfs AS (SELECT rec_id, max(nf) AS nf FROM dh GROUP BY 1),
        vnd AS (
          SELECT rec_a, rec_b,
                 pack // 1024 AS n_aligned,
                 512 - (pack % 1024) AS best_offset,
                 (pack // 1024) * 1000 // least(na.nf, nb.nf)
                   AS containment_milli
          FROM best
          JOIN nfs na ON na.rec_id = rec_a
          JOIN nfs nb ON nb.rec_id = rec_b
          WHERE pack // 1024 >= $VideoMinAlign)"""

  /** Per-recording frame-hash sequences for [[videoNearDup]]: original
    * (v=0) plus the planted trimmed twin (v=1, first [[SceneStride]]
    * chars dropped — its frame k ≡ the original's frame k+1). Takes the
    * documents frame explicitly so VideoNearDupSpec can drive planted
    * corpora through the exact production lineage.
    */
  private[graft] def videoFrames(s: SparkSession, docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        explode(array(lit(0), lit(1))).as("v"))
      .select((col("doc_id") * 2 + col("v")).as("rec_id"),
        when(col("v") === 1, expr(s"substring(text, ${SceneStride + 1})"))
          .otherwise(col("text")).as("text"))
      .withColumn("nf", least(expr(s"length(text) div $SceneStride"),
        lit(SceneMaxFrames)).cast("long"))
      .filter(col("nf") >= 2)
      .select(col("rec_id"), col("nf"),
        explode(sequence(lit(0L), col("nf") - 1)).as("frame"),
        col("text"))
      .select(col("rec_id"), col("nf"), col("frame"),
        dhash(s, expr(
          s"substring(text, 1 + frame * $SceneStride, $DhashThumb)"))
          .as("h"))

  /** Frame-sequence alignment near-dup over [[videoFrames]] — the Spark
    * lineage mm_video_neardup registers (its scaladoc above carries the
    * design rationale). A frame hash held by more than [[VideoDfCap]]
    * recordings leaves the index.
    */
  private[graft] def videoNearDup(s: SparkSession, docs: DataFrame)
      : DataFrame = {
    val fr = videoFrames(s, docs).materialize() // one fingerprint pass
    val keep = fr.groupBy(col("h"))
      .agg(countDistinct(col("rec_id")).as("df"))
      .filter(col("df") <= VideoDfCap.toLong)
      .select(col("h"))
    val idx = fr.join(keep, Seq("h"))
    val co = idx
      .select(col("h"), col("rec_id").as("rec_a"), col("frame").as("fa"))
      .join(idx.select(col("h"), col("rec_id").as("rec_b"),
        col("frame").as("fb")), Seq("h"))
      .filter(col("rec_a") < col("rec_b"))
      .groupBy(col("rec_a"), col("rec_b"),
        (col("fa") - col("fb")).as("d"))
      .agg(count(lit(1)).as("n"))
    val best = co.groupBy(col("rec_a"), col("rec_b"))
      .agg(max(col("n") * 1024 + (lit(512L) - col("d"))).as("pack"))
    val nfs = fr.groupBy(col("rec_id")).agg(max(col("nf")).as("nf"))
    best
      .join(nfs.select(col("rec_id").as("rec_a"), col("nf").as("nf_a")),
        Seq("rec_a"))
      .join(nfs.select(col("rec_id").as("rec_b"), col("nf").as("nf_b")),
        Seq("rec_b"))
      .select(col("rec_a"), col("rec_b"),
        expr("pack div 1024").as("n_aligned"),
        (lit(512L) - expr("pack % 1024")).as("best_offset"),
        expr("(pack div 1024) * 1000 div least(nf_a, nf_b)")
          .as("containment_milli"))
      .filter(col("n_aligned") >= VideoMinAlign)
  }

  /** The audio-fingerprint near-dup pair lineage (WAV round-trip →
    * sign-of-delta fingerprint → block explode → bucket self-join →
    * exact hamming, threshold applied) — ONE definition consumed by
    * mm_audio_neardup and mm_audio_clusters so the ledger cannot drift
    * from the pair query it composes.
    */
  private def audioPairs(s: SparkSession, dir: String): DataFrame = {
    // The synth → WAV encode → WAV decode → sign-of-delta fingerprint
    // chain is ONE fused JVM kernel ([[audioFingerprint]]; r15
    // constant-factor cut — this was one of the two queries whose CPU
    // warmth made cold bench windows breach 2×). The previous lineage
    // crossed the UDF boundary twice with a boxed 160-element Seq[Long]
    // each way and then ran a Catalyst aggregate-over-sequence with 120
    // element_at probes per row; the kernel takes (doc_id, v) — two
    // scalars — and returns the 60-bit fingerprint, with the WAV
    // round-trip (the real-codec point of the query) intact inside.
    val fp = udf(audioFingerprint _)
    val recs = Tables.sharded(s, dir, "documents")
      .select(col("doc_id"), explode(array(lit(0), lit(1))).as("v"))
      .select((col("doc_id") * 2 + col("v")).as("rec_id"),
        fp(col("doc_id"), col("v")).as("f"))
      .materialize() // both sides of the bucket join — one fp pass
    val blocked = recs.select(col("rec_id"), col("f"),
        explode(dhashBlockStructs(col("f"))).as("e"))
      .select(col("rec_id"), col("f"),
        col("e.blk").as("blk"), col("e.bv").as("bv"))
    val lhs = blocked.select(col("blk"), col("bv"),
      col("rec_id").as("rec_a"), col("f").as("f_a"))
    val rhs = blocked.select(col("blk"), col("bv"),
      col("rec_id").as("rec_b"), col("f").as("f_b"))
    lhs.join(rhs, Seq("blk", "bv"))
      .filter(col("rec_a") < col("rec_b"))
      .select(col("rec_a"), col("rec_b"),
        bit_count(col("f_a").bitwiseXOR(col("f_b"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= DhashMaxHamming)
  }

  /** The fused audio-fingerprint kernel: synthesize recording
    * `(docId, v)`'s 160 samples (the same closed form the oracle's `g`
    * CTE evaluates), round-trip them through the REAL WAV codec
    * (encode → decode — the codec-exercising point of the audio
    * family), and fold the 60-bit sign-of-delta fingerprint bit b =
    * [sample((b+1)·159/60) > sample(b·159/60)] — DC/gain-shift
    * invariant. Pure function of its two scalars, so the UDF boundary
    * carries no arrays; Hamming-compared downstream after LSH-style
    * block bucketing. Parity with the oracle's fp CTE is pinned by
    * AudioFingerprintSpec and the CORRECTNESS gate.
    */
  private[graft] def audioFingerprint(docId: Long, v: Int): Long = {
    val samples = new Array[Short](160)
    var i = 0
    while (i < 160) {
      val base = docId * (i.toLong * i * 101 + i * 31 + 7) % 65000 - 32500
      samples(i) = (base + (if (v == 1) 3 else 0)).toShort
      i += 1
    }
    val decoded = graft.pipeline.WavCodec.decode(
      graft.pipeline.WavCodec.encode(samples, 8000))._3
    var f = 0L
    var b = 0
    while (b < 60) {
      if (decoded(((b + 1) * 159) / 60) > decoded((b * 159) / 60))
        f |= 1L << b
      b += 1
    }
    f
  }

  /** Oracle CTEs recs/g/fp/blocked/pairs mirroring [[audioPairs]] —
    * shared by both audio oracles for the same no-drift reason. A def,
    * not a val: `qs` above interpolates it during object init, and a
    * val declared after `qs` would still be null at that point.
    */
  private def audioPairsSql = s"""
        recs AS (
          SELECT doc_id * 2 + v AS rec_id, doc_id, v
          FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS v)),
        g AS (
          SELECT rec_id,
                 list_transform(generate_series(0, 159), i ->
                   (doc_id * (i * i * 101 + i * 31 + 7)) % 65000
                     - 32500 + CASE WHEN v = 1 THEN 3 ELSE 0 END) AS l
          FROM recs),
        fp AS (
          SELECT rec_id,
                 CAST(list_sum(list_transform(generate_series(0, 59),
                   b -> CASE WHEN l[((b + 1) * 159) // 60 + 1] >
                       l[(b * 159) // 60 + 1]
                     THEN (CAST(1 AS BIGINT) << b) ELSE 0 END))
                   AS BIGINT) AS f
          FROM g),
        blocked AS (
          SELECT rec_id, f, blk, (f >> (blk * 15)) & 32767 AS bv
          FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS blk)),
        pairs AS (
          SELECT DISTINCT a.rec_id AS rec_a, b.rec_id AS rec_b,
                 CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
          FROM blocked a JOIN blocked b
            ON a.blk = b.blk AND a.bv = b.bv AND a.rec_id < b.rec_id)"""
}
