package graft.queries

import graft.{Q, Tables}
import graft.ops.Materialize._
import graft.text.{TextOps, UrlOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the first of the four
  * LLM-training-data families (exact, MinHash+LSH, Jaccard verification,
  * SimHash). Hash discipline (the q27 rule, family-wide): a hash whose
  * VALUE decides selection or surfaces in output (MinHash minima,
  * winnowing window-mins, SimHash bits, Bloom positions, dd_exact's
  * text_hash column) is md5-derived so the DuckDB oracle mirrors it
  * bit-for-bit; a hash that is a pure equality-key COMPACTION (band
  * buckets, shingle/gram/sentence group-join keys, content-equality
  * probes) is codegen xxhash64 — results reduce to string equality, so
  * the oracle's md5 twin agrees while our shuffles carry 8-byte longs.
  * Either way every hash is deterministic: recomputation-stable at
  * 100 TB (a re-derived lost partition reproduces identical keys).
  */
object Dedup {

  // LSH configuration: K=12 MinHash components in 4 bands of 3 —
  // collision threshold ≈ (1/4)^(1/3) ≈ 0.63 Jaccard, tuned to surface the
  // fixture's planted near-duplicates without all-pairs work.
  private val ShingleN = 3
  private val K = 12
  private val RowsPerBand = 3

  // Exact-substring dedup gram width — Lee et al. 2022's 50 tokens, used
  // as-is (the sf0.01 fixture still surfaces ~600 cross-doc repeated
  // grams at this width, so the faithful parameter is also testable).
  private val SubstringGramN = 50

  /** dd_domain_cap: max docs kept per canonical host, and the salt
    * fan-out bounding the phase-2 window at Cap×Salt rows per host.
    */
  private val DomainCap = 3
  private[graft] val DomainSalt = 8

  // Every (bands, rowsPerBand) factorization of the K=12 signature —
  // the dd_lsh_sweep grid. Collision threshold ≈ (1/b)^(1/r).
  private val SweepConfigs: Seq[(Int, Int)] =
    Seq((12, 1), (6, 2), (4, 3), (3, 4), (2, 6), (1, 12))

  // dd_shingle_cap's document-frequency caps: tight, moderate, uncapped
  // (the uncapped row is the lost-pair baseline).
  private val ShingleDfCaps: Seq[Long] = Seq(2L, 5L, 1000000L)

  // dd_lsh_bucket_cap's per-bucket membership caps: tight, moderate,
  // effectively-uncapped-at-test-scale (the loose row is the recall
  // baseline the truncation economics read against; at 10x corpus it
  // starts truncating the hot buckets, which is the point).
  private val LshBucketCaps: Seq[Long] = Seq(2L, 8L, 64L)

  /** Exact shingle-Jaccard over LSH candidate pairs — ONE definition
    * consumed by dd_jaccard (the scored pairs) and dd_jaccard_curve
    * (the threshold-selection histogram over the same scores), so the
    * knob table cannot drift from the rerank it tunes. Scale shape as
    * documented at dd_jaccard: candidates materialized once, shingles
    * SEMI-FILTERED to candidate docs before the distinct + pair joins.
    */
  private def jaccardScored(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val d = docs(s, dir)
    val cand =
      TextOps.lshCandidates(d, ShingleN, K, RowsPerBand).materialize()
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // shingles compact to xxhash64 longs BEFORE the distinct — the hash
    // is result-invisible here (set sizes and intersections reduce to
    // string equality), so the distinct, both pair joins, and the size
    // counts all key on 8-byte longs instead of ~50-char strings
    val sh = TextOps.explodedShingles(d, ShingleN)
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), xxhash64(col("shingle")).as("h64"))
      .distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("h64")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("h64")),
        Seq("doc_b", "h64"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("n_inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"))
          .as("jaccard"))
  }

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.sharded(s, dir, "documents")

  /** DISTINCT 128-bit shingle keys (doc_id, h1, h2) for the LSH
    * ground-truth kernels — the §2.3 narrowing of what was a distinct +
    * checkpoint of raw ~50-char shingle STRINGS (r19): the distinct,
    * the checkpoint, the per-doc size counts, and the truth self-join
    * all carry 24-byte rows instead of strings. TWO independently
    * seeded xxhash64 columns, not one (the posGramHashes128 budget):
    * the intersection counts and sizes derived downstream are OUTPUT
    * VALUES (n_inter, sz, and the jaccard≥0.5 truth membership), so a
    * single 64-bit key's birthday collisions at the 100 TB design
    * point would silently move values where a candidate-gating hash
    * may not; the 128-bit pair keeps "identical results for any
    * collision-free hash" w.h.p. at any scale. The DuckDB mirrors keep
    * the raw strings and agree because every consumer reduces to
    * shingle-string equality.
    */
  private def distinctShingleKeys(
      d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    TextOps.explodedShingles(d, ShingleN)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h1"),
        xxhash64(lit("s2"), col("shingle")).as("h2"))
      .distinct()

  /** Exact pairwise shingle-intersection counts (doc_a < doc_b, n_inter)
    * from a distinct [[distinctShingleKeys]] table — the ground-truth
    * kernel behind dd_lsh_recall and dd_lsh_sweep, as a SELF-JOIN on the
    * 128-bit shingle key. Measured alternative (r9): the LSH-bucket
    * idiom (group shingle → sorted member list → ordered-pair explode)
    * was tried here and is ~20% SLOWER (4.3 → 5.2 s on dd_lsh_sweep at
    * sf0.1): raw shingles have much fatter buckets than banded LSH keys,
    * and the collect_list form concentrates each hot shingle's f² pair
    * explosion on one task with no partial aggregation, while the join
    * streams the same pairs through sort-merge across tasks. The idiom
    * wins for band-bucket candidates (small, hash-bounded buckets) and
    * loses for raw document-frequency buckets — bucket fatness decides,
    * not the operator count. At web scale you additionally drop
    * boilerplate shingles above a df cap before this join
    * (dd_shingle_cap measures that trade; pairs meeting only through
    * boilerplate sit far below any useful Jaccard threshold).
    */
  private def shingleIntersections(
      sh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    sh.select(col("doc_id").as("doc_a"), col("h1"), col("h2"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h1"), col("h2")),
        Seq("h1", "h2"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))

  /** Jaccard ≥ 0.5 ground-truth pairs from a distinct
    * [[distinctShingleKeys]] table, retaining the intersection/size
    * columns the threshold is computed from — ONE definition consumed
    * by dd_lsh_recall, dd_lsh_sweep, and dd_lsh_bucket_cap, so the
    * three cards cannot silently measure against diverged ground
    * truths.
    */
  private def truthPairsAtHalf(
      sh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    shingleIntersections(sh)
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")),
        "doc_b")
      .filter(col("n_inter") * 2 >=
        col("sz_a") + col("sz_b") - col("n_inter")) // jaccard >= 0.5
  }

  /** Merge duplicated n-gram starts (doc_id, start) into maximal covered
    * spans — the gaps-and-islands window shared by dd_substring and
    * dd_substring_clean (one definition so the cut ledger cannot diverge
    * from the localization it is documented to be a subset of): break
    * when consecutive starts are more than n apart (gap == n is
    * adjacent-non-overlapping coverage, still one span), then one
    * aggregate per island. Windows are partitioned by doc_id: no global
    * sort, skew bounded by tokens-per-doc.
    */
  private def dupSpans(starts: org.apache.spark.sql.DataFrame,
      n: Int): org.apache.spark.sql.DataFrame = {
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    starts
      .withColumn("brk",
        when(col("start") - lag(col("start"), 1).over(wOrd) > n, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) + lit(n.toLong) - min(col("start")))
          .as("span_len"),
        count(lit(1)).as("n_grams"))
  }

  /** Cross-doc duplicated-substring LOCALIZATION over any (doc_id, text)
    * frame — the dd_substring body, reusable so the scale smoke and the
    * idempotence property test exercise the exact production lineage:
    * positional gram hashes (checkpointed once, feeding BOTH the
    * document-frequency pass and the join-back), duplicated hashes by a
    * combinable countDistinct, then [[dupSpans]] gaps-and-islands.
    */
  private[graft] def substringSpans(docsDf: org.apache.spark.sql.DataFrame,
      n: Int): org.apache.spark.sql.DataFrame = {
    val grams = substringGrams(docsDf, n)
      .materialize() // feeds BOTH the freq pass and the join-back
    val dupHashes = grams.groupBy(col("h1"), col("h2"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h1"), col("h2"))
    dupSpans(grams.join(dupHashes, Seq("h1", "h2"))
        .select(col("doc_id"), col("start")), n)
      .select(col("doc_id"), col("span_start"), col("span_len"),
        col("n_grams"))
  }

  /** The positional gram-hash stream (doc_id, start, h) at width n — the
    * shared gram construction (no checkpoint; callers decide reuse).
    */
  private def substringGrams(docsDf: org.apache.spark.sql.DataFrame,
      n: Int): org.apache.spark.sql.DataFrame =
    docsDf
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextOps.posGramHashes128(col("toks"), n)).as("g"))
      .select(col("doc_id"), col("g.start").as("start"),
        col("g.h1").as("h1"), col("g.h2").as("h2"))

  /** (doc_id, n_tokens, gs) base for the removal stage, checkpointed once
    * so the token ledger and the gram stream share one computation.
    */
  private def substringBase(docsDf: org.apache.spark.sql.DataFrame,
      n: Int): org.apache.spark.sql.DataFrame =
    docsDf.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        TextOps.posGramHashes128(col("toks"), n).as("gs"))
      .materialize()

  /** Maximal covered spans of NON-KEEPER duplicated-gram occurrences —
    * what dd_substring_clean cuts. Keeper = min(struct(doc_id, start))
    * per gram hash, one combinable aggregate.
    */
  private[graft] def substringCutSpansFromBase(
      base: org.apache.spark.sql.DataFrame,
      n: Int): org.apache.spark.sql.DataFrame = {
    val grams = base.select(col("doc_id"), explode(col("gs")).as("g"))
      .select(col("doc_id"), col("g.start").as("start"),
        col("g.h1").as("h1"), col("g.h2").as("h2"))
    val keepers = grams.groupBy(col("h1"), col("h2"))
      .agg(countDistinct(col("doc_id")).as("nd"),
        min(struct(col("doc_id"), col("start"))).as("keeper"))
      .filter(col("nd") >= 2)
      .select(col("h1"), col("h2"), col("keeper"))
    dupSpans(grams.join(keepers, Seq("h1", "h2"))
        .filter(struct(col("doc_id"), col("start")) =!= col("keeper"))
        .select(col("doc_id"), col("start")), n)
  }

  /** [[substringCutSpansFromBase]] from a raw (doc_id, text) frame. */
  private[graft] def substringCutSpans(docsDf: org.apache.spark.sql.DataFrame,
      n: Int): org.apache.spark.sql.DataFrame =
    substringCutSpansFromBase(substringBase(docsDf, n), n)

  /** The exact-substring gram width (Lee et al.'s 50), exposed for specs. */
  private[graft] def substringGramN: Int = SubstringGramN

  /** Deterministic crawl-variant URL for a doc_id — the dd_url_dedup
    * fixture synthesis (the corpus has no URL column), shared with the
    * scale smoke: page id = doc_id÷4, and the four doc_ids of a page get
    * the four crawl shapes of one address (clean / upper-case+default-
    * port+trailing-slash / no-www+tracking-param / http+port-80+fragment+
    * unsorted-params). Variants 0,1 and 2,3 collapse pairwise under
    * [[UrlOps.canonicalUrl]] (2,3 keep sorted params `a=1&b=2`), so every
    * canonicalization rule is exercised. Mirrored literally in the
    * dd_url_dedup oracle SQL.
    */
  private[graft] def crawlUrl(docId: org.apache.spark.sql.Column):
      org.apache.spark.sql.Column = {
    val pid = shiftright(docId, 2) // exact integer ÷4 (doc_id ≥ 0)
    val ps = pid.cast("string")
    val hb = concat(lit("example-"), (pid % 50).cast("string"), lit(".com"))
    when(docId % 4 === 0,
        concat(lit("https://www."), hb, lit("/articles/"), ps))
      .when(docId % 4 === 1,
        concat(lit("HTTPS://WWW."), upper(hb), lit(":443/articles/"), ps,
          lit("/")))
      .when(docId % 4 === 2,
        concat(lit("https://"), hb, lit("/articles/"), ps,
          lit("?b=2&a=1&utm_source=feed")))
      .otherwise(concat(lit("http://www."), hb, lit(":80/articles/"), ps,
        lit("?a=1&utm_campaign=x&b=2#frag")))
  }

  /** DuckDB mirror of [[crawlUrl]] over a BIGINT doc_id expression — the
    * single source for every oracle that replays the crawl-URL synthesis.
    */
  private def crawlUrlSql(idExpr: String): String = {
    val pid = s"($idExpr // 4)"
    s"""CASE $idExpr % 4
          WHEN 0 THEN 'https://www.example-' || ($pid % 50)
               || '.com/articles/' || $pid
          WHEN 1 THEN 'HTTPS://WWW.EXAMPLE-' || ($pid % 50)
               || '.COM:443/articles/' || $pid || '/'
          WHEN 2 THEN 'https://example-' || ($pid % 50)
               || '.com/articles/' || $pid
               || '?b=2&a=1&utm_source=feed'
          ELSE 'http://www.example-' || ($pid % 50)
               || '.com:80/articles/' || $pid
               || '?a=1&utm_campaign=x&b=2#frag'
        END"""
  }

  val qs: Seq[Q] = Seq(

    // ---- exact dedup: normalized-text hash groups ---------------------------
    // Normalization = tokenize + single-space rejoin, so whitespace/case/
    // punctuation variants collapse. One map-side-combinable aggregation;
    // shuffle carries (hash, partial counts) only.
    Q("dd_exact",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          md5(concat_ws(" ", TextOps.tokens(col("text"))).cast("binary"))
            .as("text_hash"))
        .groupBy(col("text_hash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id")),
      Some(s"""
        SELECT md5(array_to_string(tokens, ' ')) AS text_hash,
               count(*) AS n_docs, min(doc_id) AS canonical_id
        FROM (${DocSql.toksSql})
        GROUP BY 1""")),

    // ---- URL-level dedup: canonicalize, then collapse ----------------------
    // The cheapest dedup a web corpus gets: crawls of one page under
    // scheme/case/port/tracking-param/trailing-slash variant URLs collapse
    // on UrlOps.canonicalUrl BEFORE any content is read — a narrow codegen
    // projection plus one combinable aggregation, so at 100 TB it prices as
    // a scan while content dedup prices as a shuffle of the corpus. The
    // fixture has no URL column, so (like ref_uri_parts) the four crawl
    // variants are synthesized deterministically per page id doc_id÷4:
    // clean / upper-case+default-port+trailing-slash / no-www+tracking-param
    // / http+port-80+fragment+unsorted-params. Variants 0,1 and 2,3 collapse
    // pairwise (2,3 keep sorted params a=1&b=2), exercising every rule.
    Q("dd_url_dedup", {
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), crawlUrl(col("doc_id")).as("url"))
          .withColumn("canonical_url", UrlOps.canonicalUrl(col("url")))
          .groupBy(col("canonical_url"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("url")).as("n_raw_forms"),
            min(col("doc_id")).as("keeper_id"))
    },
      Some(s"""
        WITH urls AS (
          SELECT doc_id, ${crawlUrlSql("doc_id")} AS url
          FROM documents)
        SELECT ${UrlOps.canonicalUrlSql("url")} AS canonical_url,
               count(*) AS n_docs,
               count(DISTINCT url) AS n_raw_forms,
               min(doc_id) AS keeper_id
        FROM urls
        GROUP BY 1""")),

    // ---- per-domain corpus statistics --------------------------------------
    // The profile behind every domain-level curation decision (CCNet's
    // per-domain filtering, RefinedWeb's blocklists, Gopher's source
    // rules): group the crawl by canonical HOST (UrlOps.host — the
    // per-domain key, where canonicalUrl is the per-page key) and report
    // docs, distinct pages, and exact content volume. Plan shape: the
    // scan reads (doc_id, n_chars) only, the URL synthesis+host split is
    // a narrow codegen projection, and the whole query is one two-phase
    // aggregate (countDistinct(page) rewrites to two exchanges) — at
    // 100 TB this prices as a scan plus a host-keyed shuffle of small
    // (host, page) pairs, never of content.
    Q("dd_domain_stats", {
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), col("n_chars"),
            crawlUrl(col("doc_id")).as("url"))
          .select(col("doc_id"), col("n_chars"),
            UrlOps.host(col("url")).as("host"),
            UrlOps.canonicalUrl(col("url")).as("page"))
          .groupBy(col("host"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("page")).as("n_pages"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("first_doc"))
    },
      Some(s"""
        WITH urls AS (
          SELECT doc_id, n_chars, ${crawlUrlSql("doc_id")} AS url
          FROM documents)
        SELECT ${UrlOps.hostSql("url")} AS host,
               count(*) AS n_docs,
               count(DISTINCT ${UrlOps.canonicalUrlSql("url")}) AS n_pages,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS first_doc
        FROM urls
        GROUP BY 1""")),

    // ---- domain balancing: cap docs per domain, skew-safely ----------------
    // The training-mix balancing step: keep at most DomainCap docs per
    // canonical host, preferring longer docs (n_chars DESC, doc_id ASC as
    // the total-order tie-break). A naive row_number over host partitions
    // sorts EVERY doc of a heavy-hitter domain on one task — the classic
    // skew cliff at 100 TB, where one domain can be 1%+ of the crawl. So
    // the rank runs in two salted phases: phase 1 ranks within (host,
    // doc_id % DomainSalt) and keeps its top DomainCap — correct because
    // a global top-K element is a top-K element of any subset containing
    // it — bounding phase 2's per-host partition at Cap×Salt rows
    // regardless of domain size. The oracle ranks directly over host
    // (DuckDB sees small data; the salted plan is the point on OUR side).
    Q("dd_domain_cap", {
      (s, dir) =>
        val ranked = docs(s, dir)
          .select(col("doc_id"), col("n_chars"),
            UrlOps.host(crawlUrl(col("doc_id"))).as("host"))
        val order = Seq(col("n_chars").desc, col("doc_id").asc)
        val pre = Window.partitionBy(col("host"), pmod(col("doc_id"),
          lit(DomainSalt))).orderBy(order: _*)
        val fin = Window.partitionBy(col("host")).orderBy(order: _*)
        ranked
          .withColumn("pre_rk", row_number().over(pre))
          .filter(col("pre_rk") <= DomainCap)
          .withColumn("rk", row_number().over(fin).cast("long"))
          .filter(col("rk") <= DomainCap)
          .select(col("host"), col("rk"), col("doc_id"), col("n_chars"))
    },
      Some(s"""
        WITH urls AS (
          SELECT doc_id, n_chars, ${crawlUrlSql("doc_id")} AS url
          FROM documents),
        ranked AS (
          SELECT ${UrlOps.hostSql("url")} AS host, doc_id, n_chars,
                 row_number() OVER (
                   PARTITION BY ${UrlOps.hostSql("url")}
                   ORDER BY n_chars DESC, doc_id ASC) AS rk
          FROM urls)
        SELECT host, CAST(rk AS BIGINT) AS rk, doc_id, n_chars
        FROM ranked
        WHERE rk <= $DomainCap""")),

    // ---- near-dup candidates: MinHash + banded LSH --------------------------
    // The scale-critical property: candidates come from a shuffle join on
    // (band, band_hash) buckets — docs only meet if a full band agrees.
    // Never an all-pairs comparison.
    Q("dd_minhash_lsh",
      (s, dir) => TextOps.lshCandidates(docs(s, dir), ShingleN, K, RowsPerBand),
      Some(s"""
        WITH bands AS (${DocSql.bandsSql(ShingleN, K, RowsPerBand)})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id""")),

    // ---- candidate verification: exact n-gram Jaccard -----------------------
    // Jaccard is computed ONLY for LSH candidates (the rerank step of the
    // dedup pipeline): distinct-shingle sets joined per candidate pair.
    // Scale shape: `cand` is materialized (localCheckpoint) so the MinHash
    // DAG runs once, not once per downstream reference; the shingle table
    // is SEMI-FILTERED to candidate docs via a broadcast join BEFORE the
    // distinct + pair joins, so the expensive stages touch only docs that
    // survived LSH — at 100 TB the rerank cost tracks |candidates|, not
    // |corpus|. (The only full-corpus pass left is signature generation.)
    Q("dd_jaccard",
      (s, dir) => jaccardScored(s, dir),
      Some(s"""
        WITH bands AS (${DocSql.bandsSql(ShingleN, K, RowsPerBand)}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        sh AS (SELECT DISTINCT doc_id, shingle FROM (${DocSql.shinglesSql(ShingleN)})),
        sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_inter
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b)
        SELECT i.doc_a, i.doc_b, i.n_inter,
               CAST(i.n_inter AS DOUBLE) /
                 CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jaccard
        FROM inter i
        JOIN sz sa ON sa.doc_id = i.doc_a
        JOIN sz sb ON sb.doc_id = i.doc_b""")),

    // ---- Jaccard operating curve (threshold sweep for the rerank knob) -----
    // Completes the knob-selection trilogy (mm_hamming_curve /
    // sim_tau_curve): per 0.1-wide Jaccard band over the SAME scored
    // candidate pairs dd_jaccard emits, how many pairs a verification
    // threshold τ would confirm (cumulative from the most-similar band
    // down). Shares jaccardScored — the curve literally cannot drift
    // from the rerank it tunes; bands are floor(j·10) over the
    // integer-count-derived jaccard double, identical in both engines.
    // Covers pairs with ≥1 shared shingle (zero-overlap candidates have
    // no Jaccard row in the parent either).
    Q("dd_jaccard_curve",
      (s, dir) => {
        val hist = jaccardScored(s, dir)
          .withColumn("band", floor(col("jaccard") * 10).cast("long"))
          .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
        val w = Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        hist.withColumn("cum_pairs", sum(col("n_pairs")).over(w))
      },
      Some(s"""
        WITH bands AS (${DocSql.bandsSql(ShingleN, K, RowsPerBand)}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        sh AS (SELECT DISTINCT doc_id, shingle FROM (${DocSql.shinglesSql(ShingleN)})),
        sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_inter
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b),
        jac AS (
          SELECT CAST(floor((CAST(i.n_inter AS DOUBLE) /
                   CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE)) * 10)
                   AS BIGINT) AS band
          FROM inter i
          JOIN sz sa ON sa.doc_id = i.doc_a
          JOIN sz sb ON sb.doc_id = i.doc_b),
        hist AS (SELECT band, count(*) AS n_pairs FROM jac GROUP BY 1)
        SELECT band, n_pairs,
               CAST(sum(n_pairs) OVER (ORDER BY band DESC
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pairs
        FROM hist""")),

    // ---- candidate verification: edit distance ------------------------------
    // The character-level rerank (complements dd_jaccard's set-level one):
    // Levenshtein distance over the first 64 characters, computed ONLY
    // for LSH candidate pairs — the O(len²) DP cost tracks |candidates|,
    // never |corpus|², and the fixed prefix caps the per-pair cost (the
    // standard production guard: full-text edit distance on long docs is
    // quadratic in length too). Both engines implement unit-cost
    // insert/delete/substitute Levenshtein, so the distances hash-match.
    Q("dd_edit_distance",
      (s, dir) => {
        val d = docs(s, dir)
        val cand =
          TextOps.lshCandidates(d, ShingleN, K, RowsPerBand).materialize()
        val p = d.select(col("doc_id"), substring(col("text"), 1, 64)
          .as("prefix"))
        cand
          .join(p.select(col("doc_id").as("doc_a"), col("prefix").as("pa")),
            "doc_a")
          .join(p.select(col("doc_id").as("doc_b"), col("prefix").as("pb")),
            "doc_b")
          .select(col("doc_a"), col("doc_b"),
            levenshtein(col("pa"), col("pb")).cast("long").as("edit64"))
      },
      Some(s"""
        WITH bands AS (${DocSql.bandsSql(ShingleN, K, RowsPerBand)}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        p AS (SELECT doc_id, substr(text, 1, 64) AS prefix FROM documents)
        SELECT c.doc_a, c.doc_b,
               CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS edit64
        FROM cand c
        JOIN p a ON a.doc_id = c.doc_a
        JOIN p b ON b.doc_id = c.doc_b""")),

    // ---- MinHash estimation accuracy (sketch eval, like sim_recall) ---------
    // For every LSH candidate pair: estimated Jaccard = fraction of
    // agreeing MinHash components vs the exact shingle Jaccard — the
    // measurement that justifies the sketch. Signatures join back to the
    // (small, checkpointed) candidate set; exact Jaccard reuses the
    // semi-filtered rerank shape of dd_jaccard.
    Q("dd_minhash_estimate",
      (s, dir) => {
        val d = docs(s, dir)
        // one corpus-wide signature pass feeds BOTH the LSH bucketing and
        // the per-candidate signature join-back
        val allSigs = TextOps.minhashSignatures(d, ShingleN, K)
          .materialize()
        val cand = TextOps.lshCandidatesFromSigs(allSigs, K, RowsPerBand)
          .materialize()
        val candDocs = cand.select(col("doc_a").as("doc_id"))
          .union(cand.select(col("doc_b").as("doc_id"))).distinct()
        val sigs = allSigs
          .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
        val nMatch = (0 until K).map(k =>
          when(col(s"a_mh$k") === col(s"b_mh$k"), 1).otherwise(0))
          .reduce(_ + _)
        val withSigs = cand
          .join(sigs.select(col("doc_id").as("doc_a") +:
            (0 until K).map(k => col(s"mh$k").as(s"a_mh$k")): _*), "doc_a")
          .join(sigs.select(col("doc_id").as("doc_b") +:
            (0 until K).map(k => col(s"mh$k").as(s"b_mh$k")): _*), "doc_b")
          .select(col("doc_a"), col("doc_b"), nMatch.cast("long").as("n_match"))
        // the jaccardScored h64 compaction (result-invisible join key)
        val sh = TextOps.explodedShingles(d, ShingleN)
          .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), xxhash64(col("shingle")).as("h64"))
          .distinct()
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        val inter = cand
          .join(sh.select(col("doc_id").as("doc_a"), col("h64")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"), col("h64")),
            Seq("doc_b", "h64"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
        withSigs
          .join(inter, Seq("doc_a", "doc_b"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")),
            "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")),
            "doc_b")
          .select(col("doc_a"), col("doc_b"), col("n_match"),
            (col("n_match").cast("double") / K).as("est_jaccard"),
            (col("n_inter").cast("double") /
              (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"))
              .as("jaccard"))
      },
      Some {
        val matches = (0 until K).map(k =>
          s"CASE WHEN a.mh$k = b.mh$k THEN 1 ELSE 0 END").mkString(" + ")
        s"""
        WITH sig AS (${DocSql.minhashSql(ShingleN, K)}),
        bands AS (${DocSql.bandsSql(ShingleN, K, RowsPerBand)}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        est AS (
          SELECT c.doc_a, c.doc_b, CAST($matches AS BIGINT) AS n_match
          FROM cand c
          JOIN sig a ON a.doc_id = c.doc_a
          JOIN sig b ON b.doc_id = c.doc_b),
        sh AS (SELECT DISTINCT doc_id, shingle
               FROM (${DocSql.shinglesSql(ShingleN)})),
        sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_inter
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY c.doc_a, c.doc_b)
        SELECT e.doc_a, e.doc_b, e.n_match,
               CAST(e.n_match AS DOUBLE) / $K AS est_jaccard,
               CAST(i.n_inter AS DOUBLE) /
                 CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jaccard
        FROM est e
        JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
        JOIN sz sa ON sa.doc_id = e.doc_a
        JOIN sz sb ON sb.doc_id = e.doc_b"""
      }),

    // ---- LSH candidate recall vs exact ground truth -------------------------
    // The dedup analog of sim_recall: does banding MISS true near-dups?
    // Ground truth = every pair with exact Jaccard ≥ 0.5, found via the
    // inverted index (pairs meeting through a shared shingle — exact for
    // any Jaccard > 0, and bounded by shingle frequency, so no all-pairs
    // scan and no Cartesian node; the self-join cost is f² per shingle
    // of document-frequency f, so at web scale you would ADDITIONALLY
    // drop boilerplate shingles above a frequency cap before this join —
    // acceptable because pairs meeting ONLY through boilerplate are far
    // below the 0.5 threshold anyway; not needed at fixture scale).
    // Report per true pair whether LSH surfaced it — the measured recall
    // that justifies the band/row config (4 bands × 3 rows ⇒ ~0.63
    // Jaccard collision threshold).
    Q("dd_lsh_recall",
      (s, dir) => {
        val d = docs(s, dir)
        // r19: the truth kernel reads the NARROW 128-bit key checkpoint
        // (24-byte rows through the distinct, the checkpoint, and the
        // self-join — was a distinct + checkpoint of raw shingle
        // strings), and the signature branch tokenizes the corpus
        // directly (MinHash minima are identical over duplicated
        // shingles, so it never needed the distinct; the second regex
        // pass is the r18 §10 lesson — recompute of cheap-per-row
        // transforms beats reading back wide string intermediates).
        // Both branches hang off the final join, so AQE materializes
        // their leaf stages concurrently.
        val shK = distinctShingleKeys(d).materialize()
        val truth = truthPairsAtHalf(shK)
        val cand = TextOps.lshCandidatesFromSigs(
            TextOps.minhashSignatures(d, ShingleN, K), K, RowsPerBand)
          .withColumn("found", lit(1L))
        truth.join(cand, Seq("doc_a", "doc_b"), "left")
          .select(col("doc_a"), col("doc_b"), col("n_inter"),
            (col("n_inter").cast("double") /
              (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"))
              .as("jaccard"),
            coalesce(col("found"), lit(0L)).as("found"))
      },
      Some(s"""
        WITH sh AS (SELECT DISTINCT doc_id, shingle
                    FROM (${DocSql.shinglesSql(ShingleN)})),
        sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        truth AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON b.shingle = a.shingle
                            AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        tj AS (
          SELECT t.doc_a, t.doc_b, t.n_inter, sa.sz AS sz_a, sb.sz AS sz_b
          FROM truth t
          JOIN sz sa ON sa.doc_id = t.doc_a
          JOIN sz sb ON sb.doc_id = t.doc_b
          WHERE t.n_inter * 2 >= sa.sz + sb.sz - t.n_inter),
        bands AS (${DocSql.bandsSql(ShingleN, K, RowsPerBand)}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
        SELECT t.doc_a, t.doc_b, t.n_inter,
               CAST(t.n_inter AS DOUBLE) /
                 CAST(t.sz_a + t.sz_b - t.n_inter AS DOUBLE) AS jaccard,
               CAST(CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS BIGINT)
                 AS found
        FROM tj t LEFT JOIN cand c ON c.doc_a = t.doc_a
                                  AND c.doc_b = t.doc_b""")),

    // ---- LSH parameter sweep: recall vs candidate volume per config ---------
    // The tuning table behind the K=12, 4×3 choice: every (bands, rows)
    // factorization of the SAME 12-component signature evaluated against
    // the SAME jaccard≥0.5 inverted-index ground truth — collision
    // threshold (1/b)^(1/r) sweeps ~0 → 0.94 down the rows. ONE signature
    // pass and ONE truth pass (both localCheckpointed) feed all configs,
    // and the configs are MULTIPLEXED through shared plan nodes rather
    // than run as 6 branches: the per-config banded rows (narrow maps
    // off the signature checkpoint, Σb = 28 rows/doc total) union into
    // one frame whose grouping keys carry (bands, rows_per_band), so the
    // whole sweep costs one bucket aggregate, one pair-distinct, and one
    // union-tag aggregate regardless of how many configs are swept —
    // 4 exchanges total instead of ~3 per config. Truth pairs fan out
    // |configs|× via a literal-array explode (model-sized constant).
    // Output is model-sized: one row per config.
    Q("dd_lsh_sweep",
      (s, dir) => {
        val d = docs(s, dir)
        // r19: narrow 128-bit key checkpoint for the truth kernel (was
        // a distinct + checkpoint of raw shingle strings); signatures
        // tokenize the corpus directly (minima are duplicate-
        // insensitive — see dd_lsh_recall).
        val shK = distinctShingleKeys(d).materialize()
        // signatures and ground truth are independent — materialize
        // them CONCURRENTLY (guide §2.6) so the md5 signature pass
        // back-fills the truth self-join's tail
        val Seq(sigs, truthPairs) = graft.ops.Materialize.materializeAll(
          TextOps.minhashSignatures(d, ShingleN, K),
          truthPairsAtHalf(shK).select(col("doc_a"), col("doc_b")))
        val cfgKeys = Seq(col("bands"), col("rows_per_band"))
        val banded = SweepConfigs.map { case (b, r) =>
          TextOps.bandedRows(sigs, b * r, r)
            .select(lit(b.toLong).as("bands"),
              lit(r.toLong).as("rows_per_band"),
              col("doc_id"), col("band"), col("bh"))
        }.reduce(_.unionByName(_))
        // TextOps.orderedPairs with the config keys retained
        val cand = TextOps.orderedPairs(
          banded
            .groupBy(cfgKeys :+ col("band") :+ col("bh"): _*)
            .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
            .filter(size(col("ids")) >= 2),
          "ids", Seq("bands", "rows_per_band"))
        val cfgLit = explode(array(SweepConfigs.map { case (b, r) =>
          struct(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"))
        }: _*))
        val truthTagged = truthPairs
          .select(cfgLit.as("c"), col("doc_a"), col("doc_b"))
          .select(col("c.bands").as("bands"),
            col("c.rows_per_band").as("rows_per_band"),
            col("doc_a"), col("doc_b"))
        cand.select(cfgKeys :+ col("doc_a") :+ col("doc_b") :+
            lit(1L).as("is_cand") :+ lit(0L).as("is_truth"): _*)
          .unionByName(truthTagged.select(cfgKeys :+ col("doc_a") :+
            col("doc_b") :+ lit(0L).as("is_cand") :+
            lit(1L).as("is_truth"): _*))
          .groupBy(cfgKeys :+ col("doc_a") :+ col("doc_b"): _*)
          .agg(max(col("is_cand")).as("c"), max(col("is_truth")).as("t"))
          .groupBy(cfgKeys: _*)
          .agg(sum(col("c")).as("n_candidates"),
            sum(col("t")).as("n_truth"),
            sum(col("c") * col("t")).as("n_found"))
          .select(cfgKeys :+ col("n_candidates") :+ col("n_truth") :+
            col("n_found") :+
            (col("n_found").cast("double") / col("n_truth").cast("double"))
              .as("recall"): _*)
      },
      Some {
        val configCtes = SweepConfigs.map { case (b, r) =>
          s"""bands_${b}_$r AS (${DocSql.bandsFromSigSql(b, r)}),
          cand_${b}_$r AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands_${b}_$r a JOIN bands_${b}_$r b
              ON a.band = b.band AND a.bh = b.bh
             AND a.doc_id < b.doc_id)"""
        }.mkString(",\n")
        val configSelects = SweepConfigs.map { case (b, r) =>
          s"""SELECT CAST($b AS BIGINT) AS bands,
                 CAST($r AS BIGINT) AS rows_per_band,
                 (SELECT count(*) FROM cand_${b}_$r) AS n_candidates,
                 (SELECT count(*) FROM tj) AS n_truth,
                 (SELECT count(*) FROM tj t JOIN cand_${b}_$r c
                    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_found,
                 CAST((SELECT count(*) FROM tj t JOIN cand_${b}_$r c
                    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS DOUBLE)
                   / (SELECT count(*) FROM tj) AS recall"""
        }.mkString(" UNION ALL ")
        s"""
        WITH sh AS (SELECT DISTINCT doc_id, shingle
                    FROM (${DocSql.shinglesSql(ShingleN)})),
        sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        tr0 AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON b.shingle = a.shingle
                             AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        tj AS (
          SELECT t.doc_a, t.doc_b
          FROM tr0 t
          JOIN sz sa ON sa.doc_id = t.doc_a
          JOIN sz sb ON sb.doc_id = t.doc_b
          WHERE t.n_inter * 2 >= sa.sz + sb.sz - t.n_inter),
        sig AS (${DocSql.minhashSql(ShingleN, K)}),
        $configCtes
        $configSelects"""
      }),

    // ---- LSH bucket-occupancy cap: the candidate-side scale mitigation ------
    // dd_shingle_cap bounds the TRUTH side (inverted-index df cap); this
    // bounds the CANDIDATE side. Within-bucket pair enumeration costs
    // Σ n_b² over bucket occupancies n_b, and on a duplicate-heavy
    // corpus occupancy grows WITH the corpus: the r17 three-point
    // measurement (sf0.1/0.3/1.0, one window, one harness) put
    // dd_lsh_sweep's upper-segment exponent at 1.09 while every other
    // query in the set amortized DOWN (0.02–0.26) — candidate volume is
    // the sweep's own output complexity, and it is the one term that
    // grows super-linearly. The standard mitigation truncates each
    // bucket at a fixed occupancy cap (near-duplicates collide in MANY
    // bands, so a pair lost to truncation in one bucket usually
    // survives in another — the exact redundancy banding exists to
    // provide). This query MEASURES that trade on the chosen 4×3
    // config: per cap — buckets truncated, candidate pairs kept, and
    // recall against the same jaccard≥0.5 ground truth the sweep uses.
    // All caps share ONE bucket aggregate (the caps multiplex through a
    // literal-array explode over the bucket-count-sized frame), one
    // pair-distinct, and one union-tag aggregate — the dd_lsh_sweep
    // plan shape, with the cap as a third grouping key. The truncation
    // rule (keep the cap SMALLEST doc_ids of the sorted bucket) is
    // deterministic, so the DuckDB mirror (row_number ≤ cap) agrees
    // exactly and a recomputed lost partition reproduces it at 100 TB.
    Q("dd_lsh_bucket_cap",
      (s, dir) => {
        val d = docs(s, dir)
        // r19: narrow 128-bit key checkpoint for the truth kernel;
        // signatures tokenize the corpus directly (see dd_lsh_recall)
        val shK = distinctShingleKeys(d).materialize()
        val capsArr = array(LshBucketCaps.map(c => lit(c)): _*)
        // truth pass and bucket aggregate are independent — overlap
        // them (the dd_lsh_sweep pattern)
        val Seq(truth, buckets) = graft.ops.Materialize.materializeAll(
          truthPairsAtHalf(shK).select(col("doc_a"), col("doc_b")),
          TextOps
            .bandedRows(TextOps.minhashSignatures(d, ShingleN, K),
              K, RowsPerBand)
            .groupBy(col("band"), col("bh"))
            .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
            .filter(size(col("ids")) >= 2))
        // buckets: bucket-count sized; feeds every cap below
        val bucketCaps = buckets
          .select(explode(capsArr).as("cap"), col("ids"))
        val overStats = bucketCaps.groupBy(col("cap"))
          .agg(sum(when(size(col("ids")) > col("cap"), 1L).otherwise(0L))
            .as("n_buckets_over"))
        val cand = TextOps.orderedPairs(
          bucketCaps.select(col("cap"),
            slice(col("ids"), lit(1), col("cap").cast("int")).as("kept")),
          "kept", Seq("cap"))
        val truthTagged = truth
          .select(explode(capsArr).as("cap"), col("doc_a"), col("doc_b"))
        cand.select(col("cap"), col("doc_a"), col("doc_b"),
            lit(1L).as("is_cand"), lit(0L).as("is_truth"))
          .unionByName(truthTagged.select(col("cap"), col("doc_a"),
            col("doc_b"), lit(0L).as("is_cand"), lit(1L).as("is_truth")))
          .groupBy(col("cap"), col("doc_a"), col("doc_b"))
          .agg(max(col("is_cand")).as("c"), max(col("is_truth")).as("t"))
          .groupBy(col("cap"))
          .agg(sum(col("c")).as("n_candidates"),
            sum(col("t")).as("n_truth"),
            sum(col("c") * col("t")).as("n_found"))
          // LEFT: an empty bucket frame (no full-band collision at tiny
          // scale) must not drop the truth-only rows the oracle's caps
          // LEFT JOIN keeps
          .join(overStats, Seq("cap"), "left") // model-sized ⋈ model-sized
          .select(col("cap"),
            coalesce(col("n_buckets_over"), lit(0L)).as("n_buckets_over"),
            col("n_candidates"), col("n_truth"), col("n_found"),
            (col("n_found").cast("double") / col("n_truth").cast("double"))
              .as("recall"))
      },
      Some(s"""
        WITH sh AS (SELECT DISTINCT doc_id, shingle
                    FROM (${DocSql.shinglesSql(ShingleN)})),
        sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        tr0 AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON b.shingle = a.shingle
                             AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        tj AS (
          SELECT t.doc_a, t.doc_b
          FROM tr0 t
          JOIN sz sa ON sa.doc_id = t.doc_a
          JOIN sz sb ON sb.doc_id = t.doc_b
          WHERE t.n_inter * 2 >= sa.sz + sb.sz - t.n_inter),
        sig AS (${DocSql.minhashSql(ShingleN, K)}),
        bands AS (${DocSql.bandsFromSigSql(K / RowsPerBand, RowsPerBand)}),
        ranked AS (
          SELECT doc_id, band, bh,
                 row_number() OVER (PARTITION BY band, bh
                                    ORDER BY doc_id) AS rn
          FROM bands),
        caps AS (SELECT CAST(cap AS BIGINT) AS cap
                 FROM (VALUES ${LshBucketCaps.map(c => s"($c)")
                   .mkString(",")}) t(cap)),
        bsz AS (SELECT band, bh, max(rn) AS n FROM ranked GROUP BY 1, 2),
        over_c AS (
          SELECT c.cap, count(*) AS n_buckets_over
          FROM caps c JOIN bsz b ON b.n > c.cap
          GROUP BY 1),
        cand AS (
          SELECT c.cap, a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM caps c
          JOIN ranked a ON a.rn <= c.cap
          JOIN ranked b ON b.band = a.band AND b.bh = a.bh
                       AND b.doc_id > a.doc_id AND b.rn <= c.cap
          GROUP BY 1, 2, 3),
        nc AS (SELECT cap, count(*) AS n FROM cand GROUP BY 1),
        nf AS (SELECT c.cap, count(*) AS n
               FROM cand c JOIN tj t ON t.doc_a = c.doc_a
                                    AND t.doc_b = c.doc_b
               GROUP BY 1)
        SELECT c.cap,
               CAST(coalesce(o.n_buckets_over, 0) AS BIGINT)
                 AS n_buckets_over,
               CAST(coalesce(nc.n, 0) AS BIGINT) AS n_candidates,
               (SELECT count(*) FROM tj) AS n_truth,
               CAST(coalesce(nf.n, 0) AS BIGINT) AS n_found,
               CAST(coalesce(nf.n, 0) AS DOUBLE) /
                 (SELECT count(*) FROM tj) AS recall
        FROM caps c
        LEFT JOIN over_c o ON o.cap = c.cap
        LEFT JOIN nc ON nc.cap = c.cap
        LEFT JOIN nf ON nf.cap = c.cap""")),

    // ---- shingle document-frequency cap: the web-scale cost mitigation ------
    // dd_lsh_recall's inverted-index ground truth costs Σ df² per shingle
    // of document frequency df — at web scale a boilerplate shingle
    // ("click here to subscribe") with df=10^6 single-handedly generates
    // 10^12 pairs. The standard mitigation drops shingles above a df cap
    // from the index, trading pairs whose ONLY shared content is
    // boilerplate for a bounded join. This query MEASURES that trade on
    // the corpus instead of documenting it: per cap — the number of
    // surviving duplicated shingles, the pair-generation cost
    // Σ df·(df−1)/2 the inverted index actually pays, and the distinct
    // candidate pairs still surfaced. One shingle pass, one combinable
    // df aggregation, and ONE df-carrying pair self-join feed every cap
    // (a pair survives cap c iff its minimum connecting df ≤ c); the
    // uncapped row is the baseline the lost-pair count reads against.
    // Output: 3 rows.
    Q("dd_shingle_cap",
      (s, dir) => {
        val d = docs(s, dir)
        // h64 compaction at the source (result-invisible: every output
        // column reduces to shingle-string equality) — the df aggregate
        // and the pair self-join all key on longs
        val sh = TextOps.explodedShingles(d, ShingleN)
          .select(col("doc_id"), xxhash64(col("shingle")).as("h64"))
          .distinct()
          .materialize()
        val dfreq = sh.groupBy(col("h64"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2) // df=1 shingles generate zero pairs
          .materialize()
        // r19: ONE inverted-index self-join for ALL caps, not one per
        // cap (§1.2 — the three per-cap joins re-paid the biggest cap's
        // volume plus two extra distinct exchanges). A pair survives
        // cap c iff SOME connecting shingle has df ≤ c, i.e. iff its
        // MINIMUM connecting df ≤ c — so the single uncapped self-join
        // carries df (8 bytes), the pair aggregate takes min(df)
        // instead of distinct (same exchange, map-side combinable),
        // and every cap's n_pairs is a conditional sum. Both 1-row
        // aggregate sides (never empty, unlike a groupBy(cap) over an
        // exploded frame) combine by union+max (the q24/dd_report
        // rule: a constant-key join would fold to BNLJ) and the 3
        // output rows multiplex out of the combined row as a literal
        // struct explode — everything after the two checkpoints is ONE
        // job, no added barrier.
        // EXPLICIT width on the self-join input (the er scorer lesson):
        // AQE size-coalesces the few-MB h64 shuffle to ~3 partitions,
        // blind to the CPU-dense pair explosion downstream; pinning the
        // exchange at shuffle.partitions keeps the join wide. No
        // checkpoint — two cheap exchanges of an 8-byte-keyed frame
        // beat another barrier job at any scale.
        val n = s.conf.get("spark.sql.shuffle.partitions").toInt
        val shD = sh.join(dfreq, "h64").repartition(n, col("h64"))
        val pairMin = shD
          .select(col("h64"), col("doc_id").as("doc_a"), col("df"))
          .join(shD.select(col("h64"), col("doc_id").as("doc_b")), "h64")
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(min(col("df")).as("mdf"))
        val statAggs = ShingleDfCaps.map(c =>
          coalesce(sum(when(col("df") <= c, 1L)), lit(0L)).as(s"ns_$c")) ++
          ShingleDfCaps.map(c =>
            coalesce(sum(when(col("df") <= c, call_function("div",
              col("df") * (col("df") - 1), lit(2L)))), lit(0L)).as(s"gc_$c"))
        val capStats = dfreq.agg(statAggs.head, statAggs.tail: _*)
        val pairAggs = ShingleDfCaps.map(c =>
          coalesce(sum(when(col("mdf") <= c, 1L)), lit(0L)).as(s"np_$c"))
        val pairCounts = pairMin.agg(pairAggs.head, pairAggs.tail: _*)
        val allCols = ShingleDfCaps.flatMap(c => Seq(s"ns_$c", s"gc_$c")) ++
          ShingleDfCaps.map(c => s"np_$c")
        def pad(df: org.apache.spark.sql.DataFrame) =
          df.select(allCols.map(c =>
            (if (df.columns.contains(c)) col(c)
             else lit(null).cast("long")).as(c)): _*)
        pad(capStats).unionByName(pad(pairCounts))
          .agg(max(col(allCols.head)).as(allCols.head),
            allCols.tail.map(c => max(col(c)).as(c)): _*)
          .select(explode(array(ShingleDfCaps.map(c =>
            struct(lit(c).as("cap"), col(s"ns_$c").as("n_shingles"),
              col(s"gc_$c").as("gen_cost"),
              col(s"np_$c").as("n_pairs"))): _*)).as("r"))
          .select(col("r.cap").as("cap"), col("r.n_shingles").as("n_shingles"),
            col("r.gen_cost").as("gen_cost"), col("r.n_pairs").as("n_pairs"))
      },
      Some {
        val capCtes = ShingleDfCaps.map { cap =>
          s"""kept_$cap AS (SELECT shingle, df FROM dfreq WHERE df <= $cap),
          pairs_$cap AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sh a JOIN kept_$cap k ON k.shingle = a.shingle
            JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id)"""
        }.mkString(",\n")
        val capSelects = ShingleDfCaps.map { cap =>
          s"""SELECT CAST($cap AS BIGINT) AS cap,
                 (SELECT count(*) FROM kept_$cap) AS n_shingles,
                 (SELECT CAST(coalesce(sum(df * (df - 1) // 2), 0) AS BIGINT)
                  FROM kept_$cap) AS gen_cost,
                 (SELECT count(*) FROM pairs_$cap) AS n_pairs"""
        }.mkString(" UNION ALL ")
        s"""
        WITH sh AS (SELECT DISTINCT doc_id, shingle
                    FROM (${DocSql.shinglesSql(ShingleN)})),
        dfreq AS (
          SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
          HAVING count(*) >= 2),
        $capCtes
        $capSelects"""
      }),

    // ---- near-dup cluster assignment ---------------------------------------
    // LSH pairs → dedup groups via bounded min-label propagation
    // (ops.Components): cluster_id = smallest doc id reachable in ≤4
    // rounds. The canonical "keep one per cluster" dedup output.
    Q("dd_clusters",
      (s, dir) => graft.ops.Components.label(
        TextOps.lshCandidates(docs(s, dir), ShingleN, K, RowsPerBand),
        rounds = 4, materializeResult = false), // consumed once (r19)
      Some(s"""
        WITH bands AS (${DocSql.bandsSql(ShingleN, K, RowsPerBand)}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        ${graft.ops.Components.labelSql(4)}
        SELECT doc_id, cluster_id FROM l4""")),

    // ---- convergence-gated clustering (high-diameter safety) ---------------
    // dd_clusters' fixed 4 rounds are right for LSH cliques (diameter
    // ≤2), but a 100 TB near-dup graph can hide HIGH-DIAMETER chains
    // (A≈B≈C≈… transitive near-dups) that a fixed bound silently
    // under-merges. This variant runs Components.labelUntilConverged:
    // pointer-doubling min-label propagation that stops at the measured
    // fixpoint (per-round changed-label probe) under a surfaced cap.
    // The candidate set is a PLANTED LONG-PATH corpus — consecutive
    // doc ids chained in runs of 16 (diameter 15, far past dd_clusters'
    // bound; pointer doubling closes it in ~⌈log₂15⌉+1 rounds) — built
    // by an existence-checked self-join, so the pairs are derived from
    // data, not assumed. The oracle is the chain's closed form. A
    // non-converged result FAILS the query (require), never returns
    // truncated labels as if complete.
    Q("dd_clusters_converged",
      (s, dir) => {
        val ids = docs(s, dir).select(col("doc_id"))
        val pairs = ids.filter(col("doc_id") % 16 =!= 15)
          .select(col("doc_id").as("doc_a"))
          .join(ids.select(col("doc_id").as("doc_b")),
            col("doc_b") === col("doc_a") + 1)
        val res = graft.ops.Components.labelUntilConverged(pairs,
          maxRounds = 12)
        require(res.converged,
          s"component labeling hit the ${res.rounds}-round cap without " +
            "converging — labels would be silently under-merged")
        res.labels
      },
      Some("""
        WITH mx AS (SELECT max(doc_id) AS m FROM documents)
        SELECT doc_id, (doc_id // 16) * 16 AS cluster_id
        FROM documents, mx
        WHERE NOT (doc_id % 16 = 0 AND doc_id = m)""")),

    // ---- train/eval contamination detection --------------------------------
    // Decontamination (the C4/GPT eval-overlap check): which held-out
    // docs (source src0) share a 5-gram with any training doc (every
    // other source), and how much. Distinct (shingle, doc) sets on both
    // sides, one equi-join on the shingle — at production scale the eval
    // side is tiny, so it broadcast-joins and the train corpus never
    // shuffles for it.
    Q("dd_contamination",
      (s, dir) => {
        // 5-gram strings compact to xxhash64 keys (result-invisible:
        // both counts reduce to shingle equality) — the distincts, the
        // eval×train join, and the countDistinct all carry longs
        val withSrc = docs(s, dir)
          .select(col("doc_id"), col("source"),
            TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("source"),
            explode(TextOps.shingles(col("toks"), 5)).as("shingle"))
          .select(col("doc_id"), col("source"),
            xxhash64(col("shingle")).as("h64"))
        val eval_ = withSrc.filter(col("source") === "src0")
          .select(col("h64"), col("doc_id").as("eval_doc")).distinct()
        val train = withSrc.filter(col("source") =!= "src0")
          .select(col("h64"), col("doc_id").as("train_doc")).distinct()
        eval_.join(train, "h64")
          .groupBy(col("eval_doc"))
          .agg(countDistinct(col("train_doc")).as("n_train_docs"),
            countDistinct(col("h64")).as("n_shared_shingles"))
      },
      Some(s"""
        WITH sh AS (
          SELECT d.doc_id, d.source, s.shingle
          FROM documents d JOIN (${DocSql.shinglesSql(5)}) s
            ON s.doc_id = d.doc_id),
        e AS (SELECT DISTINCT shingle, doc_id AS eval_doc
              FROM sh WHERE source = 'src0'),
        t AS (SELECT DISTINCT shingle, doc_id AS train_doc
              FROM sh WHERE source <> 'src0')
        SELECT e.eval_doc, count(DISTINCT t.train_doc) AS n_train_docs,
               count(DISTINCT e.shingle) AS n_shared_shingles
        FROM e JOIN t ON t.shingle = e.shingle
        GROUP BY 1""")),

    // ---- containment-scored decontamination verdicts -----------------------
    // dd_contamination measures overlap; this DECIDES: per eval doc, the
    // fraction of its distinct 5-grams that appear anywhere in training
    // (containment, not Jaccard — the right asymmetry for "is this eval
    // doc leaked", where a short eval doc swallowed by a long train doc
    // must still score 1.0), as an exact integer per-mille plus the
    // ≥ 80% contaminated flag (the GPT-3/Dolma-style n-gram overlap
    // rule). Every eval doc WITH at least one 5-gram reports a row —
    // zero-overlap docs included (left join), since "clean" is the
    // decision that needs an audit trail. Docs too short to shingle
    // (< 5 tokens) have no n-grams, so n-gram containment is undefined
    // for them and they carry no row — route them through exact-match
    // dedup (dd_exact) instead; the fixture has none.
    // Plan shape: distinct eval (doc, shingle) pairs semi-joined
    // against the distinct train shingle set — the shuffle carries
    // shingle keys, never text; per-doc totals and shared counts are
    // combinable aggregates merged by one doc-keyed broadcast-back join.
    Q("dd_containment",
      (s, dir) => {
        // same h64 compaction as dd_contamination (result-invisible)
        val withSrc = docs(s, dir)
          .select(col("doc_id"), col("source"),
            TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("source"),
            explode(TextOps.shingles(col("toks"), 5)).as("shingle"))
          .select(col("doc_id"), col("source"),
            xxhash64(col("shingle")).as("h64"))
        val evalSh = withSrc.filter(col("source") === "src0")
          .select(col("doc_id").as("eval_doc"), col("h64")).distinct()
        val trainSh = withSrc.filter(col("source") =!= "src0")
          .select(col("h64")).distinct()
        val tot = evalSh.groupBy(col("eval_doc"))
          .agg(count(lit(1)).as("n_shingles"))
        val shared = evalSh.join(trainSh, Seq("h64"), "left_semi")
          .groupBy(col("eval_doc")).agg(count(lit(1)).as("n_shared"))
        tot.join(shared, Seq("eval_doc"), "left")
          .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
          .withColumn("containment_permille",
            expr("(1000 * n_shared) div n_shingles"))
          .withColumn("contaminated", col("containment_permille") >= 800)
      },
      Some(s"""
        WITH sh AS (
          SELECT d.doc_id, d.source, s.shingle
          FROM documents d JOIN (${DocSql.shinglesSql(5)}) s
            ON s.doc_id = d.doc_id),
        e AS (SELECT DISTINCT doc_id AS eval_doc, shingle
              FROM sh WHERE source = 'src0'),
        t AS (SELECT DISTINCT shingle FROM sh WHERE source <> 'src0'),
        tot AS (SELECT eval_doc, count(*) AS n_shingles FROM e GROUP BY 1),
        shr AS (SELECT e.eval_doc, count(*) AS n_shared
                FROM e JOIN t USING (shingle) GROUP BY 1)
        SELECT tot.eval_doc, tot.n_shingles,
               coalesce(shr.n_shared, 0) AS n_shared,
               (1000 * coalesce(shr.n_shared, 0)) // tot.n_shingles
                 AS containment_permille,
               (1000 * coalesce(shr.n_shared, 0)) // tot.n_shingles >= 800
                 AS contaminated
        FROM tot LEFT JOIN shr USING (eval_doc)""")),

    // ---- bloom-filter decontamination (Dolma/CCNet-style) ------------------
    // The membership-sketch variant of dd_contamination: build ONE fixed
    // 2^20-bit Bloom filter over the training corpus' distinct 5-grams
    // (a single map-side-combinable aggregation — the shuffle carries
    // 128 KB bitsets, not shingles), then probe every held-out 5-gram
    // with pure bit arithmetic against the broadcast bitset. Per eval
    // doc: bloom hits (no false negatives, md5-deterministic false
    // positives) next to exact hits — the sketch-accuracy accounting.
    // Scale shape: the probe side is a narrow map over a 1-row broadcast
    // (the BroadcastNestedLoopJoin is the bounded sketch × scan shape,
    // see PLAN_AUDIT); only the exact-hit column needs the train-side
    // key join, and a production decontamination pass would drop it and
    // ship the 128 KB filter alone — constant state per 100 TB.
    Q("dd_bloom_decontam",
      (s, dir) => {
        import graft.functions.BloomSketch
        val k = 3; val bits = 1 << 20; val words = bits / 64
        val bl = udaf(new BloomSketch(words))
        val withSrc = docs(s, dir)
          .select(col("doc_id"), col("source"),
            TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("source"),
            explode(TextOps.shingles(col("toks"), 5)).as("shingle"))
        // r19: materialized — the train distinct feeds BOTH the bloom
        // build and the exact-hit join build, and neither the static
        // planner nor AQE deduped the repeated tokenize+shingle+distinct
        // subtree (two full passes measured in the plan)
        val train = withSrc.filter(col("source") =!= "src0")
          .select(col("shingle")).distinct().materialize()
        val bloom = train
          .select(BloomSketch.positions(col("shingle"), k, bits).as("pos"))
          .agg(bl(col("pos")).as("bloom"))
        val evalSh = withSrc.filter(col("source") === "src0")
          .select(col("doc_id").as("eval_doc"), col("shingle")).distinct()
        evalSh.crossJoin(broadcast(bloom))
          .select(col("eval_doc"), col("shingle"),
            BloomSketch.mightContain(col("bloom"), col("shingle"), k, bits)
              .as("bloom_hit"))
          .join(train.withColumn("exact_hit", lit(1L)), Seq("shingle"), "left")
          .groupBy(col("eval_doc"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"),
            sum(coalesce(col("exact_hit"), lit(0L))).as("n_exact_hits"))
      },
      Some(s"""
        WITH sh AS (
          SELECT d.doc_id, d.source, s.shingle
          FROM documents d JOIN (${DocSql.shinglesSql(5)}) s
            ON s.doc_id = d.doc_id),
        train AS (SELECT DISTINCT shingle FROM sh WHERE source <> 'src0'),
        pos AS (
          SELECT DISTINCT
            CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || '|' || shingle),
              1, 15)) AS BIGINT) % 1048576 AS p
          FROM train CROSS JOIN generate_series(0, 2) AS j(j)),
        ev AS (SELECT DISTINCT doc_id AS eval_doc, shingle
               FROM sh WHERE source = 'src0'),
        probe AS (
          SELECT eval_doc, shingle,
            CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || '|' || shingle),
              1, 15)) AS BIGINT) % 1048576 AS p
          FROM ev CROSS JOIN generate_series(0, 2) AS j(j)),
        hits AS (
          SELECT pr.eval_doc, pr.shingle, count(pos.p) = 3 AS bloom_hit
          FROM probe pr LEFT JOIN pos ON pos.p = pr.p
          GROUP BY 1, 2)
        SELECT h.eval_doc, count(*) AS n_shingles,
               CAST(sum(CASE WHEN h.bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bloom_hits,
               CAST(sum(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_exact_hits
        FROM hits h LEFT JOIN train t ON t.shingle = h.shingle
        GROUP BY 1""")),

    // ---- span-level dedup accounting (C4-style partial-duplicate signal) ----
    // Whole-doc dedup misses documents that COPY PARTS of each other;
    // span dedup chunks every doc into non-overlapping 8-token spans and
    // asks, per doc, how much of it is borne by other docs too. Shape:
    // distinct (doc, span-hash) pairs → span document-frequency (one
    // combinable aggregation, shuffle carries span hashes) → joined back
    // to each doc's span instances. At 100 TB the frequency table is the
    // only corpus-wide state, and it is Zipf-shaped (the overwhelmingly
    // common case is doc_freq = 1, prunable before the join-back with a
    // frequency filter when only the flagged spans matter).
    Q("dd_spans",
      (s, dir) => {
        // span strings compact to xxhash64 group/join keys (result-
        // invisible — outputs are per-doc counts, which reduce to span
        // equality); the shuffle carries 8-byte longs, never span text
        val spans = docs(s, dir)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            explode(TextOps.strideSpans(col("toks"), 8)).as("span"))
          .select(col("doc_id"), xxhash64(col("span")).as("h64"))
        val freq = spans.distinct()
          .groupBy(col("h64")).agg(count(lit(1)).as("doc_freq"))
        spans.join(freq, "h64")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("doc_freq") >= 2, 1L).otherwise(0L))
              .as("n_dup_spans"))
          .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
            (col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
              .as("dup_frac"))
      },
      Some(s"""
        WITH sp AS (${DocSql.spansSql(8)}),
        freq AS (
          SELECT span, count(*) AS doc_freq
          FROM (SELECT DISTINCT doc_id, span FROM sp) GROUP BY span)
        SELECT s.doc_id, count(*) AS n_spans,
               CAST(sum(CASE WHEN f.doc_freq >= 2 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_dup_spans,
               CAST(sum(CASE WHEN f.doc_freq >= 2 THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*) AS dup_frac
        FROM sp s JOIN freq f ON f.span = s.span
        GROUP BY s.doc_id""")),

    // ---- substring-level dedup: maximal cross-doc repeated spans ------------
    // Lee et al. 2022 exact-substring dedup, Spark-first: their suffix
    // array becomes overlapping 50-token gram hashes → one combinable
    // document-frequency pass → an equi-join back on the gram hash (the
    // ONLY join key — never content, never all-pairs), then duplicated
    // gram starts merge into MAXIMAL spans per doc with a gaps-and-islands
    // window (partitioned by doc_id: no global sort, skew bounded by
    // tokens-per-doc). Output localizes WHAT to cut: (doc_id, span_start,
    // span_len) for every verbatim run of ≥ SubstringGramN tokens shared
    // with at least one other document. Scale shape: gram volume ≈ token
    // volume (stride 1), all of it map-side-combinable or bucketed on the
    // hash; at web scale the same frequency-cap mitigation as
    // dd_lsh_recall applies to boilerplate grams.
    Q("dd_substring",
      (s, dir) => substringSpans(docs(s, dir), SubstringGramN),
      Some {
        val n = SubstringGramN
        val parts = (0 until n).map(k => s"tokens[g.i + $k]")
          .mkString(" || ' ' || ")
        s"""
        WITH g AS (
          SELECT doc_id, CAST(g.i AS BIGINT) AS start, md5($parts) AS h
          FROM (${DocSql.toksSql}) t
          CROSS JOIN generate_series(1, 512) AS g(i)
          WHERE g.i <= len(tokens) - ${n - 1}),
        freq AS (
          SELECT h FROM (
            SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY h)
          WHERE nd >= 2),
        dup AS (SELECT g.doc_id, g.start FROM g JOIN freq USING (h))
        ${DocSql.spanIslandsSql("dup", n)}"""
      }),

    // ---- substring-level dedup APPLIED: cut duplicated spans, keep one ------
    // The removal stage Lee et al. run after localization: every
    // duplicated gram keeps exactly ONE occurrence corpus-wide (the
    // lexicographically-first (doc_id, start) — deterministic in both
    // engines) and all other occurrences are cut. Keeper selection is a
    // single combinable min over struct(doc_id, start) — no window over
    // the gram stream, no second shuffle, and no overflow ceiling (the
    // struct min is exact at any doc_id). The ORACLE mirror packs the
    // key as doc_id·2^32 + start instead (DuckDB has no struct min);
    // the two agree for doc_id < 2^31, and past that ceiling DuckDB
    // raises on BIGINT overflow rather than silently diverging, so the
    // oracle bound fails loudly. Cut starts then merge into covered
    // spans with the dd_substring gaps-and-islands window and the ledger
    // reports per-doc tokens kept/cut in exact integers. Docs with
    // nothing to cut appear with zero counts (left join on the per-doc
    // token table — the data-card completeness rule from dd_report).
    Q("dd_substring_clean",
      (s, dir) => {
        val n = SubstringGramN
        val base = substringBase(docs(s, dir), n)
        val tokCounts = base.select(col("doc_id"), col("n_tokens"))
        val cutSpans = substringCutSpansFromBase(base, n)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("spans_cut"),
            sum(col("span_len")).as("tokens_cut"))
        tokCounts.join(cutSpans, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("tokens_cut"), lit(0L)).as("tokens_cut"),
            coalesce(col("spans_cut"), lit(0L)).as("spans_cut"),
            call_function("div",
              (col("n_tokens") - coalesce(col("tokens_cut"), lit(0L))) * 1000,
              greatest(col("n_tokens"), lit(1L))).as("keep_permille"))
      },
      Some {
        val n = SubstringGramN
        val parts = (0 until n).map(k => s"tokens[g.i + $k]")
          .mkString(" || ' ' || ")
        s"""
        WITH t AS (${DocSql.toksSql}),
        tc AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens FROM t),
        g AS (
          SELECT doc_id, CAST(g.i AS BIGINT) AS start, md5($parts) AS h
          FROM t
          CROSS JOIN generate_series(1, 512) AS g(i)
          WHERE g.i <= len(tokens) - ${n - 1}),
        keepers AS (
          SELECT h, min(doc_id * 4294967296 + start) AS keeper
          FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        cut AS (
          SELECT g.doc_id, g.start
          FROM g JOIN keepers USING (h)
          WHERE g.doc_id * 4294967296 + g.start <> keepers.keeper),
        sp AS (${DocSql.spanIslandsSql("cut", n)}),
        agg AS (
          SELECT doc_id, count(*) AS spans_cut,
                 CAST(sum(span_len) AS BIGINT) AS tokens_cut
          FROM sp GROUP BY doc_id)
        SELECT tc.doc_id, tc.n_tokens,
               coalesce(a.tokens_cut, 0) AS tokens_cut,
               coalesce(a.spans_cut, 0) AS spans_cut,
               (tc.n_tokens - coalesce(a.tokens_cut, 0)) * 1000
                 // greatest(tc.n_tokens, 1) AS keep_permille
        FROM tc LEFT JOIN agg a USING (doc_id)"""
      }),

    // ---- PageRank over the near-dup graph (canonical-doc authority) --------
    // Which document should represent its duplicate cluster? The one the
    // near-dup graph points at most: two fixed-point PageRank iterations
    // over the (undirected) LSH candidate edges. All arithmetic is
    // integer — ranks start at 10⁹, each neighbor contribution is
    // `rank div degree`, damping is `0.15·10⁹ + (85·Σ contribs) div 100`
    // — so an iterative graph algorithm lands under the oracle gate
    // bit-for-bit (a float PageRank would diverge across engines by
    // summation order). Scale shape per iteration: one equi-join of the
    // rank table against the edge list (both keyed on the node id — the
    // classic Pregel contribution exchange) + one combinable aggregation;
    // isolated docs have no edges and stay out of the graph by
    // construction. More iterations = repeating the same two CTEs.
    Q("dd_pagerank",
      (s, dir) => {
        val edges1 = TextOps
          .lshCandidates(docs(s, dir), ShingleN, K, RowsPerBand)
          .materialize() // referenced twice below; signatures run once
        val edges = edges1
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(edges1.select(col("doc_b").as("src"),
            col("doc_a").as("dst")))
          .materialize() // two iterations re-read the edge list
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val base = lit(1000000000L)
        def step(pr: org.apache.spark.sql.DataFrame) = {
          // contributions flow src→dst; damped integer update
          val contrib = edges
            .join(pr, edges("src") === pr("node"))
            .join(deg, "src")
            .select(col("dst").as("node"),
              expr("rank div deg").as("c"))
            .groupBy(col("node")).agg(sum(col("c")).as("in_c"))
          contrib.select(col("node"),
            (lit(150000000L) + expr("(85 * in_c) div 100")).as("rank"))
        }
        val pr0 = deg.select(col("src").as("node"), base.as("rank"))
        val pr2 = step(step(pr0))
        pr2.join(deg.select(col("src").as("node"), col("deg")), "node")
          .select(col("node").as("doc_id"), col("deg").as("degree"),
            col("rank").as("pr"))
      },
      Some(s"""
        WITH bands AS (${DocSql.bandsSql(ShingleN, K, RowsPerBand)}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM cand
          UNION ALL
          SELECT doc_b AS src, doc_a AS dst FROM cand),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        pr0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS rank
                FROM deg),
        pr1 AS (
          SELECT e.dst AS node,
                 150000000 + (85 * sum(p.rank // d.deg)) // 100 AS rank
          FROM edges e
          JOIN pr0 p ON p.node = e.src
          JOIN deg d ON d.src = e.src
          GROUP BY 1),
        pr2 AS (
          SELECT e.dst AS node,
                 150000000 + (85 * sum(p.rank // d.deg)) // 100 AS rank
          FROM edges e
          JOIN pr1 p ON p.node = e.src
          JOIN deg d ON d.src = e.src
          GROUP BY 1)
        SELECT p.node AS doc_id, d.deg AS degree, CAST(p.rank AS BIGINT) AS pr
        FROM pr2 p JOIN deg d ON d.src = p.node""")),

    // ---- triangle counting on the near-dup graph ---------------------------
    // How CLIQUEY is each near-duplicate neighborhood? A doc whose
    // neighbors are all near-dups of each other (high local clustering)
    // sits in one tight duplicate cluster; a doc bridging many mutually-
    // unrelated neighbors is a template/boilerplate hub. Triangles are
    // enumerated once each via the ordered a<b<c join: ordered edges
    // (doc_a < doc_b) joined wedge-wise on the middle vertex, closed by
    // a LEFT SEMI equi-join back to the edge list — never an all-pairs
    // or unordered join (which would count each triangle 6× and explode
    // on hubs; at larger scale the standard refinement is degree-ordered
    // orientation, same plan shape). Output per node: degree, triangle
    // count, local clustering coefficient 2T/(d(d-1)).
    Q("dd_triangles",
      (s, dir) => {
        val e = TextOps.lshCandidates(docs(s, dir), ShingleN, K, RowsPerBand)
          .materialize() // three self-references; compute signatures once
        val deg = e.select(col("doc_a").as("doc_id"))
          .union(e.select(col("doc_b").as("doc_id")))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
        val tri = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
          .join(e.select(col("doc_a").as("b"), col("doc_b").as("c")), "b")
          .join(e.select(col("doc_a").as("a"), col("doc_b").as("c")),
            Seq("a", "c"), "left_semi")
        val triPerNode = tri
          .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
        deg.join(triPerNode, Seq("doc_id"), "left")
          .select(col("doc_id"), col("degree"),
            coalesce(col("n_tri"), lit(0L)).as("n_tri"),
            when(col("degree") >= 2,
              (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
                (col("degree") * (col("degree") - 1)).cast("double"))
              .otherwise(lit(0.0)).as("clustering"))
      },
      Some(s"""
        WITH bands AS (${DocSql.bandsSql(ShingleN, K, RowsPerBand)}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        deg AS (
          SELECT doc_id, count(*) AS degree FROM (
            SELECT doc_a AS doc_id FROM cand
            UNION ALL SELECT doc_b FROM cand)
          GROUP BY 1),
        tri AS (
          SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
          FROM cand e1
          JOIN cand e2 ON e2.doc_a = e1.doc_b
          WHERE EXISTS (SELECT 1 FROM cand e3
                        WHERE e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)),
        tpn AS (
          SELECT doc_id, count(*) AS n_tri FROM (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
          GROUP BY 1)
        SELECT d.doc_id, d.degree,
               CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
               CASE WHEN d.degree >= 2
                 THEN CAST(coalesce(t.n_tri, 0) * 2 AS DOUBLE) /
                      CAST(d.degree * (d.degree - 1) AS DOUBLE)
                 ELSE 0.0 END AS clustering
        FROM deg d LEFT JOIN tpn t ON t.doc_id = d.doc_id""")),

    // ---- k-core of the near-dup graph --------------------------------------
    // The density rung after components/PageRank/triangles: the 2-core
    // keeps exactly the docs with ≥2 near-dup neighbors INSIDE the
    // surviving subgraph — template farms and boilerplate rings (near-
    // cliques) survive the peel, chains of coincidental LSH pairs do
    // not. Bounded 3-round peel (ops.KCore: per round two KEY-ONLY
    // semi-joins + one combinable degree aggregate, per-round
    // materialization — the Components contract), exactly unrolled in
    // the oracle; KCoreSpec pins convergence (round 3 ≡ round 4) on
    // the fixture and planted peel/survive structure at scale.
    Q("dd_kcore",
      (s, dir) => {
        val pairs = TextOps
          .lshCandidates(docs(s, dir), ShingleN, K, RowsPerBand)
        graft.ops.KCore.survivors(pairs, k = 2, rounds = 3)
          .select(col("node").as("doc_id"),
            col("deg").cast("long").as("core_deg"))
      },
      Some(s"""
        WITH bands AS (${DocSql.bandsSql(ShingleN, K, RowsPerBand)}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        ${graft.ops.KCore.survivorsSql(k = 2, rounds = 3)}
        SELECT node AS doc_id, CAST(deg AS BIGINT) AS core_deg
        FROM n3""")),

    // ---- END-TO-END corpus cleaning (the capstone composition) -------------
    // The whole LLM-training-corpus cleaning pipeline as ONE lineage —
    // what a user actually runs nightly: (1) Gopher-style quality gate
    // (txt_quality_filter's exact thresholds, computed per-row with
    // array functions — zero shuffle); (2) exact dedup keeping the
    // smallest doc per normalized-text hash (one window exchange);
    // (3) near-dup cluster keep-one over the LSH component labels
    // (labels are graph-node-sized → broadcast back; canonical = min
    // SURVIVING doc per cluster, so a cluster whose canonical failed
    // quality still keeps a member); (4) decontamination — drop
    // survivors sharing ≥3 distinct 5-grams with the held-out src0 set
    // (computed on survivors only; the eval shingle set broadcasts at
    // production scale). Output = the cleaned corpus manifest.
    Q("dd_clean_corpus",
      (s, dir) => {
        val stop = Seq("the", "a", "and", "of", "is", "to", "in")
        val d = docs(s, dir)
        val toked = d.select(col("doc_id"), col("source"), col("lang"),
          TextOps.tokens(col("text")).as("toks"))
        // r19 (§2.3 + §8): decide on NARROW rows. The toks array — the
        // whole document — used to ride through BOTH keep-one window
        // exchanges; now every decision column (the quality stats AND
        // the exact-dup hash) is computed in one projection and the
        // array is dropped before any exchange. Survivor shingles are
        // re-derived from the corpus via a doc_id semi-join at the end
        // (one more cheap-per-row tokenize — the r18 §10 lesson — vs
        // two corpus-sized text shuffles at scale).
        val q1 = toked.select(col("doc_id"), col("source"), col("lang"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
          size(filter(col("toks"), t => t.isin(stop.map(x => x: Any): _*)))
            .cast("long").as("n_stop"),
          // exact-dup partition key: result-invisible compaction
          // (keep-one reduces to normalized-text equality) — xxhash64
          xxhash64(concat_ws(" ", col("toks"))).as("thash"))
        val s1 = q1.filter(col("source") =!= "src0" &&
          col("n_tokens") >= 20 &&
          col("n_distinct") * 10 >= col("n_tokens") * 3 &&
          col("n_stop") * 100 >= col("n_tokens") * 2)
        val wHash = Window.partitionBy(col("thash"))
        val s2 = s1.withColumn("canon", min(col("doc_id")).over(wHash))
          .filter(col("doc_id") === col("canon"))
          .select(col("doc_id"), col("lang"), col("n_tokens"))
        // overlap (§2.6): the LSH candidate pass and the quality/exact-
        // dup decision are independent job trees — run them concurrently
        // instead of strictly sequentially
        val Seq(pairs, s2m) = graft.ops.Materialize.materializeAll(
          TextOps.lshCandidates(d, ShingleN, K, RowsPerBand), s2)
        val labels = graft.ops.Components.label(pairs, rounds = 4,
          inputMaterialized = true, materializeResult = false)
        val wCl = Window.partitionBy(col("cluster_id"))
        val s3 = s2m.join(broadcast(labels), Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
          .withColumn("ckeep", min(col("doc_id")).over(wCl))
          .filter(col("doc_id") === col("ckeep"))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("cluster_id"))
          .materialize() // two consumers: the shingle semi-join + the
          // final contamination join
        val sh = d.join(s3.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            explode(TextOps.shingles(col("toks"), 5)).as("shingle"))
          .select(col("doc_id"), xxhash64(col("shingle")).as("h64"))
          .distinct()
        val evSh = toked.filter(col("source") === "src0")
          .select(explode(TextOps.shingles(col("toks"), 5)).as("shingle"))
          .select(xxhash64(col("shingle")).as("h64"))
          .distinct()
        val contam = sh.join(evSh, "h64")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
        s3.join(contam, Seq("doc_id"), "left")
          .filter(coalesce(col("n_shared"), lit(0L)) < 3)
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("cluster_id"))
      },
      Some(s"""
        WITH t AS (${DocSql.toksSql}),
        q1 AS (
          SELECT t.doc_id, d.source, t.lang, t.tokens,
                 CAST(len(t.tokens) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(t.tokens)) AS BIGINT) AS n_distinct,
                 CAST(len(list_filter(t.tokens, x ->
                   x IN ('the', 'a', 'and', 'of', 'is', 'to', 'in')))
                   AS BIGINT) AS n_stop
          FROM t JOIN documents d ON d.doc_id = t.doc_id),
        s1 AS (
          SELECT * FROM q1
          WHERE source <> 'src0' AND n_tokens >= 20
            AND n_distinct * 10 >= n_tokens * 3
            AND n_stop * 100 >= n_tokens * 2),
        s2 AS (
          SELECT * FROM (
            SELECT s1.*, min(doc_id) OVER (
              PARTITION BY md5(array_to_string(tokens, ' '))) AS canon
            FROM s1)
          WHERE doc_id = canon),
        bands AS (${DocSql.bandsSql(ShingleN, K, RowsPerBand)}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        ${graft.ops.Components.labelSql(4)},
        s3 AS (
          SELECT doc_id, lang, n_tokens, cluster_id FROM (
            SELECT s2.doc_id, s2.lang, s2.n_tokens,
                   coalesce(l.cluster_id, s2.doc_id) AS cluster_id,
                   min(s2.doc_id) OVER (
                     PARTITION BY coalesce(l.cluster_id, s2.doc_id)) AS ckeep
            FROM s2 LEFT JOIN l4 l ON l.doc_id = s2.doc_id)
          WHERE doc_id = ckeep),
        sh AS (${DocSql.shinglesSql(5)}),
        ev AS (
          SELECT DISTINCT s.shingle
          FROM sh s JOIN documents d ON d.doc_id = s.doc_id
          WHERE d.source = 'src0'),
        contam AS (
          SELECT s.doc_id, count(DISTINCT s.shingle) AS n_shared
          FROM sh s
          JOIN s3 ON s3.doc_id = s.doc_id
          JOIN ev ON ev.shingle = s.shingle
          GROUP BY 1)
        SELECT s3.doc_id, s3.lang, s3.n_tokens, s3.cluster_id
        FROM s3 LEFT JOIN contam c ON c.doc_id = s3.doc_id
        WHERE coalesce(c.n_shared, 0) < 3""")),

    // ---- SimHash fingerprints ----------------------------------------------
    // 32-bit locality-sensitive fingerprint per doc; identical fingerprints
    // (exact groupBy on the bit string) are near-dup groups. The 32 bit
    // sums are one combinable aggregation over exploded distinct tokens.
    Q("dd_simhash",
      (s, dir) => TextOps.simhash(docs(s, dir)),
      Some {
        val sums = (0 until TextOps.simhashBits).map(j =>
          s"sum(CASE WHEN substr(md5(token), ${j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s$j")
          .mkString(", ")
        val bits = (0 until TextOps.simhashBits).map(j =>
          s"CASE WHEN s$j >= 0 THEN '1' ELSE '0' END").mkString(" || ")
        s"""
        WITH tok AS (
          SELECT DISTINCT doc_id, unnest(tokens) AS token
          FROM (${DocSql.toksSql})),
        sums AS (SELECT doc_id, $sums FROM tok GROUP BY doc_id)
        SELECT doc_id, $bits AS simhash FROM sums"""
      }),

    // ---- SimHash near-dup pairs (block-bucketed hamming search) ------------
    // dd_simhash only groups EXACTLY-equal fingerprints; the standard
    // near-dup search (Charikar / Manku-Jain-Sahai) finds pairs within
    // hamming distance d. Scale shape: split the 48-bit fingerprint
    // (TextOps.simhashWide — wide enough that bucket density tracks the
    // true near-dup rate, not hash saturation; the 32-bit fingerprint
    // measured 16 s / 3.5M pairs at sf0.1) into 4 blocks of 12 — any
    // pair within d ≤ 3 must agree EXACTLY on ≥ 1 block (pigeonhole),
    // so candidates come from the same groupBy(block, value) bucket +
    // in-bucket pair generation as the MinHash LSH (never all-pairs),
    // and the exact hamming check is one codegen'd bit_count(xor) per
    // candidate. Recall is exact by construction, not probabilistic.
    Q("dd_simhash_near",
      (s, dir) => {
        // Signatures materialized once (localCheckpoint): the corpus-wide
        // 48-sum pass feeds both sides of the bucket join below without
        // re-running.
        val sims = TextOps.simhashWide(docs(s, dir))
          .select(col("doc_id"), col("simhash"),
            conv(col("simhash"), 2, 10).cast("long").as("si"))
          .materialize()
        val blocked = sims.select(col("doc_id"), col("si"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("blk"),
              substring(col("simhash"), b * 12 + 1, 12).as("bv"))): _*)).as("e"))
          .select(col("doc_id"), col("si"),
            col("e.blk").as("blk"), col("e.bv").as("bv"))
        // In-bucket pairs come from a SELF-JOIN on (blk, bv), not from
        // collecting each bucket into one array row: a hot block value
        // (near-dup cluster sharing a 12-bit prefix) stays spread across
        // ordinary join tasks that AQE can skew-split, instead of becoming
        // a single O(bucket²) array explosion on one core. The hamming
        // filter runs BEFORE the dedup exchange, so only surviving pairs
        // (≤4 copies each, one per agreeing block) reach the distinct.
        val lhs = blocked.select(col("blk"), col("bv"),
          col("doc_id").as("doc_a"), col("si").as("si_a"))
        val rhs = blocked.select(col("blk"), col("bv"),
          col("doc_id").as("doc_b"), col("si").as("si_b"))
        lhs.join(rhs, Seq("blk", "bv"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            bit_count(col("si_a").bitwiseXOR(col("si_b"))).cast("long")
              .as("hamming"))
          .filter(col("hamming") <= 3)
          .distinct()
      },
      Some {
        val w = TextOps.simhashWideBits
        val digits = (0 until w / 4).map(i =>
          s"CAST(('0x' || substr(md5(token), ${i + 1}, 1)) AS INT) AS d$i")
          .mkString(", ")
        val sums = (0 until w).map(j =>
          s"sum(CASE WHEN (d${j / 4} >> ${3 - j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
          .mkString(", ")
        val bits = (0 until w).map(j =>
          s"CASE WHEN s$j >= 0 THEN '1' ELSE '0' END").mkString(" || ")
        val siExpr = (0 until w).map(j =>
          s"(CASE WHEN s$j >= 0 THEN ${1L << (w - 1 - j)} ELSE 0 END)")
          .mkString(" + ")
        s"""
        WITH tok AS (
          SELECT DISTINCT doc_id, unnest(tokens) AS token
          FROM (${DocSql.toksSql})),
        dig AS (SELECT doc_id, $digits FROM tok),
        sums AS (SELECT doc_id, $sums FROM dig GROUP BY doc_id),
        si AS (SELECT doc_id, $bits AS simhash,
                      CAST($siExpr AS BIGINT) AS sv FROM sums),
        blocked AS (
          SELECT doc_id, sv, b.b AS blk, substr(simhash, b.b * 12 + 1, 12) AS bv
          FROM si CROSS JOIN generate_series(0, 3) AS b(b)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.sv AS sv_a, b.sv AS sv_b
          FROM blocked a JOIN blocked b
            ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sv_a, sv_b)) AS BIGINT) AS hamming
        FROM pairs WHERE bit_count(xor(sv_a, sv_b)) <= 3"""
      }),

    // ---- incremental LSH dedup (delta vs index) -----------------------------
    // The production refresh shape: near-dup candidates between a NEW
    // batch (doc_id%10 >= 8, ~20%) and the already-INDEXED corpus — never
    // an old×old re-pair. The index side is the persisted (doc_id, band,
    // bh) banded-signature table (TextOps.bandedRows — recomputed here
    // from the fixture; in production it's read back partitioned by
    // (band, bh)); the delta's banded rows equi-join against it, so
    // refresh work is O(|delta| × bucket size). n_bands counts how many
    // independent bands agree — the candidate-strength signal an
    // incremental pipeline thresholds before the expensive rerank.
    Q("dd_incremental_lsh",
      (s, dir) => {
        val banded = TextOps.bandedRows(
          TextOps.minhashSignatures(docs(s, dir), ShingleN, K),
          K, RowsPerBand)
          .materialize() // both join sides — signatures run once
        val idx = banded.filter(col("doc_id") % 10 < 8)
        val delta = banded.filter(col("doc_id") % 10 >= 8)
          .select(col("band"), col("bh"), col("doc_id").as("new_id"))
        idx.join(delta, Seq("band", "bh"))
          .select(col("new_id"), col("doc_id").as("indexed_id"), col("band"))
          // plain count, not countDistinct: each doc emits one (band, bh)
          // per band, so joined (new, indexed, band) rows are unique
          // already and the two-level distinct rewrite would be waste
          .groupBy(col("new_id"), col("indexed_id"))
          .agg(count(col("band")).as("n_bands"))
      },
      Some(s"""
        WITH bands AS (${DocSql.bandsSql(ShingleN, K, RowsPerBand)}),
        idx AS (SELECT * FROM bands WHERE doc_id % 10 < 8),
        delta AS (SELECT doc_id AS new_id, band, bh FROM bands
                  WHERE doc_id % 10 >= 8)
        SELECT d.new_id, i.doc_id AS indexed_id,
               CAST(count(d.band) AS BIGINT) AS n_bands
        FROM delta d JOIN idx i ON i.band = d.band AND i.bh = d.bh
        GROUP BY 1, 2""")),

    // ---- corpus data card (one-row dedup/contamination report) --------------
    // The summary every released dataset ships with: corpus size, how
    // many docs are redundant exact copies, how many near-dup candidate
    // pairs the LSH index surfaces, and how many eval docs are
    // contaminated by train overlap — one row, composed from the SAME
    // definitions the per-doc queries use (dd_exact's normalization,
    // dd_minhash_lsh's banding, dd_contamination's 5-gram rule), so the
    // card can never disagree with the detail views. The four
    // single-row sides combine by union + max — constant-key joins fold
    // to the forbidden BNLJ (the q24 lesson).
    Q("dd_report",
      (s, dir) => {
        val d = docs(s, dir)
        val nDocs = d.agg(count(lit(1)).as("n_docs"))
        val nDups = d.select(xxhash64(concat_ws(" ",
            TextOps.tokens(col("text")))).as("h"))
          .groupBy(col("h")).agg(count(lit(1)).as("n"))
          .agg((sum(col("n")) - count(lit(1))).as("n_exact_dup_docs"))
        val nPairs = TextOps.lshCandidates(d, ShingleN, K, RowsPerBand)
          .agg(count(lit(1)).as("n_lsh_pairs"))
        val sh = d.select(col("doc_id"), col("source"),
            TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("source"),
            explode(TextOps.shingles(col("toks"), 5)).as("shingle"))
          .select(col("doc_id"), col("source"),
            xxhash64(col("shingle")).as("h64"))
        val eval_ = sh.filter(col("source") === "src0")
          .select(col("h64"), col("doc_id").as("eval_doc")).distinct()
        val train = sh.filter(col("source") =!= "src0")
          .select(col("h64")).distinct()
        val nContam = eval_.join(train, "h64")
          .groupBy(col("eval_doc"))
          .agg(count(lit(1)).as("ns")) // (eval_doc, shingle) distinct already
          .filter(col("ns") >= 3)
          .agg(count(lit(1)).as("n_contaminated_eval"))
        val cols = Seq("n_docs", "n_exact_dup_docs", "n_lsh_pairs",
          "n_contaminated_eval")
        def pad(df: org.apache.spark.sql.DataFrame) = df.select(cols.map(c =>
          (if (df.columns.contains(c)) col(c)
           else lit(null).cast("long")).as(c)): _*)
        Seq(nDocs, nDups, nPairs, nContam).map(pad)
          .reduce(_.unionByName(_))
          .agg(max(col(cols.head)).as(cols.head),
            cols.tail.map(c => max(col(c)).as(c)): _*)
      },
      Some(s"""
        WITH t AS (${DocSql.toksSql}),
        nd AS (SELECT count(*) AS n_docs FROM documents),
        dup AS (
          SELECT CAST(sum(n) - count(*) AS BIGINT) AS n_exact_dup_docs
          FROM (SELECT md5(array_to_string(tokens, ' ')) AS h,
                       count(*) AS n
                FROM t GROUP BY 1)),
        bands AS (${DocSql.bandsSql(ShingleN, K, RowsPerBand)}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        lp AS (SELECT count(*) AS n_lsh_pairs FROM cand),
        sh AS (
          SELECT d.doc_id, d.source, s.shingle
          FROM documents d JOIN (${DocSql.shinglesSql(5)}) s
            ON s.doc_id = d.doc_id),
        e AS (SELECT DISTINCT shingle, doc_id AS eval_doc
              FROM sh WHERE source = 'src0'),
        tr AS (SELECT DISTINCT shingle FROM sh WHERE source <> 'src0'),
        ct AS (
          SELECT CAST(count(*) AS BIGINT) AS n_contaminated_eval
          FROM (SELECT e.eval_doc
                FROM e JOIN tr ON tr.shingle = e.shingle
                GROUP BY 1 HAVING count(*) >= 3))
        SELECT nd.n_docs, dup.n_exact_dup_docs, lp.n_lsh_pairs,
               ct.n_contaminated_eval
        FROM nd, dup, lp, ct""")),

    // ---- snapshot delta (incremental dataset versioning) --------------------
    // Every recurring training-data refresh starts with "what changed
    // since the last snapshot?" — the added/removed/changed/unchanged
    // ledger that decides how much downstream work (re-dedup, re-embed,
    // re-shard) actually reruns. Snapshots are simulated deterministically
    // from the fixture (old = doc_id%10<8, new = doc_id%10>=2, every 7th
    // doc's text revised in the new snapshot) and diffed by CONTENT HASH:
    // each side is projected to (doc_id, content-hash) before the join,
    // so the full-outer join — one co-partitioned key exchange — shuffles
    // 8-byte longs, never document text. At 100 TB the hash projections read
    // only (doc_id, text) per side and the ledger aggregate is 4 rows.
    Q("dd_delta",
      (s, dir) => {
        val d = docs(s, dir)
        // content hash is result-invisible (only hash EQUALITY decides
        // the status, and the oracle's md5 equality agrees) — xxhash64
        // makes the full-outer exchange carry 8-byte longs, not digests
        val old = d.filter(col("doc_id") % 10 < 8)
          .select(col("doc_id"), xxhash64(col("text")).as("h_old"))
        val neu = d.filter(col("doc_id") % 10 >= 2)
          .select(col("doc_id"),
            xxhash64(when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" v2")))
              .otherwise(col("text"))).as("h_new"))
        old.join(neu, Seq("doc_id"), "full_outer")
          .select(when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") =!= col("h_new"), "changed")
            .otherwise("unchanged").as("status"))
          .groupBy(col("status")).agg(count(lit(1)).as("n"))
      },
      Some("""
        WITH old AS (
          SELECT doc_id, md5(text) AS h_old FROM documents
          WHERE doc_id % 10 < 8),
        neu AS (
          SELECT doc_id,
                 md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                          ELSE text END) AS h_new
          FROM documents WHERE doc_id % 10 >= 2),
        j AS (
          SELECT CASE WHEN o.h_old IS NULL THEN 'added'
                      WHEN n.h_new IS NULL THEN 'removed'
                      WHEN o.h_old <> n.h_new THEN 'changed'
                      ELSE 'unchanged' END AS status
          FROM old o FULL OUTER JOIN neu n ON n.doc_id = o.doc_id)
        SELECT status, count(*) AS n FROM j GROUP BY status""")),

    // ---- winnowing collision pairs (the MOSS overlap search) ---------------
    // The pair search over Text.winnowedFps's selected fingerprints —
    // MOSS's second stage: docs sharing any window-min fingerprint,
    // scored by how many they share. Winnowing's guarantee makes this a
    // RECALL-carrying candidate set (any shared run of ≥ k+w−1 tokens
    // MUST collide — spec-proven), while its ≈ 2/(w+1) selectivity
    // keeps the inverted index a fraction of the raw gram stream. The
    // df cap (the posting-cap discipline) drops boilerplate
    // fingerprints shared corpus-wide, bounding the equi-join fan-out
    // at df²/2 per fingerprint regardless of corpus size. The
    // fingerprint frame is materialized — it feeds the df pass and
    // both join sides.
    Q("dd_winnowing_pairs",
      (s, dir) => {
        import Text.{winnowedFps, WinnowDfCap}
        val fps = winnowedFps(docs(s, dir)).materialize()
        val rare = fps.groupBy(col("fp"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2 && col("df") <= WinnowDfCap)
          .select(col("fp"))
        val hit = fps.join(rare, "fp")
        hit.select(col("fp"), col("doc_id").as("doc_a"))
          .join(hit.select(col("fp"), col("doc_id").as("doc_b")), "fp")
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
      },
      Some(s"""
        WITH ${Text.winnowedFpsSql},
        df AS (
          SELECT fp FROM (
            SELECT fp, count(*) AS df FROM fps GROUP BY 1)
          WHERE df BETWEEN 2 AND ${Text.WinnowDfCap}),
        h AS (SELECT f.doc_id, f.fp FROM fps f JOIN df USING (fp))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM h a JOIN h b ON b.fp = a.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2""")),

    // ---- dedup cluster-size distribution (the dedup data card) -------------
    // What a curator reads before applying keep-one-per-cluster: how
    // many duplicate families exist at each size, and how much of the
    // corpus is singletons. Sizes come from dd_clusters' EXACT
    // component lineage (cluster_size ≥ 2 by construction — a labeled
    // doc is in some pair); singletons are the anti-join remainder,
    // appearing as the size-1 row so the histogram's n_docs column
    // sums to the corpus (the dd_report completeness rule,
    // spec-asserted). Aggregate-over-aggregate: nothing here is bigger
    // than the cluster table.
    Q("dd_cluster_sizes",
      (s, dir) => {
        val labeled = graft.ops.Components.label(
          TextOps.lshCandidates(docs(s, dir), ShingleN, K, RowsPerBand),
          rounds = 4, materializeResult = false)
          .materialize() // the caller's barrier IS the reuse point (r19)
        val hist = labeled.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("cluster_size"))
          .groupBy(col("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"))
          .select(col("cluster_size"), col("n_clusters"),
            (col("cluster_size") * col("n_clusters")).as("n_docs"))
        val singles = docs(s, dir).select(col("doc_id"))
          .join(labeled.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n_clusters"))
          .select(lit(1L).as("cluster_size"), col("n_clusters"),
            col("n_clusters").as("n_docs"))
        hist.union(singles).filter(col("n_clusters") > 0)
      },
      Some(s"""
        WITH bands AS (${DocSql.bandsSql(ShingleN, K, RowsPerBand)}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        ${graft.ops.Components.labelSql(4)},
        sizes AS (
          SELECT cluster_id, count(*) AS cluster_size
          FROM l4 GROUP BY 1),
        hist AS (
          SELECT cluster_size, count(*) AS n_clusters,
                 cluster_size * count(*) AS n_docs
          FROM sizes GROUP BY 1),
        singles AS (
          SELECT CAST(1 AS BIGINT) AS cluster_size,
                 count(*) AS n_clusters, count(*) AS n_docs
          FROM documents d
          WHERE NOT EXISTS (SELECT 1 FROM l4 WHERE l4.doc_id = d.doc_id))
        SELECT * FROM (
          SELECT * FROM hist UNION ALL SELECT * FROM singles)
        WHERE n_clusters > 0""")),

    // ---- sentence-level exact dedup (the C4 repeated-lines ledger) ---------
    // The granularity between document dedup (dd_exact) and token-gram
    // spans (dd_substring): C4 removes individual SENTENCES that repeat
    // across the corpus (boilerplate sign-offs, cookie banners, legal
    // footers). Sentences are txt_sentences' exact split, CANONICALIZED
    // through the tokenizer (case/punctuation-proof — "Hello,  world!"
    // ≡ "hello world"), duplicated = same canonical form in ≥ 2
    // distinct docs. The ledger reports per doc how much of it is
    // corpus-repeated, zero-dup docs included (the dd_report
    // completeness rule). The canonical-sentence frame is materialized
    // — it feeds the frequency pass AND the join-back; shuffles carry
    // canonical strings only at sentence grain.
    Q("dd_sentence_dedup",
      (s, dir) => {
        // canonical sentences compact to xxhash64 keys after the
        // emptiness filter (result-invisible: the ledger reduces to
        // canonical-string equality) — frequency pass and join-back
        // carry longs at sentence grain, never sentence text
        val sent = docs(s, dir)
          .select(col("doc_id"),
            explode(split(col("text"), "[.!?]+")).as("sent"))
          .select(col("doc_id"),
            concat_ws(" ", TextOps.tokens(col("sent"))).as("canon"))
          .filter(length(col("canon")) > 0)
          .select(col("doc_id"), xxhash64(col("canon")).as("h64"))
          .materialize()
        val dup = sent.groupBy(col("h64"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select(col("h64"))
        val dupPer = sent.join(dup, Seq("h64"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
        sent.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_sentences"))
          .join(dupPer, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_sentences"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup"),
            call_function("div",
              coalesce(col("n_dup"), lit(0L)) * 1000, col("n_sentences"))
              .as("dup_pm"))
      },
      Some(s"""
        WITH sent AS (
          SELECT doc_id,
                 array_to_string(regexp_extract_all(lower(sent),
                   '${TextOps.TokenRegex}'), ' ') AS canon
          FROM (SELECT doc_id,
                       unnest(regexp_split_to_array(text, '[.!?]+'))
                         AS sent
                FROM documents)
          WHERE array_to_string(regexp_extract_all(lower(sent),
                  '${TextOps.TokenRegex}'), ' ') <> ''),
        dup AS (
          SELECT canon FROM (
            SELECT canon, count(DISTINCT doc_id) AS nd
            FROM sent GROUP BY 1)
          WHERE nd >= 2),
        per AS (
          SELECT s.doc_id, count(*) AS n_dup
          FROM sent s JOIN dup USING (canon) GROUP BY 1),
        tot AS (
          SELECT doc_id, count(*) AS n_sentences FROM sent GROUP BY 1)
        SELECT t.doc_id, t.n_sentences,
               coalesce(p.n_dup, 0) AS n_dup,
               CAST((coalesce(p.n_dup, 0) * 1000) // t.n_sentences
                 AS BIGINT) AS dup_pm
        FROM tot t LEFT JOIN per p USING (doc_id)"""))
  )
}
