package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for LLM-training-data pipelines over the
  * `documents` table: tokenization, word-shingling, MinHash signatures,
  * banded LSH, SimHash fingerprints.
  *
  * Everything is built from codegen'd built-ins (regexp_extract_all /
  * transform / element_at / md5) — no UDFs — and every hash is md5-derived
  * so the same computation is one line of portable SQL for the DuckDB
  * oracle. Determinism is load-bearing twice: the oracle hash-compare, and
  * 100 TB operation (a recomputed lost partition must re-derive identical
  * signatures; a seeded-random hash would not survive recomputation).
  */
object TextOps {

  /** THE tokenizer definition — every Spark-side tokenization and every
    * oracle mirror (DocSql.toksSql, the sentence-split oracle) derives
    * from this one literal, so the engine and its oracles cannot drift.
    */
  val TokenRegex = "[a-z0-9]+"

  /** Lowercased alphanumeric tokens. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(TokenRegex), lit(0))

  /** Word n-gram shingles from a token array (space-joined). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, i + lit(k))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Overlapping n-token gram hashes WITH their 1-based token start
    * position — the exact-substring dedup primitive (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", uses
    * 50-token grams; the distributed equivalent of their suffix array is
    * hash → group → equi-join). Returns array<struct<start,h>>; md5 over
    * the space-joined gram keeps the hash portable to the DuckDB mirror.
    */
  def posGramHashes(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)), i =>
        struct(i.cast("long").as("start"),
          md5(concat_ws(" ",
            (0 until n).map(k => element_at(toks, i + lit(k))): _*)
            .cast("binary")).as("h"))))
      .otherwise(array().cast("array<struct<start:bigint,h:string>>"))

  /** 128-bit positional gram keys — two independently-seeded xxhash64
    * columns — for the DESTRUCTIVE substring-dedup paths, where a
    * colliding gram key marks a never-duplicated gram as df ≥ 2 and
    * dd_substring_clean silently cuts real text. The collision budget
    * is why 64 bits is not enough there: at the 100 TB design point
    * (~2.5e13 grams) one 64-bit key expects ~10⁷ colliding pairs
    * (n²/2⁶⁵), while the 128-bit pair expects ~3e-12 — "identical
    * results for any collision-free hash" holds w.h.p. again. The
    * second column prepends a literal salt, which re-seeds the whole
    * chain; keys stay 16 bytes on the wire vs md5's 32-char strings,
    * and the DuckDB mirrors keep md5 and agree because both reduce to
    * gram equality.
    */
  def posGramHashes128(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)), i =>
        struct(i.cast("long").as("start"),
          xxhash64((0 until n).map(k => element_at(toks, i + lit(k))): _*)
            .as("h1"),
          xxhash64(lit("g2") +: (0 until n)
            .map(k => element_at(toks, i + lit(k))): _*).as("h2"))))
      .otherwise(array()
        .cast("array<struct<start:bigint,h1:bigint,h2:bigint>>"))

  /** Non-overlapping n-token spans (stride = n) from a token array —
    * the chunking used for span-level dedup, where overlapping shingles
    * would multiply the hash volume n× for no extra dedup power.
    */
  def strideSpans(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1), lit(n)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, i + lit(k))): _*)))
      .otherwise(array().cast("array<string>"))

  /** One MinHash component: min over the group's shingles of a 20-bit
    * NUMERIC hash slice. Numeric, because a long min has a mutable
    * aggregation buffer and plans as HashAggregate (a string min falls back
    * to SortAggregate — measured and rejected). Sliced, because one md5
    * yields six independent 5-hex-digit components, so K=12 costs 2 md5
    * evaluations per shingle instead of 12 (cryptographic hash digits are
    * independent; 2^20 values ≫ shingles-per-doc, so min-ties are
    * negligible). The digest for salt `k/6` must be BOUND to a column
    * before the aggregation (see [[minhashSignatures]]) — passing the
    * bound column here, not the shingle, is what guarantees the
    * 2-md5s-per-shingle cost instead of leaving it to codegen
    * subexpression elimination. DuckDB mirrors via
    * CAST('0x'||substr(md5(salt|s),…,5)).
    */
  def minhash(saltedDigest: Column, k: Int): Column = {
    val slice = k % 6
    min(conv(substring(saltedDigest, slice * 5 + 1, 5), 16, 10)
      .cast("long")).as(s"mh$k")
  }

  /** LSH band hash over `rowsPerBand` consecutive MinHash components
    * (the signature table's component columns `mh0..`).
    *
    * RESULT-INVISIBLE hash (the q27 discipline): bh is a pure
    * compaction of the band's component tuple into one bucket key —
    * two docs share a bucket iff their component values are equal, for
    * ANY injective-w.h.p. hash — so candidates depend on the MinHash
    * VALUES (md5-derived, oracle-mirrored), never on THIS function.
    * Hence codegen xxhash64 over the raw longs (no string concat, no
    * crypto digest, an 8-byte shuffle key instead of a 32-char string);
    * the DuckDB oracle keeps its md5 bh — both group ≡ the tuple.
    */
  def bandHash(band: Int, rowsPerBand: Int): Column =
    xxhash64((0 until rowsPerBand)
      .map(j => col(s"mh${band * rowsPerBand + j}")): _*)

  /** documents(doc_id, text) → exploded (doc_id, shingle) pairs.
    *
    * Tokenization is bound to a column in its own projection BEFORE the
    * shingle transform: inlining `tokens(text)` into the lambda would
    * re-run regexp_extract_all for every element_at reference — O(tokens²)
    * regex work per document (measured 5-10× slowdown at sf0.1; fatal at
    * 100 TB). A bound array attribute makes each element_at O(1).
    */
  def explodedShingles(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shingles(col("toks"), n)).as("shingle"))

  /** (doc_id, mh0..mh{k-1}) MinHash signatures — one map-side-combinable
    * aggregation; the shuffle carries K longs per doc. The ⌈k/6⌉ salted
    * digests are computed ONCE per shingle in a projection and bound to
    * columns; the aggregate's 6 slice-minima per digest then reference
    * the bound column (same discipline as the token binding in
    * [[explodedShingles]] — don't re-evaluate a crypto hash per
    * consumer).
    */
  def minhashSignatures(docs: DataFrame, n: Int, k: Int): DataFrame =
    minhashFromShingles(explodedShingles(docs, n), k)

  /** [[minhashSignatures]] from an existing exploded (doc_id, shingle)
    * table — callers that already materialized the shingle table (e.g.
    * for an inverted-index pass) reuse it instead of paying a second
    * full-corpus tokenize+shingle pass; MinHash minima are identical
    * over duplicated or distinct shingle rows.
    */
  def minhashFromShingles(shingled: DataFrame, k: Int): DataFrame = {
    val salts = (k + 5) / 6
    val bound = shingled.select(
      col("doc_id") +: (0 until salts).map(s =>
        md5(concat(lit(s"$s|"), col("shingle")).cast("binary")).as(s"h$s")): _*)
    bound.groupBy(col("doc_id"))
      .agg(minhash(col("h0"), 0),
        (1 until k).map(i => minhash(col(s"h${i / 6}"), i)): _*)
  }

  /** Banded-LSH candidate pairs (doc_a < doc_b) via the classic
    * `groupBy(band, signature)` bucketing: one signature computation, one
    * exchange on (band, band_hash), pairs generated WITHIN each bucket from
    * the collected doc list — never an all-pairs comparison, and no
    * self-join (a join would recompute the whole signature lineage for the
    * second side). Only docs agreeing on a full band ever meet in the
    * shuffle; bucket sizes are small by construction (a giant bucket means
    * the corpus genuinely contains that many near-identical docs).
    */
  def lshCandidates(docs: DataFrame, n: Int, k: Int,
      rowsPerBand: Int): DataFrame =
    lshCandidatesFromSigs(minhashSignatures(docs, n, k), k, rowsPerBand)

  /** [[lshCandidates]] from a precomputed signature table — callers that
    * need the signatures AGAIN downstream (estimation, rerank) pass a
    * materialized `sigs` here so the corpus-wide signature pass runs
    * once, not once per consumer.
    */
  def lshCandidatesFromSigs(sigs: DataFrame, k: Int,
      rowsPerBand: Int): DataFrame =
    orderedPairs(
      bandedRows(sigs, k, rowsPerBand)
        .groupBy(col("band"), col("bh"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) >= 2),
      "ids", Nil)

  /** Distinct ordered pairs (doc_a < doc_b) from a SORTED
    * bucket-membership array column, carrying `keys` through — the one
    * home of the i<j enumeration rule. [[lshCandidatesFromSigs]], the
    * dd_lsh_sweep config multiplex, and the dd_lsh_bucket_cap
    * truncation card all bucket differently but pair identically;
    * keeping the slice arithmetic here means an off-by-one fix reaches
    * every consumer.
    */
  def orderedPairs(buckets: DataFrame, idsCol: String,
      keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    buckets
      .select(keyCols :+ explode(flatten(transform(col(idsCol), (a, i) =>
        transform(slice(col(idsCol), i + lit(2), size(col(idsCol))), b =>
          struct(a.as("doc_a"), b.as("doc_b")))))).as("p"): _*)
      .select(keyCols :+ col("p.doc_a").as("doc_a") :+
        col("p.doc_b").as("doc_b"): _*)
      .distinct()
  }

  /** (doc_id, band, bh) banded signature rows — the LSH INDEX layout.
    * This is exactly the table a production index persists (partitioned/
    * bucketed by (band, bh)); full-corpus candidate generation buckets
    * it ([[lshCandidatesFromSigs]]) and incremental dedup equi-joins a
    * delta's banded rows against it (dd_incremental_lsh) — O(delta)
    * refresh work, never a corpus re-pair.
    */
  def bandedRows(sigs: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    val bands = k / rowsPerBand
    sigs.select(col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), bandHash(b, rowsPerBand).as("bh"))): _*))
        .as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"))
  }

  /** 32-bit SimHash over a doc's distinct tokens, as a '0'/'1' bit string.
    * Bit j is the sign of Σ_tokens (hex digit j of md5(token) ≥ '8' ? +1 :
    * −1) — i.e. each token votes with the top bit of each md5 nibble.
    * Hex-digit bits keep the whole computation portable SQL (no int
    * conversions), which is what makes it oracle-checkable.
    */
  def simhashBits: Int = 32

  def simhashAggs: Seq[Column] =
    (0 until simhashBits).map { j =>
      sum(when(substring(md5(col("token").cast("binary")), j + 1, 1) >= "8", 1)
        .otherwise(-1)).as(s"s$j")
    }

  def simhashFromSums: Column =
    concat((0 until simhashBits).map(j =>
      when(col(s"s$j") >= 0, "1").otherwise("0")): _*)

  /** PII scrubbing: replace email- and URL-shaped spans with placeholder
    * tokens. Patterns stick to syntax valid in both Java regex and RE2 so
    * the DuckDB oracle applies the identical substitution.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val UrlRe = "https?://[a-z0-9./_-]+"

  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(text, UrlRe, "<URL>"),
      EmailRe, "<EMAIL>")

  /** Count of PII spans that [[scrubPii]] would replace. */
  def piiCount(text: Column): Column =
    (size(regexp_extract_all(text, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(text, lit(UrlRe), lit(0)))).cast("long")

  /** (doc_id, simhash) for each document. */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy(col("doc_id"))
      .agg(simhashAggs.head, simhashAggs.tail: _*)
      .select(col("doc_id"), simhashFromSums.as("simhash"))

  /** WIDE (48-bit) SimHash for hamming near-dup search. The 32-bit
    * fingerprint saturates on a shared-vocabulary corpus (most doc pairs
    * land within small hamming distance, and 8-bit block buckets hold
    * hundreds of docs — measured 16 s at sf0.1); 48 bits restore the
    * property that bucket density tracks the TRUE near-dup rate. Bits
    * come from ALL FOUR bits of each of md5's first 12 hex digits
    * (bit j = bit (3 - j%4) of digit j/4, MSB first) — one md5 per
    * token, and every bit is a `(digit >> b) & 1` away in portable SQL.
    * Digit values are bound to columns BEFORE the 48 sums (the
    * TextOps-standard don't-re-evaluate-hashes-per-consumer discipline).
    */
  def simhashWideBits: Int = 48

  def simhashWide(docs: DataFrame): DataFrame = {
    val digits = simhashWideBits / 4
    val bound = docs
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("token"))
      .select(col("doc_id") +: (0 until digits).map(i =>
        conv(substring(md5(col("token").cast("binary")), i + 1, 1), 16, 10)
          .cast("int").as(s"d$i")): _*)
    def bitSum(j: Int): Column =
      sum(when(shiftright(col(s"d${j / 4}"), 3 - j % 4)
        .bitwiseAND(lit(1)) === 1, 1).otherwise(-1)).as(s"s$j")
    bound.groupBy(col("doc_id"))
      .agg(bitSum(0), (1 until simhashWideBits).map(bitSum): _*)
      .select(col("doc_id"),
        concat((0 until simhashWideBits).map(j =>
          when(col(s"s$j") >= 0, "1").otherwise("0")): _*).as("simhash"))
  }
}
