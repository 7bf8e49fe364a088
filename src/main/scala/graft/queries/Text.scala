package graft.queries

import graft.{Q, Tables}
import graft.ops.Materialize._
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents.text`: per-doc statistics +
  * quality signals, n-gram frequencies, heuristic language ID, and bottom-k
  * document fingerprints. All built-ins, no UDFs; ratios are single IEEE
  * divisions over exact integer aggregates so DuckDB matches bit-for-bit.
  */
object Text {

  private val stopEn = Seq("the", "a", "and", "of", "is", "to", "in")

  /** BPE oracle cap. DuckDB's generate_series cannot take a lateral
    * column bound (`length(token)-1` binds as an error), so every BPE
    * oracle enumerates pair positions 1..BpePairPositions with a
    * constant — exact iff no token exceeds BpePairPositions+1 chars.
    * txt_bpe_encode guards this at run time; BpeFixtureBoundSpec asserts
    * it against the real fixtures.
    */
  private[graft] val BpePairPositions = 16
  private[graft] val BpeMaxTokenLen = BpePairPositions + 1
  // per-language stopword profiles for the lang-id heuristic
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "les", "des", "et", "un"))

  /** txt_classifier_lr hyperparameters — shared by the Spark lineage, the
    * oracle builder, and the specs. Declared (with the lr helpers below)
    * BEFORE `qs`: the oracle string interpolates them eagerly at object
    * init, so declaration order is load-bearing.
    */
  private[graft] val LrIters = 3
  private[graft] val LrRate = 0.5
  // txt_zipf: rank depth of the log-log least-squares fit
  private[graft] val ZipfTopN = 100
  // txt_keyphrase: the phrase-boundary stopword set (all language
  // profiles merged — the corpus is multilingual) and the report depth
  private[graft] lazy val KeyphraseStop: Seq[String] =
    profiles.flatMap(_._2)
  private[graft] val KeyphraseTopN = 20
  // txt_token_budget: the fixed training-token budget being allocated
  private[graft] val TokenBudget = 100000L

  /** txt_bpe_batch geometry: rounds × merges-per-round. One corpus pass
    * per ROUND (not per merge) — the parallel-BPE trick: each round
    * selects up to [[BpeBatchM]] pairs with pairwise-DISTINCT LEADING
    * CHARACTERS (an SQL-expressible disjointness criterion) and applies
    * them as one chained projection, so a 30k-merge tokenizer costs
    * 30k/M passes instead of 30k. Selection and application order are
    * both total-ordered (count desc, pair asc), so the oracle mirrors
    * exactly.
    */
  private[graft] val BpeBatchRounds = 3
  private[graft] val BpeBatchM = 4
  private[graft] val BpeBatchMarks: Seq[Seq[String]] = Seq(
    Seq("#", "%", "@", "&"), Seq("*", "+", "=", "!"),
    Seq("~", "^", "?", "<")) // all outside [a-z0-9]: never collide

  /** One batched-BPE round's winners over a (doc_id, token) frame:
    * rank pairs by (count desc, pair asc), keep the best pair per
    * leading character (the disjointness screen), take the top `m`.
    * Returned in rank order — the application order. A driver-side
    * ≤m-row model collect per ROUND (merges/m per tokenizer), not per
    * merge: the round-14 scale fix over txt_bpe_encode's one collect
    * per merge.
    */
  private[graft] def bpeBatchWinners(t: DataFrame, m: Int): Seq[String] = {
    import org.apache.spark.sql.expressions.Window
    val pairs = t.filter(length(col("token")) >= 2)
      .select(explode(sequence(lit(1), length(col("token")) - 1))
        .as("i"), col("token"))
      .select(col("token").substr(col("i"), lit(2)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
    val perLead = Window.partitionBy(col("pair").substr(1, 1))
      .orderBy(col("n").desc, col("pair").asc)
    pairs.withColumn("lr", row_number().over(perLead))
      .filter(col("lr") === 1)
      .orderBy(col("n").desc, col("pair").asc)
      .limit(m)
      .select(col("pair")).collect().map(_.getString(0)).toSeq
  }

  /** The classifier's feature projection: weak label y = [lang = 'en']
    * plus three char-statistic features (scaled length, whitespace
    * ratio, vowel ratio), every value a single IEEE division over exact
    * integers so both engines agree bitwise. One narrow documents pass.
    */
  private[graft] def lrFeatures(d: DataFrame): DataFrame = {
    val nc = greatest(col("n_chars"), lit(1L)).cast("double")
    d.select(
      col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
      (col("n_chars").cast("double") / lit(1000.0)).as("f1"),
      ((length(col("text")) -
        length(call_function("replace", col("text"), lit(" "), lit(""))))
        .cast("double") / nc).as("f2"),
      (length(regexp_replace(lower(col("text")), "[^aeiou]", ""))
        .cast("double") / nc).as("f3"))
  }

  /** DuckDB twin of [[lrFeatures]]. */
  private val lrFeaturesSql = """
    SELECT doc_id,
           CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           CAST(n_chars AS DOUBLE) / 1000.0 AS f1,
           CAST(length(text) - length(replace(text, ' ', ''))
             AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS f2,
           CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g'))
             AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS f3
    FROM documents"""

  /** Rational-sigmoid score against model literals: z associates as
    * ((b + c1·f1) + c2·f2) + c3·f3 — the SQL builder mirrors this
    * association exactly, which is what makes the two engines bitwise
    * comparable.
    */
  private[graft] def lrScore(w: Array[Double]): Column = {
    val z = lit(w(0)) + lit(w(1)) * col("f1") +
      lit(w(2)) * col("f2") + lit(w(3)) * col("f3")
    lit(0.5) + lit(0.5) * z / (lit(1.0) + abs(z))
  }

  /** LrIters full-batch GD steps over a checkpointed [[lrFeatures]]
    * frame — the txt_classifier_lr training loop, shared with
    * txt_classifier_eval so the evaluated model IS the trained model.
    * Each step is one map-side-combinable aggregate returning exactly
    * one row (an agg with no grouping), so the per-step collect is
    * model-sized by construction.
    */
  private[graft] def lrTrain(feats: DataFrame): Array[Double] = {
    var w = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to LrIters) {
      val p = lrScore(w)
      val g = feats.agg(
        count(lit(1)).as("n"),
        Q.fxsum(p - col("y"), 6).as("g0"),
        Q.fxsum((p - col("y")) * col("f1"), 6).as("g1"),
        Q.fxsum((p - col("y")) * col("f2"), 6).as("g2"),
        Q.fxsum((p - col("y")) * col("f3"), 6).as("g3")).collect()(0)
      val n = g.getLong(0).toDouble
      w = Array.tabulate(4)(i => w(i) - LrRate * g.getDouble(1 + i) / n)
    }
    w
  }

  /** The rational sigmoid over a column named z (oracle-side). */
  private val lrPSql = "0.5 + 0.5 * z / (1.0 + abs(z))"

  /** Shared oracle prelude: features, the unrolled GD re-training, and
    * the final scored frame `zf` (doc_id, y, z) against the converged
    * weights — both classifier queries' oracles start here, so the
    * oracle cannot evaluate a different model than it trained.
    */
  private val lrOracleCtes: String = {
    def zSql(w: String) =
      s"((($w.b + $w.c1 * f1) + $w.c2 * f2) + $w.c3 * f3)"
    val steps = (1 to LrIters).map { k =>
      s"""
        z$k AS (
          SELECT doc_id, y, f1, f2, f3, ${zSql("w")} AS z
          FROM feat CROSS JOIN w${k - 1} w),
        p$k AS (SELECT *, $lrPSql AS p FROM z$k),
        g$k AS (
          SELECT count(*) AS n,
                 ${Q.fxsumSql("(p - y)", 6)} AS g0,
                 ${Q.fxsumSql("(p - y) * f1", 6)} AS g1,
                 ${Q.fxsumSql("(p - y) * f2", 6)} AS g2,
                 ${Q.fxsumSql("(p - y) * f3", 6)} AS g3
          FROM p$k),
        w$k AS (
          SELECT w.b - $LrRate * g.g0 / g.n AS b,
                 w.c1 - $LrRate * g.g1 / g.n AS c1,
                 w.c2 - $LrRate * g.g2 / g.n AS c2,
                 w.c3 - $LrRate * g.g3 / g.n AS c3
          FROM w${k - 1} w CROSS JOIN g$k g)"""
    }.mkString(",")
    s"""
        WITH feat AS ($lrFeaturesSql),
        w0 AS (SELECT 0.0 AS b, 0.0 AS c1, 0.0 AS c2, 0.0 AS c3),$steps,
        zf AS (
          SELECT doc_id, y, ${zSql("w")} AS z
          FROM feat CROSS JOIN w$LrIters w)"""
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.sharded(s, dir, "documents")

  /** txt_calibration's second half: the calibration card over its
    * (yy ∈ {0,1}, s_milli) scores. Every per-bucket column is a
    * commutative, combinable sum over the ≤100-bucket compile-time key,
    * so the card folds map-side in one HashAggregate and its exchange
    * carries at most 100 rows per map task at any input size; the
    * integer `div` columns keep it bit-equal to the DuckDB oracle's
    * mirror.
    */
  private def calibrationOf(scored: DataFrame): DataFrame =
    scored
      .select(col("yy"), col("s_milli"),
        least(expr("s_milli div 10"), lit(99L)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("yy")).as("n_pos"),
        sum(col("s_milli")).as("sum_s"))
      .select(col("bucket"), col("n"), col("n_pos"),
        expr("sum_s div n").as("mean_score_milli"),
        expr("(n_pos * 1000) div n").as("pos_rate_milli"),
        abs(expr("sum_s div n") - expr("(n_pos * 1000) div n"))
          .as("gap_milli"))

  /** txt_char_entropy's lineage over any (doc_id, text) frame —
    * session-aware dispatch (the MultimodalQ.dhash discipline): the
    * native one-byte-walk kernel (functions.CharEntropyPacked — counts
    * code points in one pass, no per-doc sort, no interpreted lambda,
    * whole-stage codegen) when the running session registered
    * GraftExtensions, the portable HOF fold otherwise.
    * CharEntropyExprSpec pins value-equality of the two forms; either
    * way the plan is entirely intra-row — zero exchanges.
    */
  private[graft] def charEntropy(s: SparkSession, d: DataFrame): DataFrame =
    if (s.catalog.functionExists("char_entropy_packed")) {
      import graft.functions.CharEntropyPacked.{EntMask, Shift}
      d.select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_text"),
          call_function("char_entropy_packed", col("text")).as("pk"))
        .filter(col("n_chars_text") > 0)
        .select(col("doc_id"), col("n_chars_text"),
          shiftright(col("pk"), Shift).as("n_distinct"),
          col("pk").bitwiseAND(lit(EntMask)).as("ent_micro"))
    } else charEntropyHof(d)

  /** Portable built-in-only form of [[charEntropy]] (works on any
    * session, and the parity reference the native kernel is pinned to):
    * sort the row's own char array so equal chars are adjacent, then one
    * aggregate() fold walks the runs — (prev, run, Σ c·q(c), distinct) —
    * and the finisher flushes the last run. Entirely intra-row, zero
    * exchanges, but the per-doc sort is O(n log n) and the fold lambda
    * evaluates interpreted per element — which is why the native
    * expression exists (CharEntropySpec asserts the plan and
    * cross-checks a Scala histogram; planted frames cover the empty /
    * single-char / uniform edges).
    */
  private[graft] def charEntropyHof(d: DataFrame): DataFrame = {
    def qln(x: Column): Column =
      round(log(x.cast("double")) * 1000000).cast("long")
    def flush(acc: Column): Column =
      acc("s") + when(acc("run") > 0L, acc("run") * qln(acc("run")))
        .otherwise(lit(0L))
    d.select(col("doc_id"),
        sort_array(filter(split(col("text"), ""), c => c =!= ""))
          .as("cs"))
      .select(col("doc_id"),
        size(col("cs")).cast("long").as("n_chars_text"),
        aggregate(col("cs"),
          struct(lit("").as("prev"), lit(0L).as("run"),
            lit(0L).as("s"), lit(0L).as("d")),
          (acc, c) => struct(
            c.as("prev"),
            when(c === acc("prev"), acc("run") + 1L).otherwise(lit(1L))
              .as("run"),
            when(c === acc("prev"), acc("s")).otherwise(flush(acc))
              .as("s"),
            when(c === acc("prev"), acc("d")).otherwise(acc("d") + 1L)
              .as("d")),
          acc => struct(flush(acc).as("s"), acc("d").as("d"))).as("f"))
      .filter(col("n_chars_text") > 0)
      .select(col("doc_id"), col("n_chars_text"),
        col("f.d").as("n_distinct"),
        (qln(col("n_chars_text")) - expr("f.s div n_chars_text"))
          .as("ent_micro"))
  }

  private def tokenRows(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"),
      explode(TextOps.tokens(col("text"))).as("token"))

  private def inList(c: Column, vs: Seq[String]): Column =
    c.isin(vs.map(_.asInstanceOf[Any]): _*)

  private def sqlList(vs: Seq[String]): String =
    vs.map(v => s"'$v'").mkString("(", ", ", ")")

  /** Per-doc token statistics — ONE definition feeding txt_stats,
    * txt_quality_filter, and txt_filter_funnel, so the stat definitions
    * (and the stopword list behind them) cannot drift between the
    * reporting and filtering queries. One exploded pass, one combinable
    * aggregation; `extraKeys` are doc-constant columns riding the
    * grouping.
    */
  private def docTokenStats(s: SparkSession, dir: String,
      extraKeys: Seq[String]): DataFrame =
    tokenRows(s, dir)
      .groupBy(col("doc_id") +: extraKeys.map(col): _*)
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("n_distinct"),
        sum(length(col("token"))).as("sum_len"),
        // BPE-ish token budget: subword units of ≤4 chars per word —
        // integer arithmetic, so the estimate is engine-portable
        sum(expr("(length(token) + 3) div 4")).as("n_subwords"),
        sum(when(inList(col("token"), stopEn), 1L).otherwise(0L))
          .as("n_stop"))

  /** DuckDB mirror of [[tokenRows]] (exploded tokens + doc-constant
    * cols) — single-pass unnest; the tokenizer stays single-sourced via
    * TextOps.TokenRegex, no self-join needed.
    */
  private val tokenRowsSql: String =
    "SELECT doc_id, lang, n_chars, " +
      s"unnest(regexp_extract_all(lower(text), '${TextOps.TokenRegex}')) " +
      "AS token FROM documents"

  /** DuckDB mirror of [[docTokenStats]]. */
  private def docTokenStatsSql(extraKeys: Seq[String]): String = {
    val keys = ("doc_id" +: extraKeys).mkString(", ")
    s"""SELECT $keys, count(*) AS n_tokens,
               count(DISTINCT token) AS n_distinct,
               sum(length(token)) AS sum_len,
               CAST(sum((length(token) + 3) // 4) AS BIGINT) AS n_subwords,
               sum(CASE WHEN token IN ${sqlList(stopEn)} THEN 1 ELSE 0 END)
                 AS n_stop
        FROM ($tokenRowsSql) GROUP BY $keys"""
  }

  // ---- winnowing fingerprints (Schleimer et al. 2003 — the MOSS scheme) ---
  /** Gram width k and window width w: any shared token run of length ≥
    * k + w − 1 is GUARANTEED to share at least one selected fingerprint
    * (the winnowing pigeonhole — every w consecutive grams contribute
    * their min, and a shared run contains a full window). df cap bounds
    * the pair fan-out the way the inverted-index posting cap does.
    * Shared by txt_winnowing and dd_winnowing_pairs (Dedup.scala) so
    * the selection scheme cannot drift between the per-doc report and
    * the pair search.
    */
  private[queries] val WinnowK = 4
  private[queries] val WinnowW = 4
  private[queries] val WinnowDfCap = 8

  /** Distinct window-min fingerprints per doc: positional k-gram hashes
    * as 60-bit NUMERIC md5 prefixes (a string min would plan
    * SortAggregate — the PLAN_AUDIT rule), then ONE per-doc window pass
    * takes each w-window's min; only positions with a full window
    * select. The whole scheme is one doc_id exchange — winnowing's
    * selectivity (≈ 2/(w+1) of grams) is what makes the downstream
    * pair search cheaper than raw gram joining at corpus scale.
    */
  private[queries] def winnowedFps(d: DataFrame): DataFrame = {
    val grams = d
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        explode(TextOps.posGramHashes(col("toks"), WinnowK)).as("g"))
      .select(col("doc_id"), col("n_tokens"), col("g.start").as("start"),
        conv(substring(col("g.h"), 1, 15), 16, 10).cast("long").as("hv"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("start"))
      .rowsBetween(0, WinnowW - 1)
    grams
      .withColumn("fp", min(col("hv")).over(w))
      .filter(col("start") <=
        col("n_tokens") - ((WinnowK - 1) + (WinnowW - 1)))
      .select(col("doc_id"), col("fp")).distinct()
  }

  /** DuckDB mirror of [[winnowedFps]] as CTEs ending in `fps`. */
  private[queries] def winnowedFpsSql: String = {
    val parts = (0 until WinnowK).map(k => s"tokens[g.i + $k]")
      .mkString(" || ' ' || ")
    s"""g AS (
          SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
                 CAST(g.i AS BIGINT) AS start,
                 CAST(('0x' || substr(md5($parts), 1, 15)) AS BIGINT) AS hv
          FROM (${DocSql.toksSql}) t
          CROSS JOIN generate_series(1, 512) AS g(i)
          WHERE g.i <= len(tokens) - ${WinnowK - 1}),
        wm AS (
          SELECT doc_id, n_tokens, start,
                 min(hv) OVER (PARTITION BY doc_id ORDER BY start
                   ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING)
                   AS fp
          FROM g),
        fps AS (
          SELECT DISTINCT doc_id, fp FROM wm
          WHERE start <= n_tokens - ${WinnowK + WinnowW - 2})"""
  }

  val qs: Seq[Q] = Seq(

    // ---- per-document statistics + quality signals --------------------------
    // token count, distinct ratio, mean token length, stopword ratio — the
    // standard quality-filter features. One exploded pass, one combinable
    // aggregation; ratios derived from exact integer sums.
    Q("txt_stats",
      (s, dir) => docTokenStats(s, dir, Seq("n_chars"))
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          col("n_distinct"), col("n_subwords"),
          (col("sum_len").cast("double") / col("n_tokens").cast("double"))
            .as("avg_token_len"),
          (col("n_distinct").cast("double") / col("n_tokens").cast("double"))
            .as("distinct_ratio"),
          (col("n_stop").cast("double") / col("n_tokens").cast("double"))
            .as("stopword_ratio")),
      Some(s"""
        WITH agg AS (${docTokenStatsSql(Seq("n_chars"))})
        SELECT doc_id, n_chars, n_tokens, n_distinct, n_subwords,
               CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
               CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_ratio,
               CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio
        FROM agg""")),

    // ---- per-language token-length distribution: threshold sizing ----------
    // txt_quality_filter hardcodes its length cutoffs; this is the table
    // you read to CHOOSE them (the txt twin of ev_gap_stats' timeout
    // sizing): per lang, doc-length quartiles over exact token counts.
    // Quartiles only (0.25/0.5/0.75 — binary-exact fractions, the q17
    // parity discipline). One narrow size() pass (no token explode), one
    // per-lang aggregate; the exact percentile concentrates each lang's
    // length list — model-sized per group, and q17b's sketch twin is the
    // scale swap if ever needed.
    Q("txt_len_stats",
      (s, dir) => docs(s, dir)
        .select(col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("percentile(n_tokens, 0.25)").as("p25_tokens"),
          expr("percentile(n_tokens, 0.5)").as("p50_tokens"),
          expr("percentile(n_tokens, 0.75)").as("p75_tokens"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens")),
      Some(s"""
        WITH n AS (
          SELECT lang,
                 CAST(len(regexp_extract_all(lower(text),
                   '${TextOps.TokenRegex}')) AS BIGINT) AS n_tokens
          FROM documents)
        SELECT lang, count(*) AS n_docs,
               quantile_cont(n_tokens, 0.25) AS p25_tokens,
               quantile_cont(n_tokens, 0.5) AS p50_tokens,
               quantile_cont(n_tokens, 0.75) AS p75_tokens,
               min(n_tokens) AS min_tokens,
               max(n_tokens) AS max_tokens
        FROM n GROUP BY lang""")),

    // ---- corpus-level n-gram frequencies (top 20 bigrams) -------------------
    // Map-side-combinable count + TakeOrderedAndProject — no global sort.
    Q("txt_ngram_top",
      (s, dir) => TextOps.explodedShingles(docs(s, dir), 2)
        .groupBy(col("shingle"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("shingle").asc)
        .limit(20),
      Some(s"""
        SELECT shingle, count(*) AS n
        FROM (${DocSql.shinglesSql(2)})
        GROUP BY shingle
        ORDER BY n DESC, shingle ASC LIMIT 20""")),

    // ---- boilerplate detection (C4-style) -----------------------------------
    // Shingles that recur across MANY DISTINCT documents are template/
    // boilerplate text (nav bars, licenses) — the classic corpus-cleaning
    // signal. Two-phase: distinct (doc, shingle) then document-frequency
    // count; both map-side combinable, shuffle carries shingle keys only.
    Q("txt_boilerplate",
      (s, dir) => TextOps.explodedShingles(docs(s, dir), 3)
        .distinct()
        .groupBy(col("shingle"))
        .agg(countDistinct(col("doc_id")).as("doc_freq"))
        .filter(col("doc_freq") >= 5)
        .orderBy(col("doc_freq").desc, col("shingle").asc)
        .limit(50),
      Some(s"""
        SELECT shingle, count(DISTINCT doc_id) AS doc_freq
        FROM (${DocSql.shinglesSql(3)})
        GROUP BY shingle
        HAVING count(DISTINCT doc_id) >= 5
        ORDER BY doc_freq DESC, shingle ASC LIMIT 50""")),

    // ---- heuristic language ID ---------------------------------------------
    // Stopword-profile voting; deterministic priority-ordered argmax; docs
    // matching no profile → 'und'. (The synthetic corpus is English-ish
    // across all declared langs — the oracle checks the operator, not
    // linguistics.)
    Q("txt_langid",
      (s, dir) => {
        val sums = profiles.map { case (l, ws) =>
          sum(when(inList(col("token"), ws), 1L).otherwise(0L)).as(s"s_$l")
        }
        val scored = tokenRows(s, dir)
          .groupBy(col("doc_id"), col("lang"))
          .agg(sums.head, sums.tail: _*)
        val Seq(en, de, es, fr) = profiles.map(p => col(s"s_${p._1}"))
        scored.select(col("doc_id"), col("lang"),
          en.as("s_en"), de.as("s_de"), es.as("s_es"), fr.as("s_fr"),
          when(en === 0 && de === 0 && es === 0 && fr === 0, "und")
            .when(en >= de && en >= es && en >= fr, "en")
            .when(de >= es && de >= fr, "de")
            .when(es >= fr, "es")
            .otherwise("fr").as("pred_lang"))
      },
      Some {
        // CAST to BIGINT: DuckDB's sum(int) is HUGEINT, which the driver's
        // pandas bridge renders as float and the hash compare then misses
        val sums = profiles.map { case (l, ws) =>
          s"CAST(sum(CASE WHEN token IN ${sqlList(ws)} THEN 1 ELSE 0 END) AS BIGINT) AS s_$l"
        }.mkString(", ")
        s"""
        WITH tok AS (
          SELECT doc_id, lang, unnest(tokens) AS token FROM (${DocSql.toksSql})),
        sc AS (SELECT doc_id, lang, $sums FROM tok GROUP BY doc_id, lang)
        SELECT doc_id, lang, s_en, s_de, s_es, s_fr,
               CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
                    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                    WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM sc"""
      }),

    // ---- TRAINED language ID: multinomial Naive Bayes ------------------------
    // txt_langid votes over hand-picked stopword profiles; this is the
    // TRAINABLE twin — the classic fasttext-shaped corpus classifier,
    // reduced to what it really is at 100 TB: training IS one combinable
    // aggregate (per-(lang, token) counts roll up map-side; the model is
    // |vocab|×|langs| quantized log-likelihoods, broadcastable), scoring
    // IS one broadcast join + per-doc sum. Everything stays exact-integer
    // cross-engine: every ln runs over an INTEGER argument and
    // micro-quantizes at source (the q28/txt_bm25/dq_dp_hist rule), so
    // the whole log-posterior is BIGINT arithmetic:
    //   score_l(d) = Q(D_l+1) − Q(D+|L|)                        (prior)
    //              + Σ_{t∈d} Q(c_{l,t}+1) − n_d · Q(T_l+V)      (add-one)
    // with Q(x) = round(ln(x)·10⁶). Unseen (lang, token) pairs cost
    // Q(1) = 0, so the per-token model join needs no per-lang fallback
    // rows. Deterministic priority-ordered argmax (the txt_langid tie
    // rule); docs with zero tokens (zh under the latin tokenizer) score
    // prior-only and stay in the output via the left join.
    Q("txt_nb_langid",
      (s, dir) => {
        val langs = Seq("en", "de", "es", "fr", "zh")
        val tok = tokenRows(s, dir).select(col("doc_id"), col("lang"),
          col("token"))
        val counts = tok.groupBy(col("lang"), col("token"))
          .agg(count(lit(1)).as("c"))
        val mcols = langs.map(l => expr(
          s"CAST(round(ln(coalesce(max(CASE WHEN lang = '$l' THEN c END)," +
            s" 0) + 1) * 1000000) AS BIGINT)").as(s"q_$l"))
        val model = counts.groupBy(col("token")).agg(mcols.head, mcols.tail: _*)
        val dcols = count(lit(1)).as("n_tokens") +:
          langs.map(l => sum(col(s"q_$l")).as(s"sq_$l"))
        val perDoc = tok.join(broadcast(model), Seq("token"))
          .groupBy(col("doc_id")).agg(dcols.head, dcols.tail: _*)
        val tcols = langs.map(l =>
          sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"t_$l")) :+
          countDistinct(col("token")).as("v")
        val tokTotals = tok.agg(tcols.head, tcols.tail: _*)
        val ecols = langs.map(l =>
          sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"d_$l")) :+
          count(lit(1)).as("d_all")
        val docTotals = docs(s, dir).agg(ecols.head, ecols.tail: _*)
        val scoreCols = langs.map { l =>
          (expr(s"CAST(round(ln(d_$l + 1) * 1000000) AS BIGINT)") -
            expr(s"CAST(round(ln(d_all + ${langs.size}) * 1000000) AS BIGINT)") +
            col(s"sq_$l") -
            col("n_tokens") *
              expr(s"CAST(round(ln(t_$l + v) * 1000000) AS BIGINT)"))
            .as(s"nb_${l}_micro")
        }
        val Seq(en, de, es2, fr, zh) = langs.map(l => col(s"nb_${l}_micro"))
        docs(s, dir).select(col("doc_id"), col("lang"))
          .join(perDoc, Seq("doc_id"), "left")
          .na.fill(0L)
          .crossJoin(broadcast(tokTotals))
          .crossJoin(broadcast(docTotals))
          .select(col("doc_id") +: col("lang") +: scoreCols: _*)
          .withColumn("pred_lang",
            when(en >= de && en >= es2 && en >= fr && en >= zh, "en")
              .when(de >= es2 && de >= fr && de >= zh, "de")
              .when(es2 >= fr && es2 >= zh, "es")
              .when(fr >= zh, "fr")
              .otherwise("zh"))
      },
      Some {
        val langs = Seq("en", "de", "es", "fr", "zh")
        val mcols = langs.map(l =>
          s"CAST(round(ln(COALESCE(max(CASE WHEN lang = '$l' THEN c END)," +
            s" 0) + 1) * 1000000) AS BIGINT) AS q_$l").mkString(", ")
        val dcols = langs.map(l =>
          s"CAST(sum(q_$l) AS BIGINT) AS sq_$l").mkString(", ")
        val tcols = langs.map(l =>
          s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT)" +
            s" AS t_$l").mkString(", ")
        val ecols = langs.map(l =>
          s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT)" +
            s" AS d_$l").mkString(", ")
        val scoreCols = langs.map(l =>
          s"(CAST(round(ln(d_$l + 1) * 1000000) AS BIGINT)" +
            s" - CAST(round(ln(d_all + ${langs.size}) * 1000000) AS BIGINT)" +
            s" + COALESCE(sq_$l, 0)" +
            s" - COALESCE(n_tokens, 0) *" +
            s" CAST(round(ln(t_$l + v) * 1000000) AS BIGINT))" +
            s" AS nb_${l}_micro").mkString(", ")
        s"""
        WITH tok AS (
          SELECT doc_id, lang, unnest(tokens) AS token
          FROM (${DocSql.toksSql})),
        counts AS (
          SELECT lang, token, count(*) AS c FROM tok GROUP BY 1, 2),
        model AS (SELECT token, $mcols FROM counts GROUP BY token),
        per_doc AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, $dcols
          FROM tok JOIN model USING (token) GROUP BY doc_id),
        tok_tot AS (
          SELECT $tcols, CAST(count(DISTINCT token) AS BIGINT) AS v
          FROM tok),
        doc_tot AS (
          SELECT $ecols, CAST(count(*) AS BIGINT) AS d_all FROM documents),
        sc AS (
          SELECT doc_id, lang, $scoreCols
          FROM documents LEFT JOIN per_doc USING (doc_id)
          CROSS JOIN tok_tot CROSS JOIN doc_tot)
        SELECT doc_id, lang,
               nb_en_micro, nb_de_micro, nb_es_micro, nb_fr_micro,
               nb_zh_micro,
               CASE WHEN nb_en_micro >= nb_de_micro AND
                         nb_en_micro >= nb_es_micro AND
                         nb_en_micro >= nb_fr_micro AND
                         nb_en_micro >= nb_zh_micro THEN 'en'
                    WHEN nb_de_micro >= nb_es_micro AND
                         nb_de_micro >= nb_fr_micro AND
                         nb_de_micro >= nb_zh_micro THEN 'de'
                    WHEN nb_es_micro >= nb_fr_micro AND
                         nb_es_micro >= nb_zh_micro THEN 'es'
                    WHEN nb_fr_micro >= nb_zh_micro THEN 'fr'
                    ELSE 'zh' END AS pred_lang
        FROM sc"""
      }),

    // ---- PII scrubbing ------------------------------------------------------
    // The fixture corpus carries no PII, so deterministic emails/URLs are
    // appended first (both engines see identical text), then scrubbed with
    // the same regexes. Output = scrub hash + span count, so any
    // replacement divergence breaks the hash match.
    Q("txt_scrub",
      (s, dir) => {
        val aug = concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or https://site"), col("doc_id"),
          lit(".example.org/page"))
        docs(s, dir).select(col("doc_id"),
          md5(TextOps.scrubPii(aug).cast("binary")).as("scrub_hash"),
          TextOps.piiCount(aug).as("n_pii"))
      },
      Some(s"""
        SELECT doc_id,
               md5(regexp_replace(regexp_replace(aug,
                 '${TextOps.UrlRe}', '<URL>', 'g'),
                 '${TextOps.EmailRe}', '<EMAIL>', 'g')) AS scrub_hash,
               CAST(len(regexp_extract_all(aug, '${TextOps.EmailRe}')) +
                    len(regexp_extract_all(aug, '${TextOps.UrlRe}'))
                 AS BIGINT) AS n_pii
        FROM (
          SELECT doc_id,
                 text || ' contact user' || doc_id ||
                 '@example.com or https://site' || doc_id ||
                 '.example.org/page' AS aug
          FROM documents)""")),

    // ---- deterministic stratified sampling ----------------------------------
    // ~20% per language via hash-bucket membership: identical across runs,
    // engines, and recomputed partitions; narrow (no shuffle beyond the
    // accounting groupBy).
    Q("txt_sample_stratified",
      (s, dir) => graft.ops.Sampling.stratified(docs(s, dir),
          col("lang"), col("doc_id"), 0.2)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          min(col("doc_id")).as("first_doc")),
      Some(s"""
        SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc
        FROM documents
        WHERE ${graft.ops.Sampling.stratifiedSql("lang", "doc_id", 0.2)}
        GROUP BY lang""")),

    // ---- weighted sampling (length-proportional keep probability) -----------
    // ops.Sampling.weighted with weight = n_chars, denominator 2^10:
    // longer docs are kept proportionally more often — the deterministic
    // form of quality-weighted corpus sampling. Accounting per language:
    // kept count + kept-char mass (longer docs over-represented vs
    // txt_sample_stratified's uniform rate, visible in the ratio).
    Q("txt_sample_weighted",
      (s, dir) => graft.ops.Sampling.weighted(docs(s, dir),
          col("doc_id"), col("n_chars"), log2Denom = 10)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars").cast("long")).as("kept_chars"),
          min(col("doc_id")).as("first_doc")),
      Some(s"""
        SELECT lang, count(*) AS n_kept,
               CAST(sum(n_chars) AS BIGINT) AS kept_chars,
               min(doc_id) AS first_doc
        FROM documents
        WHERE ${graft.ops.Sampling.weightedSql("doc_id", "n_chars", 10)}
        GROUP BY lang""")),

    // ---- rare-token ratio (corpus-frequency quality signal) -----------------
    // Two-pass shape: corpus-wide token document-frequencies, joined back
    // to each document's tokens — the frequency-based cleaning signal
    // (high rare-token ratio ⇒ gibberish/OCR noise). All integer counts;
    // the ratio is one final division. At scale the document-frequency
    // table is Zipf-small relative to the corpus and broadcastable.
    Q("txt_rare_ratio",
      (s, dir) => {
        val tok = docs(s, dir).select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("token"))
        val df_ = tok.select(col("doc_id"), col("token")).distinct()
          .groupBy(col("token")).agg(count(lit(1)).as("doc_freq"))
        tok.join(df_, "token")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("doc_freq") < 100, 1L).otherwise(0L)).as("n_rare"))
          .select(col("doc_id"), col("n_tokens"), col("n_rare"),
            (col("n_rare").cast("double") / col("n_tokens").cast("double"))
              .as("rare_ratio"))
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest(tokens) AS token FROM (${DocSql.toksSql})),
        freq AS (
          SELECT token, count(*) AS doc_freq
          FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token)
        SELECT t.doc_id, count(*) AS n_tokens,
               CAST(sum(CASE WHEN f.doc_freq < 100 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_rare,
               CAST(sum(CASE WHEN f.doc_freq < 100 THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*) AS rare_ratio
        FROM tok t JOIN freq f ON f.token = t.token
        GROUP BY t.doc_id""")),

    // ---- domain capping (C4-style cap-per-source sampling) ------------------
    // Keep at most 20 docs per source, chosen by smallest salted hash —
    // the "cap pages per domain" corpus-balancing op. Deterministic
    // (hash order, doc_id tiebreak) and cheap: WindowGroupLimit pushes
    // the top-20 filter MAP-SIDE, so only ≤20 rows per source reach the
    // exchange (same plan shape as ev_user_paths).
    Q("txt_cap_per_source",
      (s, dir) => {
        val h = conv(substring(md5(concat(lit("cap|"), col("doc_id"))
          .cast("binary")), 1, 15), 16, 10).cast("long")
        val w = Window.partitionBy(col("source"))
          .orderBy(col("h").asc, col("doc_id").asc)
        docs(s, dir).select(col("doc_id"), col("source"), h.as("h"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 20)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_doc"),
            max(col("h")).as("max_kept_hash"))
      },
      Some("""
        WITH h AS (
          SELECT doc_id, source,
                 CAST(('0x' || substr(md5('cap|' || doc_id), 1, 15)) AS BIGINT)
                   AS h
          FROM documents),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY h, doc_id) AS rn
          FROM h)
        SELECT source, count(*) AS n_kept, min(doc_id) AS first_doc,
               max(h) AS max_kept_hash
        FROM r WHERE rn <= 20 GROUP BY source""")),

    // ---- composed quality filter (the C4 cleaning chain) --------------------
    // The standard keep-rules stacked as one predicate over the txt_stats
    // features: enough tokens, not too repetitive, English-stopword
    // evidence. Per-language accounting of survivors — integer counts,
    // ratio thresholds as integer cross-multiplications (no fp in the
    // predicate).
    Q("txt_quality_filter",
      (s, dir) => docTokenStats(s, dir, Seq("lang"))
        .withColumn("kept",
          col("n_tokens") >= 20 &&
            col("n_distinct") * 10 >= col("n_tokens") * 3 && // ≥0.3 distinct
            col("n_stop") * 100 >= col("n_tokens") * 2) // ≥2% stopwords
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept")),
      Some(s"""
        WITH t AS (${docTokenStatsSql(Seq("lang"))})
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN n_tokens >= 20
                              AND n_distinct * 10 >= n_tokens * 3
                              AND n_stop * 100 >= n_tokens * 2
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM t GROUP BY lang""")),

    // ---- KMV cardinality sketch (bounded-memory distinct estimate) ----------
    // Per-language distinct-token estimate from a bottom-16 sketch
    // (functions.BottomKSketch, a typed Aggregator whose buffer holds ≤ k
    // longs — the 100 TB replacement for collect_set). Hashes are the
    // engine-standard 60-bit md5 prefix, so unlike HLL the sketch AND the
    // estimate (k-1)/u_k are bit-reproducible in the oracle; exact
    // distinct runs alongside for the accuracy check.
    Q("txt_kmv_distinct",
      (s, dir) => {
        val k = 16
        val bk = udaf(new graft.functions.BottomKSketch(k))
        docs(s, dir)
          .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
          .select(col("lang"),
            conv(substring(md5(col("token").cast("binary")), 1, 15), 16, 10)
              .cast("long").as("h"))
          .groupBy(col("lang"))
          .agg(countDistinct(col("h")).as("n_exact"), bk(col("h")).as("sk"))
          .select(col("lang"), col("n_exact"),
            when(size(col("sk")) >= k,
              lit((k - 1).toDouble * (1L << 60).toDouble) /
                element_at(col("sk"), k).cast("double"))
              .otherwise(size(col("sk")).cast("double")).as("est_kmv"))
      },
      Some(s"""
        WITH h AS (
          SELECT lang,
                 CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
          FROM (SELECT lang, unnest(tokens) AS token FROM (${DocSql.toksSql}))),
        s AS (
          SELECT lang, count(DISTINCT h) AS n_exact,
                 (list_sort(list(DISTINCT h)))[1:16] AS sk
          FROM h GROUP BY lang)
        SELECT lang, n_exact,
               CASE WHEN len(sk) >= 16
                    THEN 15.0 * 1152921504606846976.0 / CAST(sk[16] AS DOUBLE)
                    ELSE CAST(len(sk) AS DOUBLE) END AS est_kmv
        FROM s""")),

    // ---- KMV set algebra (theta-sketch-style union/intersection) ------------
    // Distinct-set OPERATIONS from the same bottom-k sketches: for every
    // language pair, the union estimate comes from merging the two
    // sketches (the k smallest of A∪B are all contained in A's k ∪ B's k,
    // so the merge is exact), and the intersection estimate is the
    // classic KMV combinator — the fraction of the union sketch's minima
    // present in BOTH input sketches, scaled by the union estimate
    // (Beyer et al. 2007, "On Synopses for Distinct-Value Estimation").
    // This is the unbounded-id-space counterpart to the exact
    // ev_bitmap_retention algebra: sketches stay ≤ k longs per segment
    // no matter the cardinality, the per-segment aggregation is map-side
    // combinable, and the pairwise stage runs on |segments| rows — at
    // production scale segments are domains/sources, so the pair frame
    // is model-sized and broadcast. The exact truth (a distinct self-join
    // on the hash — THE expensive path this sketch replaces at 100 TB)
    // runs alongside as the accuracy check.
    Q("txt_kmv_setops",
      (s, dir) => {
        val k = 64
        val bk = udaf(new graft.functions.BottomKSketch(k))
        val toks = docs(s, dir)
          .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
          .select(col("lang"),
            conv(substring(md5(col("token").cast("binary")), 1, 15), 16, 10)
              .cast("long").as("h"))
        val sk = toks.groupBy(col("lang"))
          .agg(countDistinct(col("h")).as("n_exact"), bk(col("h")).as("sk"))
        val pairs = sk.select(col("lang").as("lang_a"),
            col("n_exact").as("n_a"), col("sk").as("ska"))
          .join(broadcast(sk.select(col("lang").as("lang_b"),
            col("n_exact").as("n_b"), col("sk").as("skb"))),
            col("lang_a") < col("lang_b"))
          .withColumn("u",
            slice(array_sort(array_distinct(concat(col("ska"), col("skb")))),
              1, k))
        // exact truth: distinct (lang, h) equi-join — one shuffle on h
        val dt = toks.distinct()
        val ex = dt.as("x").join(dt.as("y"),
            col("x.h") === col("y.h") && col("x.lang") < col("y.lang"))
          .groupBy(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
          .agg(count(lit(1)).as("n_inter_exact"))
        val estUnion = when(size(col("u")) >= k,
          lit((k - 1).toDouble * (1L << 60).toDouble) /
            element_at(col("u"), k).cast("double"))
          .otherwise(size(col("u")).cast("double"))
        val shared = size(filter(col("u"), x =>
          array_contains(col("ska"), x) && array_contains(col("skb"), x)))
        pairs.join(broadcast(ex), Seq("lang_a", "lang_b"), "left")
          .withColumn("n_inter_exact", coalesce(col("n_inter_exact"), lit(0L)))
          .withColumn("est_union", estUnion)
          .withColumn("est_jaccard",
            shared.cast("double") / size(col("u")).cast("double"))
          .select(col("lang_a"), col("lang_b"), col("n_a"), col("n_b"),
            col("n_inter_exact"),
            (col("n_a") + col("n_b") - col("n_inter_exact")).as("n_union_exact"),
            col("est_union"), col("est_jaccard"),
            (col("est_jaccard") * col("est_union")).as("est_inter"))
      },
      Some(s"""
        WITH h AS (
          SELECT lang,
                 CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
          FROM (SELECT lang, unnest(tokens) AS token FROM (${DocSql.toksSql}))),
        s AS (
          SELECT lang, count(DISTINCT h) AS n_exact,
                 (list_sort(list(DISTINCT h)))[1:64] AS sk
          FROM h GROUP BY lang),
        d AS (SELECT DISTINCT lang, h FROM h),
        ex AS (
          SELECT x.lang AS lang_a, y.lang AS lang_b,
                 count(*) AS n_inter_exact
          FROM d x JOIN d y ON y.h = x.h AND x.lang < y.lang
          GROUP BY 1, 2),
        p AS (
          SELECT a.lang AS lang_a, b.lang AS lang_b,
                 a.n_exact AS n_a, b.n_exact AS n_b, a.sk AS ska, b.sk AS skb,
                 (list_sort(list_distinct(list_concat(a.sk, b.sk))))[1:64] AS u
          FROM s a JOIN s b ON a.lang < b.lang),
        e AS (
          SELECT lang_a, lang_b, n_a, n_b, ska, skb, u,
                 CASE WHEN len(u) >= 64
                      THEN 63.0 * 1152921504606846976.0
                           / CAST(u[64] AS DOUBLE)
                      ELSE CAST(len(u) AS DOUBLE) END AS est_union,
                 CAST(len(list_filter(u, x -> list_contains(ska, x)
                          AND list_contains(skb, x))) AS DOUBLE)
                   / CAST(len(u) AS DOUBLE) AS est_jaccard
          FROM p)
        SELECT e.lang_a, e.lang_b, n_a, n_b,
               coalesce(ex.n_inter_exact, 0) AS n_inter_exact,
               n_a + n_b - coalesce(ex.n_inter_exact, 0) AS n_union_exact,
               est_union, est_jaccard, est_jaccard * est_union AS est_inter
        FROM e LEFT JOIN ex
          ON ex.lang_a = e.lang_a AND ex.lang_b = e.lang_b""")),

    // ---- HyperLogLog cardinality sketch -------------------------------------
    // The fourth bounded-memory sketch family (KMV=cardinality-by-order-
    // statistic, count-min=frequency, Bloom=membership, HLL=cardinality-
    // by-bit-pattern): m=64 registers, bucket = h mod 64, register =
    // max over bucket items of (leading zeros of the next 32 hash bits)+1
    // — computed as 33 − bitlength(r) with bitlength = len(bin(r)), an
    // identity both engines share. The raw HLL estimate
    // α·m²/Σ2^−reg is kept ENTIRELY in integers: S = Σ 2^(33−reg)
    // (empty registers contribute 2^33) and est_milli =
    // (α₁₀₀₀·m²·2^33) div S — bit-reproducible where float registers
    // would not be. State is 64 registers per group forever (a groupBy
    // max — map-side combinable, the 100 TB shape); exact distinct runs
    // alongside as the accuracy check.
    Q("txt_hll_distinct",
      (s, dir) => {
        import graft.functions.Hll
        val m = 64
        val toks = docs(s, dir)
          .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
          .select(col("lang"), Hll.hash(col("token")).as("h"))
        val regs = toks
          .select(col("lang"), Hll.bucket(col("h"), m).as("bucket"),
            Hll.rho(col("h"), m).as("rho"))
          .groupBy(col("lang"), col("bucket"))
          .agg(max(col("rho")).as("reg"))
        val est = Hll.estimate(regs, m, col("lang"))
        val exact = toks.groupBy(col("lang"))
          .agg(countDistinct(col("h")).as("n_exact"))
        exact.join(est, "lang")
          .select(col("lang"), col("n_exact"), col("est_milli"))
      },
      Some(s"""
        WITH h AS (
          SELECT lang,
                 CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
          FROM (SELECT lang, unnest(tokens) AS token FROM (${DocSql.toksSql}))),
        regs AS (
          SELECT lang, h % 64 AS bucket,
                 max(CASE WHEN (h // 64) % 4294967296 = 0 THEN 33
                          ELSE 33 - length(bin((h // 64) % 4294967296))
                     END) AS reg
          FROM h GROUP BY 1, 2),
        est AS (
          SELECT lang,
                 CAST((709 * 64 * 64 * 8589934592) //
                   (CAST(sum(1::BIGINT << CAST(33 - reg AS INTEGER))
                      AS BIGINT) +
                    (64 - count(*)) * 8589934592) AS BIGINT) AS est_milli
          FROM regs GROUP BY 1)
        SELECT h.lang, count(DISTINCT h.h) AS n_exact, e.est_milli
        FROM h JOIN est e ON e.lang = h.lang
        GROUP BY h.lang, e.est_milli""")),

    // ---- BPE merge counting (tokenizer-training primitive) ------------------
    // The inner loop of byte-pair-encoding training: count adjacent
    // CHARACTER pairs inside every token occurrence (weighted by
    // frequency, not distinct) and rank the top merges — iteration 0 of
    // the BPE loop; further iterations repeat the same count after
    // applying the winning merge. Plan shape (r15 constant-factor cut;
    // this was one of the two queries whose CPU warmth made cold bench
    // windows breach 2×): the pair fan-out is the native `char_pairs`
    // kernel (one byte walk emitting the 2-char slices directly)
    // instead of the explode(sequence)→substr chain, which materialized
    // an (token, position) row — full token string included — per pair
    // before cutting it down to 2 chars. ONE combinable aggregate
    // remains the whole distributed story: the pair DOMAIN (~|alphabet|²)
    // is tiny, so map-side partial aggregation collapses each task to
    // ~1.3k rows and the only exchange carries (pair, partial count) —
    // which is also why a vocabulary pre-aggregation would be a
    // pessimization here (measured 1.9× at sf0.1): it swaps this
    // domain-bounded shuffle for a vocab-sized one. TakeOrdered top-20,
    // no global sort.
    Q("txt_bpe_merges",
      (s, dir) => {
        val toks = docs(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("token"))
        val pairs =
          if (s.catalog.functionExists("char_pairs"))
            call_function("char_pairs", col("token"))
          else // unextended session: the HOF form (same pairs, slower);
            // single-char tokens yield an empty array either way
            when(length(col("token")) >= 2,
              transform(sequence(lit(1), length(col("token")) - 1),
                i => col("token").substr(i, lit(2))))
              .otherwise(array().cast("array<string>"))
        toks
          .select(explode(pairs).as("pair"))
          .groupBy(col("pair"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair").asc)
          .limit(20)
      },
      Some(s"""
        SELECT substr(token, CAST(g.i AS INTEGER), 2) AS pair,
               count(*) AS n
        FROM (SELECT unnest(tokens) AS token FROM (${DocSql.toksSql})) t
        CROSS JOIN generate_series(1, $BpePairPositions) AS g(i)
        WHERE g.i <= length(token) - 1
        GROUP BY 1
        ORDER BY n DESC, pair ASC LIMIT 20""")),

    // ---- unigram surprisal (integer perplexity-filter signal) ---------------
    // The perplexity-filtering family (CCNet/Gopher-style "score every
    // document under a corpus LM, drop the tails") reduced to its
    // integer-exact core: a unigram LM whose per-token surprisal is
    // floor(log2(N/count)) = bitlength(N div count) − 1 bits — the
    // bitlength identity both engines share, so scores hash-match where
    // float log-probs would drift. Plan shape: one combinable vocab
    // count; N is a 1-row aggregate cross-joined broadcast (the
    // dd_contamination probe pattern — NOT a single-partition window
    // over the vocab, which is corpus-sized, not model-sized, at scale);
    // the frequency join back to the token stream is left to AQE (the
    // vocab of a 100 TB corpus is not broadcastable, and both sides are
    // already hash-partitioned on token from the freq aggregate).
    Q("txt_surprisal",
      (s, dir) => {
        val toks = docs(s, dir)
          .select(col("doc_id"), explode(TextOps.tokens(col("text")))
            .as("token"))
        val freqBase = toks.groupBy(col("token"))
          .agg(count(lit(1)).as("c"))
        val freq = freqBase
          .crossJoin(broadcast(
            freqBase.agg(sum(col("c")).as("n_total"))))
          .withColumn("sup_bits",
            length(bin(call_function("div", col("n_total"), col("c"))))
              .cast("long") - 1)
        toks.join(freq.select(col("token"), col("sup_bits")),
            "token")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("sup_bits")).as("sup_total_bits"))
          .withColumn("mean_milli_bits", call_function("div",
            col("sup_total_bits") * 1000, col("n_tokens")))
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest(tokens) AS token FROM (${DocSql.toksSql})),
        freq AS (
          SELECT token, count(*) AS c,
                 CAST(sum(count(*)) OVER () AS BIGINT) AS n_total
          FROM tok GROUP BY token),
        sup AS (
          SELECT token,
                 CAST(length(bin(n_total // c)) AS BIGINT) - 1 AS sup_bits
          FROM freq)
        SELECT t.doc_id, count(*) AS n_tokens,
               CAST(sum(s.sup_bits) AS BIGINT) AS sup_total_bits,
               CAST((CAST(sum(s.sup_bits) AS BIGINT) * 1000) // count(*)
                 AS BIGINT) AS mean_milli_bits
        FROM tok t JOIN sup s ON s.token = t.token
        GROUP BY t.doc_id""")),

    // ---- BPE iteration 1: apply the winning merge, recount ------------------
    // Proof the BPE loop ITERATES (txt_bpe_merges is iteration 0): the
    // top pair is trained out of the corpus — collected to the driver
    // (it's a 1-row model, the same model-sized-literal discipline as
    // sim_kmeans' centroids) and applied as a non-overlapping
    // left-to-right replace with a single-char placeholder symbol, then
    // pairs are recounted over the new symbol strings. Both engines'
    // replace() share the greedy non-overlapping semantics ('aaa' with
    // merge 'aa' → '#a'), which is exactly BPE's application rule.
    Q("txt_bpe_iterate",
      (s, dir) => {
        val toks = docs(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("token"))
          .filter(length(col("token")) >= 2)
        def pairCounts(t: org.apache.spark.sql.DataFrame) = t
          .select(col("token"), explode(sequence(lit(1),
            length(col("token")) - 1)).as("i"))
          .select(col("token").substr(col("i"), lit(2)).as("pair"))
          .filter(length(col("pair")) === 2) // merged tokens can shrink to 1
          .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        val topRow = pairCounts(toks)
          .orderBy(col("n").desc, col("pair").asc).limit(1)
          .collect().headOption
        require(topRow.nonEmpty,
          "txt_bpe_iterate: corpus has no token of length >= 2 — " +
            "no pair to merge")
        val top = topRow.get.getString(0)
        val merged = toks.select(
          call_function("replace", col("token"), lit(top), lit("#"))
            .as("token"))
          .filter(length(col("token")) >= 2)
        pairCounts(merged)
          .orderBy(col("n").desc, col("pair").asc).limit(20)
      },
      Some(s"""
        WITH tok AS (
          SELECT token
          FROM (SELECT unnest(tokens) AS token FROM (${DocSql.toksSql}))
          WHERE length(token) >= 2),
        p0 AS (
          SELECT substr(token, CAST(g.i AS INTEGER), 2) AS pair,
                 count(*) AS n
          FROM tok CROSS JOIN generate_series(1, $BpePairPositions) AS g(i)
          WHERE g.i <= length(token) - 1
          GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 1),
        m AS (
          SELECT replace(token, (SELECT pair FROM p0), '#') AS token
          FROM tok)
        SELECT substr(token, CAST(g.i AS INTEGER), 2) AS pair,
               count(*) AS n
        FROM m CROSS JOIN generate_series(1, $BpePairPositions) AS g(i)
        WHERE g.i <= length(token) - 1 AND length(token) >= 2
        GROUP BY 1
        ORDER BY n DESC, pair ASC LIMIT 20""")),

    // ---- BPE encode: apply the trained merge list in rank order -------------
    // Closes the tokenizer loop (txt_bpe_merges trains iteration 0,
    // txt_bpe_iterate proves the loop iterates): train a 3-merge model —
    // each iteration one corpus pass whose winning pair is collected as a
    // 1-row model literal, later pairs free to contain earlier merge
    // symbols (real BPE) — then ENCODE the corpus through the accumulated
    // replace chain and report per-doc compression. Encode is a single
    // narrow pass: 3 chained replace() calls inside one projection, one
    // combinable per-doc aggregate. (At 100 TB each training pass
    // re-derives prior merges in-line; checkpoint between iterations to
    // pay each replace once — encode itself is always one pass.)
    Q("txt_bpe_encode",
      (s, dir) => {
        val marks = Seq("#", "%", "@") // outside [a-z0-9]: never collide
        val toks0 = docs(s, dir).select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("token"))
        // Oracle-exactness guard: the DuckDB mirror enumerates only
        // BpePairPositions pair positions (constant series bound), so a
        // token longer than BpeMaxTokenLen chars would silently diverge.
        // The check RIDES the encode projection (raise_error inside the
        // pass the query already pays) instead of a separate corpus scan
        // — an extra scan per invocation would inflate every bench run
        // for a guard Verify.main also asserts once per dump.
        val guarded = when(length(col("token")) > BpeMaxTokenLen,
          raise_error(concat(
            lit(s"txt_bpe_encode oracle is exact only for tokens of <= " +
              s"$BpeMaxTokenLen chars; corpus has a "),
            length(col("token")).cast("string"), lit("-char token"))))
          .otherwise(col("token")).as("token")
        def topPair(t: DataFrame): String = {
          val top = t
            // single-char tokens have no pair — and sequence(1, 0) counts
            // DOWN, fabricating one (the txt_bpe_merges guard)
            .filter(length(col("token")) >= 2)
            .select(col("token"), explode(sequence(lit(1),
              length(col("token")) - 1)).as("i"))
            .select(col("token").substr(col("i"), lit(2)).as("pair"))
            .groupBy(col("pair")).agg(count(lit(1)).as("n"))
            .orderBy(col("n").desc, col("pair").asc).limit(1)
            .collect().headOption
          require(top.nonEmpty,
            "txt_bpe_encode: corpus has no token of length >= 2 — " +
              "no pair to merge")
          top.get.getString(0)
        }
        var t = toks0
        val merges = marks.map { mk =>
          val p = topPair(t)
          t = t.select(col("doc_id"),
            call_function("replace", col("token"), lit(p), lit(mk))
              .as("token"))
          p
        }
        val enc = merges.zip(marks).foldLeft(col("token")) {
          case (c, (p, mk)) => call_function("replace", c, lit(p), lit(mk))
        }
        toks0.select(col("doc_id"), guarded)
          .select(col("doc_id"),
            length(col("token")).cast("long").as("raw_len"),
            length(enc).cast("long").as("enc_len"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("raw_len")).as("raw_chars"),
            sum(col("enc_len")).as("enc_symbols"))
          .withColumn("saved_milli", call_function("div",
            (col("raw_chars") - col("enc_symbols")) * 1000,
            col("raw_chars")))
      },
      Some {
        def pcSql(src: String) = s"""
          SELECT substr(token, CAST(g.i AS INTEGER), 2) AS pair,
                 count(*) AS n
          FROM $src CROSS JOIN generate_series(1, $BpePairPositions) AS g(i)
          WHERE length(token) >= 2 AND g.i <= length(token) - 1
          GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 1"""
        s"""
        WITH tok0 AS (
          SELECT doc_id, unnest(tokens) AS token FROM (${DocSql.toksSql})),
        pc0 AS (${pcSql("tok0")}),
        tok1 AS (
          SELECT doc_id, replace(token, (SELECT pair FROM pc0), '#') AS token
          FROM tok0),
        pc1 AS (${pcSql("tok1")}),
        tok2 AS (
          SELECT doc_id, replace(token, (SELECT pair FROM pc1), '%') AS token
          FROM tok1),
        pc2 AS (${pcSql("tok2")}),
        tok3 AS (
          SELECT doc_id, replace(token, (SELECT pair FROM pc2), '@') AS token
          FROM tok2),
        agg AS (
          SELECT r.doc_id, r.n_tokens, r.raw_chars, e.enc_symbols
          FROM (SELECT doc_id, count(*) AS n_tokens,
                       CAST(sum(length(token)) AS BIGINT) AS raw_chars
                FROM tok0 GROUP BY 1) r
          JOIN (SELECT doc_id,
                       CAST(sum(length(token)) AS BIGINT) AS enc_symbols
                FROM tok3 GROUP BY 1) e ON e.doc_id = r.doc_id)
        SELECT doc_id, n_tokens, raw_chars, enc_symbols,
               CAST(((raw_chars - enc_symbols) * 1000) // raw_chars AS BIGINT)
                 AS saved_milli
        FROM agg"""
      }),

    // ---- BPE at real merge counts: batched rounds ---------------------------
    // txt_bpe_encode's one-collect-per-merge loop validates the kernel
    // but costs 30k corpus passes at a real tokenizer's 30k merges.
    // This is the batched variant (the parallel-BPE trick): each ROUND
    // counts pairs once, selects up to BpeBatchM winners whose LEADING
    // CHARACTERS are pairwise distinct (a deterministic, SQL-mirrorable
    // disjointness screen), and applies them in one chained projection
    // in rank order — merges accrue M per pass, so rounds = merges/M
    // (BpeBatchSpec proves >rounds merges per run and round-count
    // independence from merge count). Missing winner slots (fewer
    // leading chars than M) no-op via a chr(1) needle on the oracle
    // side and simply truncate the fold on the Spark side — both ends
    // apply the identical replace chain.
    Q("txt_bpe_batch",
      (s, dir) => {
        val toks0 = docs(s, dir).select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("token"))
        // same oracle-exactness guard as txt_bpe_encode (constant
        // pair-position bound in the DuckDB mirror), riding the final
        // projection instead of its own scan
        val guarded = when(length(col("token")) > BpeMaxTokenLen,
          raise_error(concat(
            lit(s"txt_bpe_batch oracle is exact only for tokens of <= " +
              s"$BpeMaxTokenLen chars; corpus has a "),
            length(col("token")).cast("string"), lit("-char token"))))
          .otherwise(col("token")).as("token")
        // r19 (§1.2): tokenize ONCE. Each round's winner job and the
        // final ledger used to re-run the corpus regexp tokenize under
        // a growing replace chain — 4 full tokenize passes per query.
        // Checkpoint the guarded exploded tokens with raw_len riding
        // along (the rows have no stable key, so carrying the length
        // beats any join back); every later job reads the checkpoint
        // and the loop's accumulated replace chain IS the final
        // encoding, so the separate 12-deep re-encode pass disappears.
        val base = toks0.select(col("doc_id"),
          length(col("token")).cast("long").as("raw_len"), guarded)
          .materialize()
        var t = base
        for (r <- 0 until BpeBatchRounds) {
          val ws = bpeBatchWinners(t, BpeBatchM)
          require(ws.nonEmpty,
            s"txt_bpe_batch round $r: no pair to merge")
          val batch = ws.zip(BpeBatchMarks(r))
          val applied = batch.foldLeft(col("token")) {
            case (c, (p, mk)) =>
              call_function("replace", c, lit(p), lit(mk))
          }
          t = t.select(col("doc_id"), col("raw_len"), applied.as("token"))
        }
        t.select(col("doc_id"), col("raw_len"),
            length(col("token")).cast("long").as("enc_len"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("raw_len")).as("raw_chars"),
            sum(col("enc_len")).as("enc_symbols"))
          .withColumn("saved_milli", call_function("div",
            (col("raw_chars") - col("enc_symbols")) * 1000,
            col("raw_chars")))
      },
      Some {
        // winners of one round over `src`: best pair per leading char,
        // top-M by (n desc, pair asc), rank = application order
        def wSql(src: String) = s"""
          SELECT pair, row_number() OVER (ORDER BY n DESC, pair ASC) AS rk
          FROM (
            SELECT pair, n FROM (
              SELECT pair, n, row_number() OVER (
                  PARTITION BY substr(pair, 1, 1)
                  ORDER BY n DESC, pair ASC) AS lr
              FROM (
                SELECT substr(token, CAST(g.i AS INTEGER), 2) AS pair,
                       count(*) AS n
                FROM $src
                CROSS JOIN generate_series(1, $BpePairPositions) AS g(i)
                WHERE length(token) >= 2 AND g.i <= length(token) - 1
                GROUP BY 1))
            WHERE lr = 1)
          QUALIFY rk <= $BpeBatchM"""
        // chained application in rank order; absent slots no-op via a
        // control-char needle that [a-z0-9]+ tokens can never contain
        def applySql(src: String, w: String, r: Int): String = {
          val chain = (1 to BpeBatchM).foldLeft("token") { (acc, k) =>
            s"""replace($acc, coalesce(
              (SELECT pair FROM $w WHERE rk = $k), chr(1)),
              '${BpeBatchMarks(r)(k - 1)}')"""
          }
          s"SELECT doc_id, $chain AS token FROM $src"
        }
        val rounds = (0 until BpeBatchRounds).map { r =>
          s"w$r AS (${wSql(s"tok$r")}), tok${r + 1} AS " +
            s"(${applySql(s"tok$r", s"w$r", r)})"
        }.mkString(",\n")
        s"""
        WITH tok0 AS (
          SELECT doc_id, unnest(tokens) AS token FROM (${DocSql.toksSql})),
        $rounds,
        agg AS (
          SELECT r.doc_id, r.n_tokens, r.raw_chars, e.enc_symbols
          FROM (SELECT doc_id, count(*) AS n_tokens,
                       CAST(sum(length(token)) AS BIGINT) AS raw_chars
                FROM tok0 GROUP BY 1) r
          JOIN (SELECT doc_id,
                       CAST(sum(length(token)) AS BIGINT) AS enc_symbols
                FROM tok$BpeBatchRounds GROUP BY 1) e
            ON e.doc_id = r.doc_id)
        SELECT doc_id, n_tokens, raw_chars, enc_symbols,
               CAST(((raw_chars - enc_symbols) * 1000) // raw_chars AS BIGINT)
                 AS saved_milli
        FROM agg"""
      }),

    // ---- sequence packing (concat-and-chunk) --------------------------------
    // The LM-training packing step: concatenate documents per language
    // stream in a deterministic order and chunk into 1024-token context
    // windows; a doc's pack is the window its first token lands in.
    // Running sum + integer floor-division — exactly mirrorable SQL.
    // Scale contract: packing is inherently sequential PER STREAM (the
    // window's partition key); streams (lang here; lang × shard-day in
    // production) bound any one reducer's data, and the cumsum is one
    // exchange + per-partition pass, no global sort.
    Q("txt_pack",
      (s, dir) => {
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        docs(s, dir)
          .select(col("doc_id"), col("lang"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            expr("(cum - n_tokens) div 1024").as("pack_id"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, lang, CAST(len(tokens) AS BIGINT) AS n_tokens
          FROM (${DocSql.toksSql})),
        c AS (
          SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
        SELECT doc_id, lang, n_tokens,
               CAST((cum - n_tokens) // 1024 AS BIGINT) AS pack_id
        FROM c""")),

    // ---- document fingerprints (bottom-k sketch) ----------------------------
    // The 4 lexicographically-smallest distinct shingle hashes — a compact
    // order-independent content fingerprint (the hash analog of winnowing);
    // equal sketches ⇒ near-identical content.
    Q("txt_fingerprint",
      (s, dir) => TextOps.explodedShingles(docs(s, dir), 3)
        .groupBy(col("doc_id"))
        .agg(concat_ws(",",
          slice(sort_array(collect_set(md5(col("shingle").cast("binary")))),
            1, 4)).as("fingerprint")),
      Some(s"""
        SELECT doc_id,
               array_to_string((list_sort(list(DISTINCT md5(shingle))))[1:4], ',')
                 AS fingerprint
        FROM (${DocSql.shinglesSql(3)})
        GROUP BY doc_id""")),

    // ---- repetition signals (Gopher-style quality filters) ------------------
    // The two standard repetition features for filtering degenerate /
    // looping text: the fraction of all 2-gram occurrences taken by the
    // single most frequent 2-gram, and the fraction of 3-gram occurrences
    // that are repeats of an already-seen 3-gram. Two-level aggregation
    // (per-(doc, gram) counts, then per-doc max/sum) — both levels
    // map-side combinable, shuffle carries (doc, gram-hash) keys;
    // ratios are single divisions of exact integers.
    Q("txt_repetition",
      (s, dir) => {
        val d = docs(s, dir)
        def gramCounts(n: Int) = TextOps.explodedShingles(d, n)
          .groupBy(col("doc_id"), col("shingle"))
          .agg(count(lit(1)).as("c"))
        val a2 = gramCounts(2).groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n2"), max(col("c")).as("top2"))
        val a3 = gramCounts(3).groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n3"),
            (sum(col("c")) - count(lit(1))).as("dup3"))
        a2.join(a3, "doc_id")
          .select(col("doc_id"), col("n2").as("n_2grams"),
            (col("top2").cast("double") / col("n2").cast("double"))
              .as("top_2gram_frac"),
            (col("dup3").cast("double") / col("n3").cast("double"))
              .as("dup_3gram_frac"))
      },
      Some(s"""
        WITH g2 AS (
          SELECT doc_id, shingle, count(*) AS c
          FROM (${DocSql.shinglesSql(2)}) GROUP BY 1, 2),
        a2 AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2, max(c) AS top2
          FROM g2 GROUP BY 1),
        g3 AS (
          SELECT doc_id, shingle, count(*) AS c
          FROM (${DocSql.shinglesSql(3)}) GROUP BY 1, 2),
        a3 AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n3,
                 CAST(sum(c) - count(*) AS BIGINT) AS dup3
          FROM g3 GROUP BY 1)
        SELECT a2.doc_id, a2.n2 AS n_2grams,
               CAST(a2.top2 AS DOUBLE) / CAST(a2.n2 AS DOUBLE)
                 AS top_2gram_frac,
               CAST(a3.dup3 AS DOUBLE) / CAST(a3.n3 AS DOUBLE)
                 AS dup_3gram_frac
        FROM a2 JOIN a3 ON a3.doc_id = a2.doc_id""")),

    // ---- source mixture weights (temperature-scaled sampling) ---------------
    // The multi-source mixture op: per-source sampling weights
    // ∝ sqrt(char share) (temperature α = 0.5 — up-weights small sources
    // the way multilingual/multi-domain training mixes do). Weights must
    // be identical across engines, so the irrational sqrt is quantized to
    // a 1e9 fixed-point long BEFORE normalization: integer sums are
    // order-independent, and each double division is one correctly-rounded
    // IEEE op. The unpartitioned windows run AFTER aggregation to
    // |sources| rows (20 here; domains not documents in production), so
    // the single-partition window is a constant-size reduction, not a
    // scale hazard.
    Q("txt_source_mix",
      (s, dir) => {
        val w = Window.partitionBy()
        docs(s, dir).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars").cast("long")).as("chars"))
          .withColumn("sq",
            round(sqrt(col("chars").cast("double") /
                sum(col("chars")).over(w).cast("double")) *
              lit(1000000000L)).cast("long"))
          .withColumn("weight",
            col("sq").cast("double") / sum(col("sq")).over(w).cast("double"))
          .select(col("source"), col("n_docs"), col("chars"), col("weight"))
      },
      Some("""
        WITH a AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS chars
          FROM documents GROUP BY 1),
        q AS (
          SELECT *, CAST(round(sqrt(CAST(chars AS DOUBLE) /
                      CAST(sum(chars) OVER () AS DOUBLE)) * 1000000000)
                    AS BIGINT) AS sq
          FROM a)
        SELECT source, n_docs, chars,
               CAST(sq AS DOUBLE) / CAST(sum(sq) OVER () AS DOUBLE) AS weight
        FROM q""")),

    // ---- TF-IDF-style salient terms (rarity-weighted ranking) ---------------
    // Top-3 most characteristic tokens per document, scored tf/df — the
    // same ranking as tf·idf for any monotone idf (N is constant per
    // corpus), with the score a single exact-integer division so both
    // engines agree bitwise. The document-frequency table is corpus-wide
    // and Zipf-small (broadcastable); the probe side is filtered BEFORE
    // the join, so the full corpus is touched exactly once for df.
    Q("txt_tfidf",
      (s, dir) => {
        val tok = docs(s, dir).select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("token"))
        val df_ = tok.select(col("doc_id"), col("token")).distinct()
          .groupBy(col("token")).agg(count(lit(1)).as("doc_freq"))
        val tf = tok.filter(col("doc_id") < 20)
          .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("token").asc)
        tf.join(df_, "token")
          .withColumn("score",
            col("tf").cast("double") / col("doc_freq").cast("double"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("token"), col("tf"), col("doc_freq"),
            col("score"), col("rank"))
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest(tokens) AS token FROM (${DocSql.toksSql})),
        freq AS (
          SELECT token, count(*) AS doc_freq
          FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token),
        tf AS (
          SELECT doc_id, token, count(*) AS tf
          FROM tok WHERE doc_id < 20 GROUP BY 1, 2),
        scored AS (
          SELECT t.doc_id, t.token, t.tf, f.doc_freq,
                 CAST(t.tf AS DOUBLE) / CAST(f.doc_freq AS DOUBLE) AS score
          FROM tf t JOIN freq f ON f.token = t.token),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, token ASC) AS rank
          FROM scored)
        SELECT doc_id, token, tf, doc_freq, score, rank
        FROM r WHERE rank <= 3""")),

    // ---- count-min heavy hitters (bounded-memory frequency estimation) ------
    // Corpus token frequencies through a 4×64 count-min grid
    // (functions.CountMinSketch, a typed Aggregator whose buffer is one
    // fixed-size counter array — the 100 TB replacement for an exact
    // per-token groupBy when only heavy hitters matter). Estimates for a
    // fixed probe set run alongside the exact counts: est ≥ exact always,
    // with the gap bounded by the grid's collision mass. Deterministic
    // md5 bucket hashes make the grid — and therefore the estimate —
    // exactly reproducible in the oracle, so the SKETCH itself is under
    // the correctness gate.
    Q("txt_heavy_hitters",
      (s, dir) => {
        val d = 4; val w = 64
        val probes = stopEn ++ Seq("spark", "table", "query")
        val cm = udaf(new graft.functions.CountMinSketch(d, w))
        val tok = docs(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("token"))
        val sk = tok
          .select(graft.functions.CountMinSketch
            .bucketCols(col("token"), d, w).as("b"))
          .agg(cm(col("b")).as("grid"))
        val est = sk
          .select(explode(array(probes.map(lit): _*)).as("token"), col("grid"))
          .select(col("token"),
            graft.functions.CountMinSketch
              .estimate(col("grid"), col("token"), d, w).as("est_cm"))
        tok.filter(inList(col("token"), probes))
          .groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
          .join(est, "token")
          .select(col("token"), col("n_exact"), col("est_cm"))
      },
      Some {
        val d = 4; val w = 64
        val probes = stopEn ++ Seq("spark", "table", "query")
        def bucketSql(tok: String, j: Int) =
          s"CAST(('0x' || substr(md5('$j|' || $tok), 1, 15)) AS BIGINT) % $w"
        val grids = (0 until d).map(j =>
          s"g$j AS (SELECT ${bucketSql("token", j)} AS b, count(*) AS c FROM tok GROUP BY 1)")
          .mkString(",\n        ")
        val joins = (0 until d).map(j =>
          s"LEFT JOIN g$j e$j ON e$j.b = ${bucketSql("p.token", j)}")
          .mkString("\n        ")
        val leastExpr = s"least(${(0 until d)
          .map(j => s"coalesce(e$j.c, 0)").mkString(", ")})"
        s"""
        WITH tok AS (
          SELECT unnest(tokens) AS token FROM (${DocSql.toksSql})),
        probes AS (
          SELECT unnest(${probes.map(p => s"'$p'").mkString("[", ", ", "]")})
            AS token),
        $grids,
        est AS (
          SELECT p.token, $leastExpr AS est_cm
          FROM probes p
          $joins),
        ex AS (
          SELECT token, count(*) AS n_exact FROM tok
          WHERE token IN ${sqlList(probes)} GROUP BY 1)
        SELECT ex.token, ex.n_exact, est.est_cm
        FROM ex JOIN est ON est.token = ex.token"""
      }),

    // ---- RAG-style overlapping chunking ------------------------------------
    // Retrieval corpora are built from fixed-size overlapping windows:
    // 64-token chunks on a 48-token stride (16-token overlap so no
    // sentence is split across a boundary without context). Pure narrow
    // work — sequence + slice per doc, no shuffle at all until a
    // downstream consumer groups — and the chunk fingerprint (md5 of the
    // space-joined window) is what a chunk-level dedup or index keys on.
    // The last partial chunk is kept (n_tokens < 64), matching the usual
    // retrieval-corpus convention.
    Q("txt_chunk",
      (s, dir) => {
        val w = 64; val st = 48
        docs(s, dir)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"), explode(
            when(size(col("toks")) >= 1,
              transform(sequence(lit(1), size(col("toks")), lit(st)), i =>
                struct(
                  ((i - lit(1)) / lit(st)).cast("long").as("chunk_idx"),
                  least(lit(w.toLong),
                    (size(col("toks")) - i + lit(1)).cast("long"))
                    .as("n_tokens"),
                  md5(concat_ws(" ", slice(col("toks"), i, lit(w)))
                    .cast("binary")).as("chunk_hash"))))
              .otherwise(array().cast(
                "array<struct<chunk_idx:bigint,n_tokens:bigint,chunk_hash:string>>")))
            .as("c"))
          .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
            col("c.n_tokens").as("n_tokens"),
            col("c.chunk_hash").as("chunk_hash"))
      },
      Some(s"""
        SELECT doc_id,
               CAST((g.i - 1) // 48 AS BIGINT) AS chunk_idx,
               CAST(least(64, len(tokens) - g.i + 1) AS BIGINT) AS n_tokens,
               md5(array_to_string(
                 tokens[g.i:least(g.i + 63, len(tokens))], ' ')) AS chunk_hash
        FROM (${DocSql.toksSql}) t
        CROSS JOIN generate_series(1, 512, 48) AS g(i)
        WHERE g.i <= len(tokens)""")),

    // ---- hashed-ngram importance weights (DSIR-style data selection) -------
    // Data Selection with Importance Resampling: score every document by
    // how much its hashed-bigram distribution looks like a TARGET domain
    // (source src1) relative to the raw corpus. Per bucket b of 4096:
    // lr(b) = (10^6 · (target_count+1)) div (raw_count+1) — an integer
    // likelihood ratio with add-one smoothing (integer div, not log, so
    // both engines agree bit-for-bit); doc score = Σ over its bigrams of
    // lr(bucket). Scale shape: the bucket tables are FIXED-size (4096
    // rows) regardless of corpus size — a model, not data — so scoring
    // is a broadcast join + one combinable aggregation; the raw corpus
    // is read twice (count pass, score pass) and never self-joins.
    Q("txt_importance",
      (s, dir) => {
        val b = 4096
        val bigrams = docs(s, dir)
          .select(col("doc_id"), col("source"),
            TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("source"),
            explode(TextOps.shingles(col("toks"), 2)).as("ng"))
          .select(col("doc_id"), col("source"),
            pmod(conv(substring(md5(col("ng").cast("binary")), 1, 15), 16, 10)
              .cast("long"), lit(b.toLong)).as("b"))
        val target = bigrams.filter(col("source") === "src1")
          .groupBy(col("b")).agg(count(lit(1)).as("c_t"))
        val raw = bigrams.groupBy(col("b")).agg(count(lit(1)).as("c_r"))
        val lr = raw.join(target, Seq("b"), "left")
          .select(col("b"),
            expr("(1000000 * (coalesce(c_t, 0) + 1)) div (c_r + 1)").as("lr"))
        bigrams
          .join(broadcast(lr), "b")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_ngrams"), sum(col("lr")).as("importance"))
      },
      Some(s"""
        WITH bg AS (
          SELECT s.doc_id, d.source,
                 CAST(('0x' || substr(md5(s.shingle), 1, 15)) AS BIGINT)
                   % 4096 AS b
          FROM (${DocSql.shinglesSql(2)}) s
          JOIN documents d ON d.doc_id = s.doc_id),
        tgt AS (SELECT b, count(*) AS c_t FROM bg
                WHERE source = 'src1' GROUP BY 1),
        raw AS (SELECT b, count(*) AS c_r FROM bg GROUP BY 1),
        lr AS (
          SELECT r.b,
                 (1000000 * (coalesce(t.c_t, 0) + 1)) // (r.c_r + 1) AS lr
          FROM raw r LEFT JOIN tgt t ON t.b = r.b)
        SELECT bg.doc_id, count(*) AS n_ngrams,
               CAST(sum(lr.lr) AS BIGINT) AS importance
        FROM bg JOIN lr ON lr.b = bg.b
        GROUP BY 1""")),

    // ---- filter-cascade funnel (pipeline observability) ---------------------
    // Production corpus cleaning is a CASCADE of filters, and the first
    // question an operator asks of a run is "which stage eats my data?"
    // Per-stage survivor counts, each stage the conjunction of all the
    // previous ones (ordered drop accounting, the C4/Gopher reporting
    // convention). All flags derive from one exploded aggregation's exact
    // integer counts — integer-scaled thresholds, no float ratios — and
    // the funnel itself is a single-row final aggregate, so the whole
    // report costs one corpus pass regardless of stage count. n_input
    // counts from the DOCUMENTS table (left join onto the token stats):
    // a zero-token doc — empty, punctuation-only, non-Latin junk — never
    // reaches the exploded aggregate, and those are exactly the docs a
    // funnel must report as dropped, not silently exclude.
    Q("txt_filter_funnel",
      (s, dir) => {
        val t = docs(s, dir).select(col("doc_id"))
          .join(docTokenStats(s, dir, Nil), Seq("doc_id"), "left")
        val s1 = col("n_tokens") >= 20 // null n_tokens (no tokens) fails here
        val s2 = s1 && col("n_distinct") * 10 >= col("n_tokens") * 3
        val s3 = s2 && col("n_stop") * 100 >= col("n_tokens") * 2
        val s4 = s3 && col("sum_len") <= col("n_tokens") * 12
        t.agg(count(lit(1)).as("n_input"),
          sum(when(s1, 1L).otherwise(0L)).as("n_after_length"),
          sum(when(s2, 1L).otherwise(0L)).as("n_after_distinct"),
          sum(when(s3, 1L).otherwise(0L)).as("n_after_stopword"),
          sum(when(s4, 1L).otherwise(0L)).as("n_after_tokenlen"))
      },
      Some(s"""
        WITH t0 AS (${docTokenStatsSql(Nil)}),
        t AS (
          SELECT d.doc_id, t0.n_tokens, t0.n_distinct, t0.sum_len, t0.n_stop
          FROM documents d LEFT JOIN t0 ON t0.doc_id = d.doc_id)
        SELECT count(*) AS n_input,
               CAST(sum(CASE WHEN n_tokens >= 20
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_after_length,
               CAST(sum(CASE WHEN n_tokens >= 20
                         AND n_distinct * 10 >= n_tokens * 3
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_after_distinct,
               CAST(sum(CASE WHEN n_tokens >= 20
                         AND n_distinct * 10 >= n_tokens * 3
                         AND n_stop * 100 >= n_tokens * 2
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_after_stopword,
               CAST(sum(CASE WHEN n_tokens >= 20
                         AND n_distinct * 10 >= n_tokens * 3
                         AND n_stop * 100 >= n_tokens * 2
                         AND sum_len <= n_tokens * 12
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_after_tokenlen
        FROM t""")),

    // ---- vocabulary coverage / OOV rate -------------------------------------
    // Tokenizer-health metric: fix the vocabulary to the top-200 corpus
    // tokens (deterministic count-then-token cut) and report each doc's
    // out-of-vocabulary fraction — the signal that catches encoding junk,
    // wrong-language shards, and tokenizer/corpus drift before training.
    // Two-phase plan: a combinable token-frequency aggregate cut to a
    // MODEL-sized vocab, broadcast back over a second exploded pass (the
    // df-join-back shape txt_rare_ratio/txt_tfidf established); the OOV
    // ratio ships as an exact integer per-mille.
    Q("txt_oov_rate",
      (s, dir) => {
        val toks = docs(s, dir).select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("token"))
        val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("token").asc).limit(200)
          .select(col("token"), lit(1L).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("token"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_milli", call_function("div",
            col("n_oov") * 1000, col("n_tokens")))
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest(tokens) AS token FROM (${DocSql.toksSql})),
        vocab AS (
          SELECT token FROM (
            SELECT token, count(*) AS c FROM tok GROUP BY token
            ORDER BY c DESC, token ASC LIMIT 200)),
        agg AS (
          SELECT t.doc_id, count(*) AS n_tokens,
                 CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_oov
          FROM tok t LEFT JOIN vocab v ON v.token = t.token
          GROUP BY t.doc_id)
        SELECT doc_id, n_tokens, n_oov,
               CAST((n_oov * 1000) // n_tokens AS BIGINT) AS oov_milli
        FROM agg""")),

    // ---- sentence segmentation stats ----------------------------------------
    // Sentence-level shape features (count, mean/max sentence length in
    // tokens) — the structural half of quality filtering: wall-of-text
    // and fragment-soup documents both read as outliers here. Regex
    // sentence split + the engine-standard tokenizer, empty segments
    // dropped on both engines; the mean ships as an exact integer
    // per-mille. Narrow explode + one combinable per-doc aggregate.
    Q("txt_sentences",
      (s, dir) => {
        val sent = docs(s, dir)
          .select(col("doc_id"),
            explode(split(col("text"), "[.!?]+")).as("sent"))
          .select(col("doc_id"),
            size(TextOps.tokens(col("sent"))).cast("long").as("n_tok"))
          .filter(col("n_tok") > 0)
        sent.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_sentences"),
            sum(col("n_tok")).as("n_tokens"),
            max(col("n_tok")).as("max_sent_tokens"))
          .withColumn("mean_milli_tokens", call_function("div",
            col("n_tokens") * 1000, col("n_sentences")))
      },
      Some(s"""
        WITH seg AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(lower(sent),
                   '${TextOps.TokenRegex}')) AS BIGINT) AS n_tok
          FROM (SELECT doc_id,
                       unnest(regexp_split_to_array(text, '[.!?]+')) AS sent
                FROM documents)
          WHERE len(regexp_extract_all(lower(sent),
                  '${TextOps.TokenRegex}')) > 0),
        agg AS (
          SELECT doc_id, count(*) AS n_sentences,
                 CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                 CAST(max(n_tok) AS BIGINT) AS max_sent_tokens
          FROM seg GROUP BY doc_id)
        SELECT doc_id, n_sentences, n_tokens, max_sent_tokens,
               CAST((n_tokens * 1000) // n_sentences AS BIGINT)
                 AS mean_milli_tokens
        FROM agg""")),

    // ---- weak-label classifier: iterative GD under the oracle gate ----------
    // The fastText-style quality/language classifier every production
    // corpus pipeline trains on weak labels (CCNet/GPT-3 lineage): here a
    // linear model over three char-statistic features with label
    // y = [lang = 'en'], trained by LrIters full-batch gradient steps.
    // Execution is the sim_kmeans discipline applied to SUPERVISED
    // iterative ML: the model is 4 driver doubles, each GD step is ONE
    // map-side-combinable aggregate (count + 4 fixed-point gradient
    // sums) over a narrow 5-column feature pass, and scoring is a narrow
    // map against model literals — K+1 scans, zero shuffles beyond the
    // 1-row aggregates, nothing grows with data. Determinism is total,
    // not probabilistic: the link is the RATIONAL sigmoid
    // 0.5 + 0.5·z/(1+|z|), so every step of feature → z → p → update is
    // a composition of single correctly-rounded IEEE ops (no exp — both
    // engines' libm would agree only to ~1 ULP) with identical
    // association on both engines, and cross-row sums go through the
    // fxsum fixed-point pattern; the oracle re-trains from scratch in
    // unrolled CTEs and must land on bitwise-equal weights. At 100 TB
    // the fixed-point gradient terms bound |Σ round(g·10⁶)| by
    // 10⁶·max|g|·rows — rescale the fxsum scale (or batch per shard)
    // past ~10¹² rows to stay inside a long.
    Q("txt_classifier_lr",
      (s, dir) => {
        val feats = lrFeatures(docs(s, dir)).materialize()
        val w = lrTrain(feats)
        feats.select(col("doc_id"), col("y").cast("long").as("label"),
          round(lrScore(w), 6).as("score"),
          (lrScore(w) >= 0.5).cast("long").as("pred"))
      },
      Some(s"""
        $lrOracleCtes
        SELECT doc_id, CAST(y AS BIGINT) AS label,
               round($lrPSql, 6) AS score,
               CAST($lrPSql >= 0.5 AS BIGINT) AS pred
        FROM zf""")),

    // ---- classifier evaluation: confusion counts + exact metrics ------------
    // txt_classifier_lr trains and scores but never reports quality; this
    // is the held-in evaluation every weak-label pipeline publishes next
    // to the model: the 2×2 confusion matrix and accuracy / precision /
    // recall as EXACT integer per-mille (the fixed-point discipline —
    // float ratios would hash-diverge across engines). One extra narrow
    // pass over the checkpointed features after the same K-step training
    // (the model is re-trained here because queries are self-contained by
    // contract; the loop is K map-side-combinable 1-row aggregates, so
    // the rerun costs K+1 scans, nothing data-sized on the driver). The
    // zero-denominator guards (greatest(·, 1)) keep the metrics total
    // on degenerate corpora — an all-negative corpus reports 0, not a
    // division error.
    Q("txt_classifier_eval",
      (s, dir) => {
        val feats = lrFeatures(docs(s, dir)).materialize()
        val w = lrTrain(feats)
        val conf = feats.select(col("y").cast("long").as("label"),
            (lrScore(w) >= 0.5).cast("long").as("pred"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum((col("label") === 1 && col("pred") === 1).cast("long"))
              .as("tp"),
            sum((col("label") === 0 && col("pred") === 1).cast("long"))
              .as("fp"),
            sum((col("label") === 1 && col("pred") === 0).cast("long"))
              .as("fn"),
            sum((col("label") === 0 && col("pred") === 0).cast("long"))
              .as("tn"))
        conf.select(col("n_docs"), col("tp"), col("fp"), col("fn"), col("tn"),
          call_function("div", (col("tp") + col("tn")) * 1000,
            greatest(col("n_docs"), lit(1L))).as("accuracy_milli"),
          call_function("div", col("tp") * 1000,
            greatest(col("tp") + col("fp"), lit(1L))).as("precision_milli"),
          call_function("div", col("tp") * 1000,
            greatest(col("tp") + col("fn"), lit(1L))).as("recall_milli"))
      },
      Some(s"""
        $lrOracleCtes,
        pred AS (
          SELECT CAST(y AS BIGINT) AS label,
                 CAST($lrPSql >= 0.5 AS BIGINT) AS pred
          FROM zf),
        conf AS (
          SELECT count(*) AS n_docs,
                 CAST(sum(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS tp,
                 CAST(sum(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS fp,
                 CAST(sum(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS fn,
                 CAST(sum(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS tn
          FROM pred)
        SELECT n_docs, tp, fp, fn, tn,
               CAST(((tp + tn) * 1000) // greatest(n_docs, 1) AS BIGINT)
                 AS accuracy_milli,
               CAST((tp * 1000) // greatest(tp + fp, 1) AS BIGINT)
                 AS precision_milli,
               CAST((tp * 1000) // greatest(tp + fn, 1) AS BIGINT)
                 AS recall_milli
        FROM conf""")),

    // ---- threshold-free ranking quality: exact AUC by rank sum -------------
    // txt_classifier_eval judges ONE operating point (0.5); AUC judges the
    // whole score ordering — the metric a quality-filter pipeline actually
    // tunes against before picking its keep-threshold. Computed EXACTLY on
    // the milli-quantized score grid (round(p·1000) ∈ [0,1000]): AUC of
    // the quantized classifier = (concordant + ties/2) / (pos·neg) pairs,
    // with concordant/tie counts read off a per-score histogram —
    // Σ_s pos_s·cumneg_{<s} and Σ_s pos_s·neg_s — so NO pairwise join and
    // no per-doc window ever exists. The prefix sum runs over the ≤1001-row
    // score histogram (value-domain-bounded, the ev_gini/q28 block
    // decomposition; PlanAuditSpec allowlists it on that argument). Pair
    // counts multiply two corpus-sized cardinalities, so the histogram-side
    // arithmetic is decimal(38,0) — at 10¹⁰ docs pos·neg ≈ 10¹⁹ overflows
    // BIGINT; the oracle's HUGEINT mirrors it — with every OUTPUT cast back
    // to BIGINT (auc_micro ≤ 10⁶ by construction, counts fixture-safe).
    Q("txt_classifier_auc",
      (s, dir) => {
        val feats = lrFeatures(docs(s, dir)).materialize()
        val w = lrTrain(feats)
        val dec = "decimal(38,0)"
        val hist = feats.select(col("y").cast("long").as("yy"),
            round(lrScore(w) * 1000).cast("long").as("s_milli"))
          .groupBy(col("s_milli"))
          .agg(sum(col("yy")).as("pos"),
            sum(lit(1L) - col("yy")).as("neg"))
        val wAsc = Window.orderBy(col("s_milli").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        hist
          .withColumn("cum_neg",
            coalesce(sum(col("neg")).over(wAsc), lit(0L)))
          .agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
            sum((col("pos") * col("cum_neg")).cast(dec)).as("conc"),
            sum((col("pos") * col("neg")).cast(dec)).as("ties"))
          // exact floor division in decimal space: decimal `/` rounds at
          // the result scale (a 0.9999995 quotient could round past the
          // floor DuckDB's `//` takes), so subtract the exact decimal
          // remainder first — the then-integral quotient is represented
          // exactly at any scale
          .withColumn("num",
            (lit(2L).cast(dec) * col("conc") + col("ties")) *
              lit(1000000L).cast(dec))
          .withColumn("den",
            greatest(lit(2L).cast(dec) * col("n_pos").cast(dec) *
              col("n_neg").cast(dec), lit(1L).cast(dec)))
          .select(col("n_pos"), col("n_neg"),
            col("conc").cast("long").as("concordant"),
            col("ties").cast("long").as("tied"),
            ((col("num") - col("num") % col("den")) / col("den"))
              .cast("long").as("auc_micro"))
      },
      Some(s"""
        $lrOracleCtes,
        sm AS (
          SELECT CAST(y AS BIGINT) AS yy,
                 CAST(round(($lrPSql) * 1000) AS BIGINT) AS s_milli
          FROM zf),
        hist AS (
          SELECT s_milli,
                 CAST(sum(yy) AS BIGINT) AS pos,
                 CAST(sum(1 - yy) AS BIGINT) AS neg
          FROM sm GROUP BY 1),
        cum AS (
          SELECT *, CAST(coalesce(sum(neg) OVER (ORDER BY s_milli ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_neg
          FROM hist),
        agg AS (
          SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
                 CAST(sum(neg) AS BIGINT) AS n_neg,
                 sum(CAST(pos AS HUGEINT) * CAST(cum_neg AS HUGEINT))
                   AS conc,
                 sum(CAST(pos AS HUGEINT) * CAST(neg AS HUGEINT)) AS ties
          FROM cum)
        SELECT n_pos, n_neg,
               CAST(conc AS BIGINT) AS concordant,
               CAST(ties AS BIGINT) AS tied,
               CAST((2 * conc + ties) * 1000000 //
                 greatest(2 * CAST(n_pos AS HUGEINT) *
                   CAST(n_neg AS HUGEINT), 1) AS BIGINT) AS auc_micro
        FROM agg""")),

    // ---- calibration / reliability card (10 fixed score deciles) -----------
    // The third leg of the classifier-evaluation tripod: eval judges a
    // threshold, AUC judges the ordering, calibration judges whether the
    // SCORES MEAN what they say — a filter that keeps "p ≥ 0.9" docs is
    // only as selective as its calibration. Ten FIXED score deciles
    // (milli div 100, top edge folded into bucket 9), per bucket the mean
    // predicted score vs the observed positive rate, both as exact
    // integer per-mille (observed − predicted gap = the reliability
    // diagram's vertical distance). Bins are the 100 FIXED centi-buckets
    // (milli div 10, top edge folded into bin 99) — the 100-bin ECE
    // convention, chosen over deciles because an under-dispersed
    // classifier (this one: scores hug the 0.46 band) collapses a decile
    // card to one row. One combinable aggregate over a compile-time-
    // bounded ≤100-row group key — no window, no second pass, the
    // cheapest query in the family at any corpus size.
    Q("txt_calibration",
      (s, dir) => {
        val feats = lrFeatures(docs(s, dir)).materialize()
        val w = lrTrain(feats)
        calibrationOf(feats.select(col("y").cast("long").as("yy"),
          round(lrScore(w) * 1000).cast("long").as("s_milli")))
      },
      Some(s"""
        $lrOracleCtes,
        sm AS (
          SELECT CAST(y AS BIGINT) AS yy,
                 CAST(round(($lrPSql) * 1000) AS BIGINT) AS s_milli
          FROM zf),
        b AS (
          SELECT yy, s_milli, least(s_milli // 10, 99) AS bucket FROM sm),
        g AS (
          SELECT bucket, count(*) AS n,
                 CAST(sum(yy) AS BIGINT) AS n_pos,
                 CAST(sum(s_milli) AS BIGINT) AS sum_s
          FROM b GROUP BY 1)
        SELECT bucket, n, n_pos,
               CAST(sum_s // n AS BIGINT) AS mean_score_milli,
               CAST((n_pos * 1000) // n AS BIGINT) AS pos_rate_milli,
               CAST(abs(sum_s // n - (n_pos * 1000) // n) AS BIGINT)
                 AS gap_milli
        FROM g""")),

    // ---- per-document character entropy (zero-shuffle quality signal) ------
    // The Gopher-family repetition signal txt_repetition doesn't carry:
    // Shannon entropy of the character distribution — near-zero for
    // degenerate docs ("aaaa…", padded exports), ~ln(alphabet) for
    // natural prose — computed WITHOUT the (doc, char) shuffle the naive
    // groupBy formulation pays (≈|alphabet| rows per doc across the
    // exchange at corpus scale). A document's characters already live in
    // ONE row, so the whole histogram is intra-row work: sort the char
    // array, then a single higher-order aggregate() fold walks the runs
    // accumulating Σ c·q(c) and the distinct count in one pass — the
    // plan is scan → project → filter with ZERO exchanges, like
    // txt_phrase_search. Exactness: H = ln n − Σ c·ln c / n with every
    // ln micro-quantized at source over exact integer counts (the
    // txt_bm25/q28 rule) and one non-negative integer div, so both
    // engines agree bit-for-bit; the oracle computes the same histogram
    // the relational way (unnest + GROUP BY — oracles need not scale).
    Q("txt_char_entropy",
      (s, dir) => charEntropy(s, docs(s, dir)),
      Some("""
        WITH ch AS (
          -- (?s) so '.' matches newline too: the Spark side (HOF split
          -- and the native kernel) counts EVERY code point, so the
          -- oracle must not silently drop '\n' (round-14 ADVICE fix —
          -- parity previously depended on the fixture being newline-free)
          SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS c
          FROM documents),
        g AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
        d AS (
          SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars_text,
                 CAST(count(*) AS BIGINT) AS n_distinct,
                 CAST(sum(cnt * CAST(round(ln(CAST(cnt AS DOUBLE)) *
                   1000000) AS BIGINT)) AS BIGINT) AS s
          FROM g GROUP BY 1)
        SELECT doc_id, n_chars_text, n_distinct,
               CAST(round(ln(CAST(n_chars_text AS DOUBLE)) * 1000000)
                 AS BIGINT) - s // n_chars_text AS ent_micro
        FROM d""")),

    // ---- collocation mining (PMI-ranked bigram association) ----------------
    // Top-20 bigrams by association LIFT = P(ab)/(P(a)P(b)) — kept as
    // exact integer milli-lift ((c_ab·T·1000) div (c_a·c_b)); PMI is
    // log2(lift), a monotone transform, so the RANKING is exactly the
    // PMI ranking while every score stays engine-portable integer
    // arithmetic (the txt_surprisal discipline). Plan shape: the two
    // count tables (unigram + bigram) are combinable aggregates; the
    // bigram total is a 1-row broadcast cross-join; the marginal joins
    // key on the word — at corpus scale both sides arrive hash-
    // partitioned on their join keys from the aggregates. min-count ≥ 5
    // is the standard noise floor, applied BEFORE the joins so rare
    // pairs never shuffle.
    Q("txt_collocations",
      (s, dir) => {
        val d = docs(s, dir)
        val uni = d.select(explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("c"))
        val bi = TextOps.explodedShingles(d, 2)
          .groupBy(col("shingle")).agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= 5)
          .crossJoin(broadcast(TextOps.explodedShingles(d, 2)
            .agg(count(lit(1)).as("t_pairs"))))
          .withColumn("w1", substring_index(col("shingle"), " ", 1))
          .withColumn("w2", substring_index(col("shingle"), " ", -1))
        bi.join(uni.select(col("token").as("w1"), col("c").as("c_a")), "w1")
          .join(uni.select(col("token").as("w2"), col("c").as("c_b")), "w2")
          .withColumn("lift_milli", call_function("div",
            (col("c_ab") * col("t_pairs")) * 1000,
            col("c_a") * col("c_b")))
          .select(col("shingle").as("bigram"), col("c_ab"), col("c_a"),
            col("c_b"), col("lift_milli"))
          .orderBy(col("lift_milli").desc, col("bigram").asc)
          .limit(20)
      },
      Some(s"""
        WITH uni AS (
          SELECT token, count(*) AS c
          FROM (SELECT unnest(tokens) AS token FROM (${DocSql.toksSql}))
          GROUP BY token),
        bi AS (
          SELECT shingle, count(*) AS c_ab,
                 CAST(sum(count(*)) OVER () AS BIGINT) AS t_pairs
          FROM (${DocSql.shinglesSql(2)})
          GROUP BY shingle)
        SELECT b.shingle AS bigram, b.c_ab, a1.c AS c_a, a2.c AS c_b,
               CAST(((b.c_ab * b.t_pairs) * 1000) // (a1.c * a2.c)
                 AS BIGINT) AS lift_milli
        FROM bi b
        JOIN uni a1 ON a1.token = split_part(b.shingle, ' ', 1)
        JOIN uni a2 ON a2.token = split_part(b.shingle, ' ', 2)
        WHERE b.c_ab >= 5
        ORDER BY lift_milli DESC, bigram ASC LIMIT 20""")),

    // ---- Zipf rank-frequency fit (the corpus-naturalness data card) --------
    // Natural language follows freq ∝ rank^s with s ≈ −1; machine-
    // generated or template-heavy corpora bend the curve, so the fitted
    // slope is a one-number corpus-health indicator next to txt_stats.
    // One combinable term-frequency aggregate, a TakeOrderedAndProject
    // cut to the top-ZipfTopN terms (the rank window then runs over the
    // model-sized shortlist — allowlisted global, the txt_rrf
    // discipline), and an exact-integer least-squares fold: ln(rank)
    // and ln(freq) are micro-quantized at source (round(ln·10⁶) — the
    // txt_bm25 rule: the only transcendentals in the lineage, quantized
    // immediately so libm last-ulp differences cannot surface), every
    // Σx/Σy/Σxx/Σxy is an exact long, and the slope is ONE mirrored
    // IEEE division over those exact integers.
    Q("txt_zipf",
      (s, dir) => {
        val tf = Tables.sharded(s, dir, "documents")
          .select(explode(TextOps.tokens(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("freq"))
        val top = tf.orderBy(col("freq").desc, col("term").asc)
          .limit(ZipfTopN)
        val w = Window.orderBy(col("freq").desc, col("term").asc)
        val xy = top
          .withColumn("rank", row_number().over(w).cast("long"))
          .select(
            round(log(col("rank").cast("double")) * 1000000).cast("long")
              .as("x"),
            round(log(col("freq").cast("double")) * 1000000).cast("long")
              .as("y"))
        xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("y")).as("sxy"))
          .withColumn("slope_e6",
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      },
      Some(s"""
        WITH tf AS (
          SELECT token AS term, count(*) AS freq
          FROM (SELECT unnest(tokens) AS token FROM (${DocSql.toksSql}))
          GROUP BY 1),
        top AS (
          SELECT term, freq FROM tf
          ORDER BY freq DESC, term ASC LIMIT $ZipfTopN),
        xy AS (
          SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT)
                   AS x,
                 CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT)
                   AS y
          FROM (SELECT freq, row_number() OVER
                  (ORDER BY freq DESC, term ASC) AS rank
                FROM top)),
        g AS (
          SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(x * y) AS BIGINT) AS sxy
          FROM xy)
        SELECT n, sx, sy, sxx, sxy,
               CAST(n * sxy - sx * sy AS DOUBLE) /
                 CAST(n * sxx - sx * sx AS DOUBLE) AS slope_e6
        FROM g""")),

    // ---- readability scoring (Flesch reading ease per language) ------------
    // The classic quality-filter feature txt_quality_filter's ratios
    // don't capture: sentence and word LENGTH structure. Flesch = 206.835
    // − 1.015·(words/sentences) − 84.6·(syllables/words), with the
    // standard text-side proxies — sentences = non-empty [.!?]+ segments
    // (txt_sentences' exact definition), syllables = vowel runs. One
    // narrow per-doc projection (sentence counting stays in column space
    // — no explode), then a per-language fxsum aggregate; the constants
    // mirror as e-suffixed DOUBLE literals (the dlit rule), so the mean
    // score itself is hash-gated.
    Q("txt_readability",
      (s, dir) => {
        val per = Tables.sharded(s, dir, "documents")
          .select(col("lang"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_words"),
            size(filter(transform(split(col("text"), "[.!?]+"),
              seg => size(TextOps.tokens(seg))), n => n > 0))
              .cast("long").as("n_sentences"),
            size(regexp_extract_all(lower(col("text")),
              lit("[aeiouy]+"), lit(0))).cast("long").as("n_syll"))
          .filter(col("n_words") > 0)
          .withColumn("flesch", lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") /
              greatest(col("n_sentences"), lit(1L)).cast("double")) -
            lit(84.6) * (col("n_syll").cast("double") /
              col("n_words").cast("double")))
        per.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            (Q.fxsum(col("flesch"), 6) / count(lit(1))).as("mean_flesch"),
            min(col("flesch")).as("min_flesch"),
            max(col("flesch")).as("max_flesch"))
      },
      Some(s"""
        WITH per AS (
          SELECT lang,
                 CAST(len(regexp_extract_all(lower(text),
                   '${TextOps.TokenRegex}')) AS BIGINT) AS n_words,
                 CAST(len(list_filter(
                   [CAST(len(regexp_extract_all(lower(seg),
                      '${TextOps.TokenRegex}')) AS BIGINT)
                    for seg in regexp_split_to_array(text, '[.!?]+')],
                   n -> n > 0)) AS BIGINT) AS n_sentences,
                 CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                   AS BIGINT) AS n_syll
          FROM documents),
        f AS (
          SELECT lang,
                 206.835e0 - 1.015e0 * (CAST(n_words AS DOUBLE) /
                   CAST(greatest(n_sentences, 1) AS DOUBLE))
                 - 84.6e0 * (CAST(n_syll AS DOUBLE) /
                   CAST(n_words AS DOUBLE)) AS flesch
          FROM per WHERE n_words > 0)
        SELECT lang, count(*) AS n_docs,
               ${Q.fxsumSql("flesch", 6)} / count(*) AS mean_flesch,
               min(flesch) AS min_flesch, max(flesch) AS max_flesch
        FROM f GROUP BY 1""")),

    // ---- token-budget planning under temperature weights -------------------
    // The question a pretraining-data plan answers before any job runs:
    // at these mixture weights, how many tokens does each source
    // contribute to a fixed training budget, and how many EPOCHS of the
    // source is that (epochs > 1 ⇒ the source repeats — the
    // repetition-vs-dilution knob)? Weights are the sqrt-temperature
    // mixture (txt_source_mix's discipline) computed on TOKEN counts;
    // one combinable per-source aggregate, the |sources|-row normalizing
    // window (model-sized global, allowlisted), and integer allocation:
    // allocated = floor(weight · budget), epochs_milli = (1000·allocated)
    // div n_tokens — the verdict table is bit-exact.
    Q("txt_token_budget",
      (s, dir) => {
        val budget = TokenBudget
        val w = Window.partitionBy()
        Tables.sharded(s, dir, "documents")
          .select(col("source"), size(TextOps.tokens(col("text")))
            .cast("long").as("n_toks"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
          .withColumn("sq",
            round(sqrt(col("n_tokens").cast("double") /
                sum(col("n_tokens")).over(w).cast("double")) *
              lit(1000000000L)).cast("long"))
          .withColumn("weight",
            col("sq").cast("double") / sum(col("sq")).over(w).cast("double"))
          .withColumn("allocated_tokens",
            floor(col("weight") * budget).cast("long"))
          .withColumn("epochs_milli", call_function("div",
            lit(1000L) * col("allocated_tokens"), col("n_tokens")))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("weight"), col("allocated_tokens"), col("epochs_milli"))
      },
      Some(s"""
        WITH a AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(len(regexp_extract_all(lower(text),
                   '${graft.text.TextOps.TokenRegex}'))) AS BIGINT)
                   AS n_tokens
          FROM documents GROUP BY 1),
        q AS (
          SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE) /
                      CAST(sum(n_tokens) OVER () AS DOUBLE)) * 1000000000)
                    AS BIGINT) AS sq
          FROM a),
        wts AS (
          SELECT *, CAST(sq AS DOUBLE) / CAST(sum(sq) OVER () AS DOUBLE)
                    AS weight
          FROM q)
        SELECT source, n_docs, n_tokens, weight,
               CAST(floor(weight * $TokenBudget) AS BIGINT)
                 AS allocated_tokens,
               (1000 * CAST(floor(weight * $TokenBudget) AS BIGINT))
                 // n_tokens AS epochs_milli
        FROM wts""")),

    // ---- RAKE keyphrase extraction (stopword-delimited phrase mining) ------
    // Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
    // phrases are maximal stopword-free token runs (the merged
    // lang-profile stopword set marks boundaries), scored by the sum of
    // their members' degree/frequency ratios — multi-word technical
    // phrases outrank common single words because degree rewards
    // co-occurrence inside long phrases. Plan shape: ONE positional
    // explode (bounded by the 512-token fixture invariant Verify
    // asserts), per-doc running-sum window for phrase ids, a per-phrase
    // length window (no join), one global word-stat aggregate, and a
    // TakeOrderedAndProject cut. All scoring is integer — score(w) =
    // (1000·deg) div freq summed per phrase — so the ranking and its
    // tie-breaks are bit-identical.
    Q("txt_keyphrase",
      (s, dir) => {
        val toks = Tables.sharded(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(TextOps.tokens(col("text"))).as(Seq("i", "token")))
        val byPos = Window.partitionBy(col("doc_id")).orderBy(col("i"))
          .rowsBetween(Window.unboundedPreceding, 0)
        // r19: materialized — wordScore, phraseText, and phraseScore all
        // consume `members`, and the planner ran the posexplode +
        // running-sum window lineage once PER consumer (three full
        // passes in the plan, no exchange reuse)
        val members = toks
          .withColumn("stop", col("token").isin(KeyphraseStop: _*))
          .withColumn("phrase_id",
            sum(when(col("stop"), 1L).otherwise(0L)).over(byPos))
          .filter(!col("stop"))
          .select(col("doc_id"), col("i"), col("token"), col("phrase_id"))
          .materialize()
        val wp = Window.partitionBy(col("doc_id"), col("phrase_id"))
        val withLen = members.withColumn("len", count(lit(1)).over(wp))
        val wordScore = withLen.groupBy(col("token"))
          .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
          .withColumn("score_w",
            call_function("div", lit(1000L) * col("deg"), col("freq")))
          .select(col("token"), col("score_w"))
        val phraseText = members.groupBy(col("doc_id"), col("phrase_id"))
          .agg(concat_ws(" ", transform(
            sort_array(collect_list(struct(col("i"), col("token")))),
            x => x.getField("token"))).as("phrase"))
        val phraseScore = members.join(wordScore, "token")
          .groupBy(col("doc_id"), col("phrase_id"))
          .agg(sum(col("score_w")).as("score_milli"))
        phraseText.join(phraseScore, Seq("doc_id", "phrase_id"))
          .groupBy(col("phrase"))
          .agg(count(lit(1)).as("n_occur"), max(col("score_milli"))
            .as("score_milli"))
          .orderBy(col("score_milli").desc, col("phrase").asc)
          .limit(KeyphraseTopN)
      },
      Some(s"""
        WITH pos AS (
          SELECT doc_id, g.i AS i, tokens[g.i] AS token
          FROM (${DocSql.toksSql}) t
          CROSS JOIN generate_series(1, 512) AS g(i)
          WHERE g.i <= len(tokens)),
        marked AS (
          SELECT doc_id, i, token,
                 token IN (${KeyphraseStop.map("'" + _ + "'").mkString(", ")})
                   AS stop
          FROM pos),
        members AS (
          SELECT doc_id, i, token, phrase_id FROM (
            SELECT doc_id, i, token, stop,
                   CAST(sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
                     PARTITION BY doc_id ORDER BY i
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS phrase_id
            FROM marked) WHERE NOT stop),
        withlen AS (
          SELECT *, count(*) OVER (PARTITION BY doc_id, phrase_id) AS len
          FROM members),
        ws AS (
          SELECT token,
                 (1000 * CAST(sum(len) AS BIGINT)) // count(*) AS score_w
          FROM withlen GROUP BY token),
        ptext AS (
          SELECT doc_id, phrase_id,
                 string_agg(token, ' ' ORDER BY i) AS phrase
          FROM members GROUP BY 1, 2),
        pscore AS (
          SELECT m.doc_id, m.phrase_id,
                 CAST(sum(ws.score_w) AS BIGINT) AS score_milli
          FROM members m JOIN ws ON ws.token = m.token
          GROUP BY 1, 2)
        SELECT t.phrase, count(*) AS n_occur,
               max(s.score_milli) AS score_milli
        FROM ptext t JOIN pscore s
          ON s.doc_id = t.doc_id AND s.phrase_id = t.phrase_id
        GROUP BY t.phrase
        ORDER BY score_milli DESC, phrase ASC LIMIT $KeyphraseTopN""")),

    // ---- winnowing fingerprint report (per-doc selection density) ----------
    // The per-doc card of the [[winnowedFps]] scheme: how many
    // fingerprints winnowing selected out of how many windows. The
    // density (per-mille of windows) is the operational number — it
    // predicts index size at corpus scale (expected ≈ 2/(w+1)) and a
    // doc whose density collapses is internally repetitive (few
    // distinct window mins), making this a quality signal too. Docs too
    // short for one full window appear with zeros — the dd_report
    // completeness rule — via a left join from the token ledger.
    Q("txt_winnowing",
      (s, dir) => {
        val d = docs(s, dir)
        val toks = d.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        val counts = winnowedFps(d).groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_fp"))
        toks.join(counts, Seq("doc_id"), "left")
          .withColumn("n_windows",
            greatest(col("n_tokens") - (WinnowK + WinnowW - 2), lit(0L)))
          .select(col("doc_id"), col("n_tokens"), col("n_windows"),
            coalesce(col("n_fp"), lit(0L)).as("n_fp"),
            call_function("div", coalesce(col("n_fp"), lit(0L)) * 1000,
              greatest(col("n_windows"), lit(1L))).as("fp_pm"))
      },
      Some(s"""
        WITH $winnowedFpsSql,
        tk AS (
          SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens
          FROM (${DocSql.toksSql})),
        c AS (SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY 1)
        SELECT tk.doc_id, tk.n_tokens,
               greatest(tk.n_tokens - ${WinnowK + WinnowW - 2}, 0)
                 AS n_windows,
               coalesce(c.n_fp, 0) AS n_fp,
               CAST((coalesce(c.n_fp, 0) * 1000) //
                 greatest(greatest(tk.n_tokens - ${WinnowK + WinnowW - 2},
                   0), 1) AS BIGINT) AS fp_pm
        FROM tk LEFT JOIN c USING (doc_id)""")),

    // ---- Jensen–Shannon divergence between language populations ------------
    // The corpus-comparison card: how far apart are two languages'
    // unigram distributions (0 = identical, ln 2 = disjoint)? JS needs
    // Σ p·ln(2p/(p+q)) over the vocabulary UNION, but the p=0 terms
    // collapse to (missing mass)·ln 2 — so only the SHARED tokens ever
    // join, and the union handling is two integer subtractions off the
    // per-language totals. Determinism: 2p/(p+q) = 2·n_a·N_b /
    // (n_a·N_b + n_b·N_a) is an exact integer ratio, its ln is
    // micro-quantized AT SOURCE (the txt_bm25 rule — qln2 = 693147
    // included), every sum is over exact longs, and only the final
    // per-pair normalization is two mirrored IEEE divisions. Plan: one
    // (lang, term) aggregate with a per-lang total window (materialized
    // — it is BOTH sides of the pair join), one term equi-join, one
    // pair aggregate over |langs|² rows.
    Q("txt_js_divergence",
      (s, dir) => {
        val dist = docs(s, dir)
          .select(col("lang"), explode(TextOps.tokens(col("text")))
            .as("term"))
          .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n"))
          .withColumn("tot",
            sum(col("n")).over(Window.partitionBy(col("lang"))))
          .materialize()
        val joined = dist.select(col("lang").as("lang_a"), col("term"),
            col("n").as("na"), col("tot").as("ta"))
          .join(dist.select(col("lang").as("lang_b"), col("term"),
            col("n").as("nb"), col("tot").as("tb")), "term")
          .filter(col("lang_a") < col("lang_b"))
          .withColumn("den", col("na") * col("tb") + col("nb") * col("ta"))
          .withColumn("qa", round(log((col("na") * col("tb") * 2)
            .cast("double") / col("den")) * 1000000).cast("long"))
          .withColumn("qb", round(log((col("nb") * col("ta") * 2)
            .cast("double") / col("den")) * 1000000).cast("long"))
        joined.groupBy(col("lang_a"), col("lang_b"))
          .agg(count(lit(1)).as("n_shared"),
            max(col("ta")).as("ta"), max(col("tb")).as("tb"),
            sum(col("na")).as("ma"), sum(col("nb")).as("mb"),
            sum(col("na") * col("qa")).as("sa"),
            sum(col("nb") * col("qb")).as("sb"))
          .select(col("lang_a"), col("lang_b"), col("n_shared"),
            col("ta"), col("tb"), col("ma"), col("mb"),
            (((col("sa") + (col("ta") - col("ma")) * 693147L)
              .cast("double") / col("ta") +
              (col("sb") + (col("tb") - col("mb")) * 693147L)
                .cast("double") / col("tb")) / 2.0).as("js_micro"))
      },
      Some(s"""
        WITH tok AS (
          SELECT lang, unnest(regexp_extract_all(lower(text),
            '${TextOps.TokenRegex}')) AS term
          FROM documents),
        dist AS (
          SELECT lang, term, count(*) AS n,
                 CAST(sum(count(*)) OVER (PARTITION BY lang) AS BIGINT)
                   AS tot
          FROM tok GROUP BY lang, term),
        j AS (
          SELECT a.lang AS lang_a, b.lang AS lang_b,
                 a.n AS na, b.n AS nb, a.tot AS ta, b.tot AS tb,
                 a.n * b.tot + b.n * a.tot AS den
          FROM dist a JOIN dist b
            ON b.term = a.term AND a.lang < b.lang),
        q AS (
          SELECT *,
                 CAST(round(ln(CAST(na * tb * 2 AS DOUBLE) / den)
                   * 1000000) AS BIGINT) AS qa,
                 CAST(round(ln(CAST(nb * ta * 2 AS DOUBLE) / den)
                   * 1000000) AS BIGINT) AS qb
          FROM j),
        g AS (
          SELECT lang_a, lang_b, count(*) AS n_shared,
                 max(ta) AS ta, max(tb) AS tb,
                 CAST(sum(na) AS BIGINT) AS ma,
                 CAST(sum(nb) AS BIGINT) AS mb,
                 CAST(sum(na * qa) AS BIGINT) AS sa,
                 CAST(sum(nb * qb) AS BIGINT) AS sb
          FROM q GROUP BY 1, 2)
        SELECT lang_a, lang_b, n_shared, ta, tb, ma, mb,
               (CAST(sa + (ta - ma) * 693147 AS DOUBLE) / ta +
                CAST(sb + (tb - mb) * 693147 AS DOUBLE) / tb) / 2.0
                 AS js_micro
        FROM g""")),

    // ---- population stability index (the corpus drift monitor) -------------
    // The ML-ops drift gate: PSI = Σ (p−q)·ln(p/q) between an old and a
    // new corpus snapshot (here the deterministic doc_id-parity halves —
    // swap in real snapshot frames unchanged) over document-length
    // buckets, with the industry 0.2 alarm threshold. Laplace +1
    // smoothing keeps one-sided buckets defined WITHOUT dropping them —
    // a bucket present only in the new snapshot is exactly the drift
    // PSI must see. Determinism: smoothed counts are integers, p/q =
    // n_a·T_b / (n_b·T_a) is an exact integer ratio (ln
    // micro-quantized at source), (p−q) scales to the integer
    // n_a·T_b − n_b·T_a, so the whole sum is a long and psi_micro is
    // two mirrored IEEE divisions. Plan: one conditional-count bucket
    // aggregate, totals as a window over the model-sized bucket table,
    // one single-row fold.
    Q("txt_drift_psi",
      (s, dir) => {
        val g = docs(s, dir)
          .select(expr("n_chars div 100").as("bucket"),
            (col("doc_id") % 2 === 0).as("is_old"))
          .groupBy(col("bucket"))
          .agg((sum(when(col("is_old"), 1L).otherwise(0L)) + 1L).as("n_a"),
            (sum(when(!col("is_old"), 1L).otherwise(0L)) + 1L).as("n_b"))
        val wAll = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        g.withColumn("ta", sum(col("n_a")).over(wAll))
          .withColumn("tb", sum(col("n_b")).over(wAll))
          .withColumn("qln", round(log(
            (col("n_a") * col("tb")).cast("double") /
              (col("n_b") * col("ta"))) * 1000000).cast("long"))
          .withColumn("term",
            (col("n_a") * col("tb") - col("n_b") * col("ta")) * col("qln"))
          .groupBy()
          .agg(count(lit(1)).as("n_buckets"),
            max(col("ta")).as("ta"), max(col("tb")).as("tb"),
            sum(col("term")).as("s"))
          .select(col("n_buckets"),
            (col("ta") - col("n_buckets")).as("n_old"),
            (col("tb") - col("n_buckets")).as("n_new"),
            (col("s").cast("double") / col("ta") / col("tb"))
              .as("psi_micro"),
            (col("s").cast("double") / col("ta") / col("tb") >
              lit(200000.0)).as("drifted"))
      },
      Some("""
        WITH b AS (
          SELECT n_chars // 100 AS bucket, doc_id % 2 = 0 AS is_old
          FROM documents),
        g AS (
          SELECT bucket,
                 CAST(sum(CASE WHEN is_old THEN 1 ELSE 0 END) + 1
                   AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN NOT is_old THEN 1 ELSE 0 END) + 1
                   AS BIGINT) AS n_b
          FROM b GROUP BY 1),
        t AS (
          SELECT *, CAST(sum(n_a) OVER () AS BIGINT) AS ta,
                 CAST(sum(n_b) OVER () AS BIGINT) AS tb
          FROM g),
        q AS (
          SELECT *,
                 CAST(round(ln(CAST(n_a * tb AS DOUBLE) / (n_b * ta))
                   * 1000000) AS BIGINT) AS qln
          FROM t),
        f AS (
          SELECT count(*) AS n_buckets, max(ta) AS ta, max(tb) AS tb,
                 CAST(sum((n_a * tb - n_b * ta) * qln) AS BIGINT) AS s
          FROM q)
        SELECT n_buckets, ta - n_buckets AS n_old, tb - n_buckets AS n_new,
               CAST(s AS DOUBLE) / ta / tb AS psi_micro,
               CAST(s AS DOUBLE) / ta / tb > 200000.0 AS drifted
        FROM f""")),

    // ---- Heaps'-law vocabulary growth fit (corpus-naturalness card #2) -----
    // txt_zipf fits the FREQUENCY law; Heaps fits the GROWTH law
    // V(N) ≈ K·N^β — the number a corpus curator reads to predict
    // tokenizer vocabulary size at 10× the data, and a naturalness
    // check (natural text: β ≈ 0.4–0.6; templated/duplicated corpora
    // collapse toward 0). The growth curve needs prefix vocabularies —
    // inherently a global order — but NEVER a global sort here: each
    // term's FIRST document (one vocab-sized min aggregate) makes
    // V(t) = #{terms: first_doc ≤ t}, and both V and N evaluate at 10
    // doc_id thresholds as conditional sums in ONE aggregate each (the
    // thresholds ride a 1-row broadcast max cross — the ev_rfm shape).
    // The log-log least-squares fold is txt_zipf's exact integer
    // discipline over the 10 stacked points.
    Q("txt_heaps",
      (s, dir) => {
        val nPts = 10
        val mx = docs(s, dir).agg(max(col("doc_id")).as("mx"))
        val tok = docs(s, dir).select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("term"))
        def thr(i: Int) = expr(s"($i * mx) div $nPts")
        val nCols = (1 to nPts).map(i =>
          sum(when(col("doc_id") <= thr(i), 1L).otherwise(0L)).as(s"n$i"))
        val nRow = tok.crossJoin(broadcast(mx))
          .groupBy().agg(nCols.head, nCols.tail: _*)
        val vCols = (1 to nPts).map(i =>
          sum(when(col("first_doc") <= thr(i), 1L).otherwise(0L))
            .as(s"v$i"))
        val vRow = tok.groupBy(col("term"))
          .agg(min(col("doc_id")).as("first_doc"))
          .crossJoin(broadcast(mx))
          .groupBy().agg(vCols.head, vCols.tail: _*)
        val pts = nRow.crossJoin(vRow)
          .select(expr(s"stack($nPts, " +
            (1 to nPts).map(i => s"n$i, v$i").mkString(", ") +
            ") AS (n_tok, v)"))
          .filter(col("n_tok") > 0 && col("v") > 0)
          .select(
            round(log(col("n_tok").cast("double")) * 1000000).cast("long")
              .as("x"),
            round(log(col("v").cast("double")) * 1000000).cast("long")
              .as("y"))
        pts.agg(count(lit(1)).as("n_points"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("y")).as("sxy"))
          .select(col("n_points"),
            ((col("n_points") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              (col("n_points") * col("sxx") - col("sx") * col("sx"))
                .cast("double")).as("beta_e6"))
      },
      Some(s"""
        WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        tok AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text),
            '${TextOps.TokenRegex}')) AS term
          FROM documents),
        nrow AS (
          SELECT g.i AS i,
                 CAST(sum(CASE WHEN t.doc_id <= (g.i * mx.mx) // 10
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_tok
          FROM tok t CROSS JOIN mx CROSS JOIN generate_series(1, 10) g(i)
          GROUP BY 1),
        tf AS (SELECT term, min(doc_id) AS first_doc FROM tok GROUP BY 1),
        vrow AS (
          SELECT g.i AS i,
                 CAST(sum(CASE WHEN f.first_doc <= (g.i * mx.mx) // 10
                          THEN 1 ELSE 0 END) AS BIGINT) AS v
          FROM tf f CROSS JOIN mx CROSS JOIN generate_series(1, 10) g(i)
          GROUP BY 1),
        pts AS (
          SELECT CAST(round(ln(CAST(n.n_tok AS DOUBLE)) * 1000000)
                   AS BIGINT) AS x,
                 CAST(round(ln(CAST(v.v AS DOUBLE)) * 1000000)
                   AS BIGINT) AS y
          FROM nrow n JOIN vrow v USING (i)
          WHERE n.n_tok > 0 AND v.v > 0),
        f AS (
          SELECT count(*) AS n_points,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(x * y) AS BIGINT) AS sxy
          FROM pts)
        SELECT n_points,
               CAST(n_points * sxy - sx * sy AS DOUBLE) /
                 CAST(n_points * sxx - sx * sx AS DOUBLE) AS beta_e6
        FROM f""")),

    // ---- add-1 bigram LM surprisal (the perplexity filter, upgraded) -------
    // txt_surprisal scores docs under a UNIGRAM model — blind to word
    // order, so shuffled gibberish scores like prose. The bigram model
    // with add-1 smoothing is the cheapest order-aware upgrade:
    // P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V). Surprisal terms are
    // ln((c₁+V)/(c₂+1)) — exact integer ratios, ln micro-quantized at
    // source, per-doc mean one non-negative div — the CCNet-style
    // "perplexity bucket" signal fully under the hash gate. Plan: one
    // bigram-count aggregate and one unigram-count aggregate (both
    // vocab-sized), the doc bigram stream equi-joined on those keys
    // (broadcast at this SF, shuffle-keyed at scale), V as a 1-row
    // broadcast cross.
    Q("txt_bigram_lm",
      (s, dir) => {
        // r18: ONE tokenize pass (was two — the unigram branch re-ran
        // the regex over the corpus), and the join/grouping keys are
        // xxhash64 compactions of the bigram/unigram strings, so the
        // shuffles and sort-merge compares carry longs instead of
        // strings; the DuckDB mirror joins the raw strings and agrees.
        // r19: the compaction is a 128-BIT pair (two independently
        // seeded xxhash64 columns — the posGramHashes128 budget), not
        // one 64-bit key: these hashes ARE the count-aggregate and
        // join keys, so a collision silently merges two n-grams'
        // counts and undercounts V — an OUTPUT-VALUE error, unlike a
        // candidate-gating hash. At the 100 TB design point (~10⁹-10¹⁰
        // distinct n-grams) one 64-bit key expects birthday collisions
        // with probability ~n²/2⁶⁵ (a few percent); the 128-bit pair
        // puts that at ~10⁻¹⁸ — "identical results for any
        // collision-free hash" holds w.h.p. again, for 8 extra bytes
        // per key on the wire.
        val toked = docs(s, dir)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .materialize() // feeds the bigram AND unigram branches
        val big = toked.select(col("doc_id"),
          explode(TextOps.shingles(col("toks"), 2)).as("bg"))
          .select(col("doc_id"), col("bg"),
            split(col("bg"), " ").getItem(0).as("w1"))
          .select(col("doc_id"),
            xxhash64(col("bg")).as("bh1"),
            xxhash64(lit("b2"), col("bg")).as("bh2"),
            xxhash64(col("w1")).as("uh1"),
            xxhash64(lit("u2"), col("w1")).as("uh2"))
          .materialize() // feeds the count pass AND the scoring join
        val c2 = big.groupBy(col("bh1"), col("bh2"))
          .agg(count(lit(1)).as("c2"))
        val c1 = toked.select(explode(col("toks")).as("w1"))
          .select(xxhash64(col("w1")).as("uh1"),
            xxhash64(lit("u2"), col("w1")).as("uh2"))
          .groupBy(col("uh1"), col("uh2")).agg(count(lit(1)).as("c1"))
        val vsize = c1.agg(count(lit(1)).as("v"))
        big
          .join(c2, Seq("bh1", "bh2")).join(c1, Seq("uh1", "uh2"))
          .crossJoin(broadcast(vsize))
          .withColumn("q", round(log(
            (col("c1") + col("v")).cast("double") / (col("c2") + 1)) *
            1000000).cast("long"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sq"))
          .select(col("doc_id"), col("n_bigrams"),
            call_function("div", col("sq"), col("n_bigrams"))
              .as("surprisal_micro"))
      },
      Some(s"""
        WITH big AS (${DocSql.shinglesSql(2)}),
        c2 AS (SELECT shingle AS bg, count(*) AS c2 FROM big GROUP BY 1),
        uni AS (
          SELECT unnest(regexp_extract_all(lower(text),
            '${TextOps.TokenRegex}')) AS w1
          FROM documents),
        c1 AS (SELECT w1, count(*) AS c1 FROM uni GROUP BY 1),
        vs AS (SELECT count(DISTINCT w1) AS v FROM uni),
        scored AS (
          SELECT b.doc_id,
                 CAST(round(ln(CAST(c1.c1 + vs.v AS DOUBLE) /
                   (c2.c2 + 1)) * 1000000) AS BIGINT) AS q
          FROM big b
          JOIN c2 ON c2.bg = b.shingle
          JOIN c1 ON c1.w1 = split_part(b.shingle, ' ', 1)
          CROSS JOIN vs),
        g AS (
          SELECT doc_id, count(*) AS n_bigrams,
                 CAST(sum(q) AS BIGINT) AS sq
          FROM scored GROUP BY 1)
        SELECT doc_id, n_bigrams,
               CAST(sq // n_bigrams AS BIGINT) AS surprisal_micro
        FROM g""")),

    // ---- language-ID evaluation (confusion matrix over the fixture) --------
    // txt_classifier_eval's discipline applied to the langid heuristic:
    // the fixture carries ground-truth `lang`, so the voting predictor
    // gets a confusion matrix and per-language cell rates instead of an
    // eyeballed "looks right". The prediction chain REPEATS txt_langid's
    // exact priority-ordered argmax over the same `profiles` constant
    // (single-sourced — a profile edit moves both queries together).
    // One (doc, lang) vote aggregate, one (lang, pred) confusion
    // aggregate, row totals as a window over the ≤ |langs|²+1 matrix.
    Q("txt_langid_eval",
      (s, dir) => {
        val sums = profiles.map { case (l, ws) =>
          sum(when(inList(col("token"), ws), 1L).otherwise(0L)).as(s"s_$l")
        }
        val scored = tokenRows(s, dir)
          .groupBy(col("doc_id"), col("lang"))
          .agg(sums.head, sums.tail: _*)
        val Seq(en, de, es, fr) = profiles.map(p => col(s"s_${p._1}"))
        val conf = scored.select(col("lang"),
            when(en === 0 && de === 0 && es === 0 && fr === 0, "und")
              .when(en >= de && en >= es && en >= fr, "en")
              .when(de >= es && de >= fr, "de")
              .when(es >= fr, "es")
              .otherwise("fr").as("pred_lang"))
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
        conf
          .withColumn("n_lang", sum(col("n")).over(
            Window.partitionBy(col("lang"))))
          .select(col("lang"), col("pred_lang"), col("n"), col("n_lang"),
            call_function("div", col("n") * 1000, col("n_lang"))
              .as("cell_pm"))
      },
      Some {
        val sums = profiles.map { case (l, ws) =>
          s"CAST(sum(CASE WHEN token IN ${sqlList(ws)} THEN 1 ELSE 0 END) AS BIGINT) AS s_$l"
        }.mkString(", ")
        s"""
        WITH tok AS (
          SELECT doc_id, lang, unnest(tokens) AS token
          FROM (${DocSql.toksSql})),
        sc AS (SELECT doc_id, lang, $sums FROM tok GROUP BY doc_id, lang),
        pred AS (
          SELECT lang,
                 CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0
                        THEN 'und'
                      WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
                        THEN 'en'
                      WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                      WHEN s_es >= s_fr THEN 'es'
                      ELSE 'fr' END AS pred_lang
          FROM sc),
        conf AS (
          SELECT lang, pred_lang, count(*) AS n
          FROM pred GROUP BY 1, 2)
        SELECT lang, pred_lang, n,
               CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
               CAST((n * 1000) //
                 CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT)
                 AS BIGINT) AS cell_pm
        FROM conf"""
      }),

    // ---- corpus-driven stopword discovery (the list behind the lists) ------
    // RAKE, langid, and the quality filters all consume stopword LISTS —
    // this op derives one from the corpus instead of a hardcoded
    // constant: a stopword is a term in nearly every document
    // (df per-mille) AND spread across every language (a term universal
    // to one language's docs but absent elsewhere is a topic word, not
    // glue). One (token → df, n_langs, cf) aggregate — df/n_langs are
    // two-phase distinct counts — a 1-row broadcast doc total for the
    // per-mille, TakeOrdered top-20. The discovered list's coverage of
    // the curated profiles is spec-checked.
    Q("txt_stopword_discovery",
      (s, dir) => {
        val tot = docs(s, dir).agg(count(lit(1)).as("n_docs"))
        tokenRows(s, dir)
          .groupBy(col("token"))
          .agg(countDistinct(col("doc_id")).as("df"),
            countDistinct(col("lang")).as("n_langs"),
            count(lit(1)).as("cf"))
          .crossJoin(broadcast(tot))
          .select(col("token"), col("df"), col("n_langs"), col("cf"),
            call_function("div", col("df") * 1000, col("n_docs"))
              .as("df_pm"),
            (col("n_langs") === profiles.length + 1).as("is_universal"))
          .orderBy(col("df").desc, col("token").asc)
          .limit(20)
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, lang, unnest(tokens) AS token
          FROM (${DocSql.toksSql})),
        tot AS (SELECT count(*) AS n_docs FROM documents),
        g AS (
          SELECT token, count(DISTINCT doc_id) AS df,
                 count(DISTINCT lang) AS n_langs, count(*) AS cf
          FROM tok GROUP BY 1)
        SELECT token, df, n_langs, cf,
               CAST((df * 1000) // tot.n_docs AS BIGINT) AS df_pm,
               n_langs = ${profiles.length + 1} AS is_universal
        FROM g CROSS JOIN tot
        ORDER BY df DESC, token ASC LIMIT 20"""))
  )
}
