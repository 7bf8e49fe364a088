package graft.queries

import graft.{Q, Tables}
import graft.ops.Materialize._
import graft.warc.{RobotsRules, WarcIO}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Web-archive ingestion — the front door of a crawl-scale training
  * pipeline: documents round-trip through REAL WARC containers (ISO
  * 28500, the Common Crawl format; one gzip member per record, the
  * splittable convention) written distributively and read back through
  * the `warc` DataSource V2 table (sources.WarcSource — payload
  * pruning into the reader, warc_type pushdown, listing-level filename
  * pruning). Every query reconstructs its expectation from the
  * `documents` parquet in DuckDB, so byte fidelity, pruned-scan
  * aggregates, and the HTML→text extraction all hash-gate.
  *
  * The corpus wrap is deliberately deterministic: a fixed HTML template
  * around `text`, a fixed WARC-Date, URIs keyed by doc_id — the oracle
  * rebuilds the exact same string, and md5 ties the two ends together.
  */
object Web {

  private[graft] val Shards = 4
  private[graft] val FixedDate = "2026-01-01T00:00:00Z"

  /** URIs spread docs across `Hosts` deterministic vhosts — the
    * per-host frontier card needs host variety, and a real crawl's URI
    * space is exactly this shape. doc_id stays extractable from the
    * path tail, so host choice is invisible to the roundtrip queries.
    */
  private[graft] val Hosts = 7

  /** Politeness budget: URLs fetched from one host per scheduling
    * round — the frontier card's unit of crawl time.
    */
  private[graft] val PoliteBatch = 50

  /** The crawler's product token for robots evaluation. */
  private[graft] val CrawlerAgent = "graftbot"

  /** Deterministic per-host robots.txt bodies (hosts not listed publish
    * none): h0 the classic allow-all idiom (empty Disallow), h3 a
    * blanket `*` disallow of /doc/, h5 an agent-SPECIFIC group whose
    * Allow/Disallow pair exercises longest-match — plus a decoy `*`
    * blanket that must LOSE to the exact-agent group.
    */
  private[graft] val RobotsBodies: Map[Int, String] = Map(
    0 -> "User-agent: *\nDisallow:\n",
    3 -> "# staging host\nUser-agent: *\nDisallow: /doc/\n",
    5 -> ("User-agent: " + CrawlerAgent + "\nAllow: /doc/1\n" +
      "Disallow: /doc/\n\nUser-agent: *\nDisallow: /\n"))

  /** warcinfo payload every shard file leads with (WARC convention:
    * file-level metadata record). Fixed bytes → oracle-computable.
    */
  private[graft] val WinfoPayload =
    "software: graft-warc/1.0\r\nformat: WARC file version 1.1\r\n"

  private val HtmlPre = "<html><head><title>doc "
  private val HtmlMid = "</title></head><body><p>"
  private val HtmlPost = "</p></body></html>"

  /** The html wrap as a Spark column over (doc_id, text). */
  private def htmlCol =
    concat(lit(HtmlPre), col("doc_id").cast("string"),
      lit(HtmlMid), col("text"), lit(HtmlPost))

  /** The SAME wrap in DuckDB (BIGINT || VARCHAR concatenation prints
    * the integer without a decimal point, matching the Spark cast).
    */
  private val htmlSql =
    s"'$HtmlPre' || doc_id || '$HtmlMid' || text || '$HtmlPost'"

  /** Deterministic status for the HTTP-response corpus: a sprinkle of
    * 404s keyed off doc_id (Common Crawl responses are NOT all 200 —
    * the census and the extraction filter must handle that).
    */
  private val StatusSqlExpr =
    "CASE WHEN doc_id % 10 = 3 THEN '404' ELSE '200' END"
  private def statusCol =
    when(col("doc_id") % 10 === 3, "404").otherwise("200")

  /** The HTTP/1.1 envelope around the html body — WARC-Type `response`
    * records store the full protocol message (the actual Common Crawl
    * shape), so readers must parse the envelope to reach the content.
    */
  private def httpCol =
    concat(lit("HTTP/1.1 "), statusCol, lit(" OK\r\nContent-Type: "),
      lit("text/html\r\nX-Doc: "), col("doc_id").cast("string"),
      lit("\r\n\r\n"), htmlCol)

  /** The SAME envelope in DuckDB (escape-free string literals: CRLF
    * spelled chr(13)||chr(10)).
    */
  private val httpSql = {
    val crlf = "chr(13) || chr(10)"
    s"'HTTP/1.1 ' || $StatusSqlExpr || ' OK' || $crlf ||" +
      s" 'Content-Type: text/html' || $crlf ||" +
      s" 'X-Doc: ' || doc_id || $crlf || $crlf || ($htmlSql)"
  }

  /** One corpus per (sfDir, flavor) per session: the queries re-running
    * under bench passes must not regenerate (and leak) a fresh temp
    * corpus each execution (round-14 ADVICE fix). Only the default
    * docsOverride is cacheable — an override's output is caller-defined.
    */
  private val corpusCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Boolean, Boolean),
      String]()
  private val corpusDirs =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
  locally { // best-effort temp hygiene: delete generated corpora at exit
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      corpusDirs.forEach { d =>
        try {
          val root = java.nio.file.Paths.get(d)
          if (java.nio.file.Files.exists(root))
            java.nio.file.Files.walk(root)
              .sorted(java.util.Comparator.reverseOrder())
              .forEach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Throwable => () }
      }))
  }

  /** Write the documents table as a `Shards`-file `.warc.gz` corpus
    * under a fresh temp dir and return the dir. Distributed write
    * (foreachPartition, one file per partition — empty partitions still
    * write their warcinfo-only shard, so the file count is exactly
    * `Shards`, never data-dependent); one gzip member per record.
    * `http = true` wraps each payload in the HTTP/1.1 envelope as a
    * WARC-Type `response` record (the Common Crawl shape); `false`
    * writes bare html `resource` records.
    *
    * Commit protocol: each task writes a task-attempt-unique temp file
    * and atomically renames into place on success, so a speculative or
    * retried duplicate attempt can never interleave bytes into a live
    * shard — last rename wins with a complete file either way (the
    * FileOutputCommitter v2 discipline, on the local FS). This fixture
    * generator is local-mode by design (executors share the driver
    * filesystem on local[k]); a cluster deployment would keep the same
    * attempt-temp + rename protocol on a shared Hadoop FS.
    */
  /** Stable default-override marker: eta-expanding `identity` allocates
    * a fresh lambda per call, so reference equality needs one shared
    * instance to compare against.
    */
  private val DefaultDocs: DataFrame => DataFrame = df => df

  private[graft] def writeCorpus(s: SparkSession, dir: String,
      http: Boolean = false, robots: Boolean = false,
      docsOverride: DataFrame => DataFrame = DefaultDocs): String =
    if (docsOverride eq DefaultDocs) { // cache only the default
      // check-then-publish with putIfAbsent, NOT computeIfAbsent: the
      // mapping function runs a whole Spark write job, and
      // computeIfAbsent would hold the map's bin lock for its full
      // duration — blocking unrelated keys that hash to the same bin
      // and breaking (IllegalStateException/deadlock) on any
      // re-entrant call (r15 ADVICE fix). The race this admits is a
      // concurrent duplicate generation of one corpus: the loser's
      // temp dir is unreferenced and already registered in
      // `corpusDirs`, so the shutdown hook reclaims it.
      val key = (dir, http, robots)
      val hit = corpusCache.get(key)
      if (hit != null) hit
      else {
        val fresh = writeCorpusUncached(s, dir, http, robots, DefaultDocs)
        val prior = corpusCache.putIfAbsent(key, fresh)
        if (prior == null) fresh else prior
      }
    } else writeCorpusUncached(s, dir, http, robots, docsOverride)

  private def writeCorpusUncached(s: SparkSession, dir: String,
      http: Boolean, robots: Boolean,
      docsOverride: DataFrame => DataFrame): String = {
    val out = java.nio.file.Files.createTempDirectory("graft_warc").toString
    corpusDirs.add(out)
    val date = FixedDate
    val hosts = Hosts
    val winfo = WinfoPayload
    val robotsBodies = if (robots) RobotsBodies else Map.empty[Int, String]
    val (wtype, ctype) =
      if (http) ("response", "application/http; msgtype=response")
      else ("resource", "text/html")
    docsOverride(Tables(s, dir, "documents"))
      .select(col("doc_id"), (if (http) httpCol else htmlCol).as("body"))
      .repartition(Shards, col("doc_id"))
      .foreachPartition { (it: Iterator[Row]) =>
        val tc = org.apache.spark.TaskContext.get()
        val pid = tc.partitionId()
        val f = f"$out/part-$pid%05d.warc.gz"
        // attempt-unique temp + atomic rename = the task-commit protocol
        // (a speculative duplicate writes its own temp; renames are
        // whole-file atomic, so the shard is never interleaved/corrupt).
        // The temp KEEPS the .warc.gz suffix (writeFile selects gzip
        // framing by suffix) and is dot-prefixed (the Hadoop hidden-file
        // convention) so a dead attempt's leftover is never listed.
        val tmp =
          f"$out/.part-$pid%05d-attempt${tc.taskAttemptId()}.warc.gz"
        val head = Iterator(WarcIO.WarcRecord("warcinfo", "", date,
          "application/warc-fields",
          winfo.length.toLong,
          winfo.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        // shard 0 additionally carries the per-host robots.txt records
        val robo =
          if (pid != 0) Iterator.empty
          else robotsBodies.iterator.map { case (h, bodyStr) =>
            val b = bodyStr.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            WarcIO.WarcRecord("resource",
              s"http://h$h.corpus.local/robots.txt", date,
              "text/plain", b.length.toLong, b)
          }
        val body = it.map { r =>
          val b = r.getString(1)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          WarcIO.WarcRecord(wtype,
            s"http://h${r.getLong(0) % hosts}.corpus.local" +
              s"/doc/${r.getLong(0)}", date,
            ctype, b.length.toLong, b)
        }
        // idSeed = the FINAL shard name, not the attempt-unique temp:
        // ids (and so shard bytes) stay deterministic across retries,
        // while per-shard warcinfo leads id apart across shards
        WarcIO.writeFile(tmp, head ++ robo ++ body,
          idSeed = f"part-$pid%05d")
        java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
          java.nio.file.Paths.get(f),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    out
  }

  private def readCorpus(s: SparkSession, dir: String,
      http: Boolean = false): DataFrame =
    s.read.format("warc").load(writeCorpus(s, dir, http))

  /** web_host_frontier's per-host reduction over the warc records —
    * every column a commutative, combinable aggregate over the host
    * key, so the card folds map-side and its exchange
    * carries at most one row per host per map task, at any corpus size
    * (≤|hosts| rows after the partial aggregate).
    * Host parses from the WARC header's uri; payload never touched.
    */
  private def hostAgg(records: DataFrame): DataFrame =
    records
      .filter(col("warc_type") === "resource")
      .select(
        regexp_extract(col("target_uri"), "^http://([^/]+)/", 1)
          .as("host"),
        col("content_length"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"),
        sum(col("content_length")).as("total_bytes"))

  def qs: Seq[Q] = Seq(

    // ---- WARC byte-fidelity roundtrip --------------------------------------
    // Documents → distributed .warc.gz write → DSv2 read with the
    // warc_type filter PUSHED (warcinfo payloads skip unallocated) →
    // per-doc md5 over the payload BYTES vs DuckDB's md5 over the
    // reconstructed string — the whole container stack (writer framing,
    // gzip members, header parse, payload extraction) hash-gated.
    Q("web_warc_roundtrip",
      (s, dir) => readCorpus(s, dir)
        .filter(col("warc_type") === "resource")
        .select(
          regexp_extract(col("target_uri"), "doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("content_length"),
          md5(col("payload")).as("payload_md5")),
      Some(s"""
        WITH h AS (SELECT doc_id, $htmlSql AS html FROM documents)
        SELECT doc_id, CAST(strlen(html) AS BIGINT) AS content_length,
               md5(html) AS payload_md5
        FROM h""")),

    // ---- pruned-scan census -------------------------------------------------
    // The type/length census a crawl audit starts with — payload is
    // never requested, so the reader skips every payload byte
    // (WarcSourceSpec proves the counter); the aggregate sees exactly
    // the record headers. Oracle rebuilds both strata from documents +
    // the fixed warcinfo constants.
    Q("web_warc_stats",
      (s, dir) => readCorpus(s, dir)
        .groupBy(col("warc_type"), col("content_type"))
        .agg(count(lit(1)).as("n_records"),
          sum(col("content_length")).as("total_bytes"),
          min(col("content_length")).as("min_bytes"),
          max(col("content_length")).as("max_bytes")),
      Some(s"""
        WITH h AS (SELECT doc_id, $htmlSql AS html FROM documents)
        SELECT 'resource' AS warc_type, 'text/html' AS content_type,
               count(*) AS n_records,
               CAST(sum(strlen(html)) AS BIGINT) AS total_bytes,
               CAST(min(strlen(html)) AS BIGINT) AS min_bytes,
               CAST(max(strlen(html)) AS BIGINT) AS max_bytes
        FROM h
        UNION ALL
        SELECT 'warcinfo', 'application/warc-fields',
               CAST($Shards AS BIGINT),
               CAST(${Shards * WinfoPayload.length} AS BIGINT),
               CAST(${WinfoPayload.length} AS BIGINT),
               CAST(${WinfoPayload.length} AS BIGINT)""")),

    // ---- HTTP response census ----------------------------------------------
    // WARC-Type `response` records carry the full HTTP/1.1 message
    // (the actual Common Crawl shape) — the status census every crawl
    // audit starts with. The status parses out of the payload's first
    // line with one anchored regex in the scan projection; everything
    // aggregates combinably on the ≤|statuses| key.
    Q("web_http_status",
      (s, dir) => readCorpus(s, dir, http = true)
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("payload").cast("string"),
            "^HTTP/1\\.1 ([0-9]{3}) ", 1).as("status"),
          col("content_length"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("content_length")).as("total_bytes")),
      Some(s"""
        WITH h AS (
          SELECT doc_id, $StatusSqlExpr AS status, $httpSql AS msg
          FROM documents)
        SELECT status, count(*) AS n,
               CAST(sum(strlen(msg)) AS BIGINT) AS total_bytes
        FROM h GROUP BY status""")),

    // ---- HTTP body extraction ----------------------------------------------
    // Envelope parsing: split the message at the FIRST blank line
    // (header/body boundary), keep 200s only, and fingerprint the body
    // — which must be byte-identical to the html the oracle rebuilds
    // directly from documents. The X-Doc header doubles as an
    // integrity cross-check on the envelope parse.
    Q("web_http_extract",
      (s, dir) => readCorpus(s, dir, http = true)
        .filter(col("warc_type") === "response")
        .select(col("target_uri"),
          col("payload").cast("string").as("msg"))
        .select(col("target_uri"),
          regexp_extract(col("msg"), "^HTTP/1\\.1 ([0-9]{3}) ", 1)
            .as("status"),
          regexp_extract(col("msg"), "\\r\\nX-Doc: ([0-9]+)\\r\\n", 1)
            .cast("long").as("hdr_doc_id"),
          expr("substring(msg, instr(msg, '\r\n\r\n') + 4)").as("body"))
        .filter(col("status") === "200")
        .select(
          regexp_extract(col("target_uri"), "doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("hdr_doc_id"),
          length(col("body")).cast("long").as("body_chars"),
          md5(col("body").cast("binary")).as("body_md5")),
      Some(s"""
        WITH h AS (SELECT doc_id, $htmlSql AS html FROM documents)
        SELECT doc_id, doc_id AS hdr_doc_id,
               CAST(length(html) AS BIGINT) AS body_chars,
               md5(html) AS body_md5
        FROM h WHERE doc_id % 10 <> 3""")),

    // ---- per-host crawl frontier (politeness scheduling card) ---------------
    // The card a crawler's scheduler reads: per-host URL counts and
    // byte mass from a PRUNED warc scan (host parses out of the WARC
    // header's target URI — no payload byte is ever touched), plus the
    // politeness arithmetic — at PoliteBatch URLs per fetch round, how
    // many rounds does each host take, and which host gates the crawl
    // (share per-mille vs the 1-row total, the dq_freshness cross).
    Q("web_host_frontier",
      (s, dir) => {
        val perHost = hostAgg(readCorpus(s, dir))
          .materialize() // two consumers: rows + the 1-row total
        val total = perHost.agg(sum(col("n_urls")).as("t"))
        perHost.crossJoin(total)
          .select(col("host"), col("n_urls"), col("total_bytes"),
            expr(s"(n_urls + ${PoliteBatch - 1}) div $PoliteBatch")
              .as("fetch_rounds"),
            expr("(n_urls * 1000) div t").as("share_pm"))
      },
      Some(s"""
        WITH u AS (
          SELECT 'h' || (doc_id % $Hosts) || '.corpus.local' AS host,
                 strlen($htmlSql) AS len
          FROM documents),
        ph AS (
          SELECT host, count(*) AS n_urls,
                 CAST(sum(len) AS BIGINT) AS total_bytes
          FROM u GROUP BY 1),
        t AS (SELECT CAST(sum(n_urls) AS BIGINT) AS t FROM ph)
        SELECT host, n_urls, total_bytes,
               (n_urls + ${PoliteBatch - 1}) // $PoliteBatch
                 AS fetch_rounds,
               (n_urls * 1000) // t AS share_pm
        FROM ph CROSS JOIN t""")),

    // ---- CDX-style archive index --------------------------------------------
    // The web-archive random-access index (the CDX convention): one row
    // per record with a SURT urlkey — host components REVERSED
    // (local,corpus,h3)/path — so one host's records collate together
    // under a plain lexicographic sort regardless of subdomain depth, a
    // 14-digit timestamp, and the payload digest. Urlkey derives from
    // the WARC header uri with array ops (split → reverse → join); the
    // digest is the one column that needs payload bytes. At archive
    // scale the index materializes via repartitionByRange(urlkey) +
    // sortWithinPartitions — range-partitioned sorted shards, binary-
    // searchable per shard, never a single global sort.
    Q("web_cdx_index",
      (s, dir) => readCorpus(s, dir)
        .filter(col("warc_type") === "resource")
        .select(col("target_uri"), col("content_length"), col("payload"))
        .select(
          concat(
            concat_ws(",", reverse(split(
              regexp_extract(col("target_uri"), "^http://([^/]+)/", 1),
              "\\."))),
            lit(")"),
            regexp_extract(col("target_uri"), "^http://[^/]+(/.*)$", 1))
            .as("urlkey"),
          lit("20260101000000").as("ts14"),
          md5(col("payload")).as("digest"),
          col("content_length").as("rec_bytes")),
      Some(s"""
        WITH h AS (SELECT doc_id, $htmlSql AS html FROM documents)
        SELECT 'local,corpus,h' || (doc_id % $Hosts) || ')/doc/' || doc_id
                 AS urlkey,
               '20260101000000' AS ts14,
               md5(html) AS digest,
               CAST(strlen(html) AS BIGINT) AS rec_bytes
        FROM h""")),

    // ---- robots.txt compliance gate -----------------------------------------
    // The compliance half of the crawl-ops trio (frontier, robots,
    // index): per-host robots.txt records parsed with the REAL RFC 9309
    // group parser (warc/RobotsRules — agent-specific groups beat `*`,
    // longest prefix wins, ties to Allow, empty Disallow = allow-all),
    // then every doc URL gated distributively: the ≤|hosts|×|rules|
    // rules table (model-sized — robots bodies are the one thing a
    // crawler legitimately holds in memory) broadcast-joins the URL
    // stream, a per-URL max(struct(prefix_len, allow)) applies
    // longest-match-ties-to-Allow as a plain combinable aggregate, and
    // the per-host card rolls up. Oracle: the planted bodies reduce to
    // closed forms (h3 blanket-blocked; h5 blocked unless the path
    // starts /doc/1 — the exact-agent group beats its decoy `*`
    // blanket; h0's empty Disallow and the robots-less hosts allow).
    Q("web_robots_gate",
      (s, dir) => {
        import s.implicits._
        val corpus = s.read.format("warc")
          .load(writeCorpus(s, dir, robots = true))
          .filter(col("warc_type") === "resource")
        // model-sized: one body per publishing host
        val rules = corpus
          .filter(col("target_uri").endsWith("/robots.txt"))
          .select(
            regexp_extract(col("target_uri"), "^http://([^/]+)/", 1)
              .as("host"),
            col("payload").cast("string").as("body"))
          .as[(String, String)].collect()
          .flatMap { case (host, body) =>
            RobotsRules.parse(body, CrawlerAgent).map(r =>
              (host, r.prefix, r.prefix.length.toLong,
                if (r.allow) 1L else 0L))
          }.toSeq.toDF("host", "prefix", "plen", "r_allow")
        val urls = corpus
          .filter(!col("target_uri").endsWith("/robots.txt"))
          .select(
            regexp_extract(col("target_uri"), "^http://([^/]+)/", 1)
              .as("host"),
            regexp_extract(col("target_uri"), "^http://[^/]+(/.*)$", 1)
              .as("path"))
        // RFC 9309 pattern semantics ('*'/'$'/percent-normalization)
        // via the same kernel the driver-side parser uses; a UDF is
        // acceptable here because it runs only inside the broadcast
        // join against the model-sized rules table, never over a
        // shuffled pair space
        val ruleMatch = udf((pat: String, path: String) =>
          RobotsRules.ruleMatches(pat, path))
        urls
          .join(broadcast(rules),
            urls("host") === rules("host") &&
              ruleMatch(col("prefix"), col("path")), "left")
          .groupBy(urls("host").as("host"), col("path"))
          .agg(max(struct(col("plen"), col("r_allow"))).as("best"))
          .select(col("host"),
            coalesce(col("best.r_allow"), lit(1L)).as("allow"))
          .groupBy(col("host"))
          .agg(count(lit(1)).as("n_urls"),
            sum(lit(1L) - col("allow")).as("n_blocked"))
          .select(col("host"), col("n_urls"), col("n_blocked"),
            expr("(n_blocked * 1000) div n_urls").as("blocked_pm"))
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, 'h' || (doc_id % $Hosts) || '.corpus.local'
                   AS host,
                 CASE WHEN doc_id % $Hosts = 3 THEN 1
                      WHEN doc_id % $Hosts = 5 AND
                           NOT (CAST(doc_id AS VARCHAR) LIKE '1%') THEN 1
                      ELSE 0 END AS blocked
          FROM documents)
        SELECT host, count(*) AS n_urls,
               CAST(sum(blocked) AS BIGINT) AS n_blocked,
               (CAST(sum(blocked) AS BIGINT) * 1000) // count(*)
                 AS blocked_pm
        FROM d GROUP BY host""")),

    // ---- crawl snapshot delta (re-crawl economics) ---------------------------
    // Two crawl GENERATIONS of the same URL space diffed by content
    // digest — the card that prices a re-crawl: how many URLs vanished,
    // how many pages actually changed (must re-process), how many are
    // byte-identical (skip). Generation B deterministically drops every
    // 11th doc and edits every 5th, so the oracle is closed-form. Per
    // side one digest projection; ONE full-outer merge on the URL key
    // (the only exchange that matters — it carries uri + 32-char digest,
    // never payloads); status classification and the ≤4-row rollup are
    // free. At 100 TB this is exactly the shape: digests travel,
    // content never does.
    Q("web_crawl_delta",
      (s, dir) => {
        def side(d: DataFrame, tag: String): DataFrame = d
          .filter(col("warc_type") === "resource")
          .select(col("target_uri").as(s"uri_$tag"),
            md5(col("payload")).as(s"dig_$tag"))
        val a = side(readCorpus(s, dir), "a")
        val b = side(s.read.format("warc").load(writeCorpus(s, dir,
          docsOverride = d => d.filter(col("doc_id") % 11 =!= 0)
            .withColumn("text",
              when(col("doc_id") % 5 === 0,
                concat(col("text"), lit(" [rev2]")))
                .otherwise(col("text"))))), "b")
        a.join(b, a("uri_a") === b("uri_b"), "full_outer")
          .select(
            when(col("uri_a").isNull, "added")
              .when(col("uri_b").isNull, "removed")
              .when(col("dig_a") =!= col("dig_b"), "changed")
              .otherwise("unchanged").as("status"))
          .groupBy(col("status")).agg(count(lit(1)).as("n_urls"))
      },
      Some(s"""
        SELECT CASE WHEN doc_id % 11 = 0 THEN 'removed'
                    WHEN doc_id % 5 = 0 THEN 'changed'
                    ELSE 'unchanged' END AS status,
               count(*) AS n_urls
        FROM documents GROUP BY 1""")),

    // ---- HTML → text extraction --------------------------------------------
    // The ingestion step itself: strip tags (the txt_boilerplate
    // regex discipline), retokenize, and fingerprint the extracted
    // text — proving WARC payloads flow back into the SAME token
    // stream the text family computes on documents directly.
    Q("web_extract_text",
      (s, dir) => readCorpus(s, dir)
        .filter(col("warc_type") === "resource")
        .select(
          regexp_extract(col("target_uri"), "doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          regexp_replace(col("payload").cast("string"),
            "<[^>]*>", " ").as("stripped"))
        .select(col("doc_id"),
          size(graft.text.TextOps.tokens(col("stripped")))
            .cast("long").as("n_tokens"),
          md5(col("stripped").cast("binary")).as("text_md5")),
      Some(s"""
        WITH h AS (SELECT doc_id, $htmlSql AS html FROM documents),
        x AS (
          SELECT doc_id,
                 regexp_replace(html, '<[^>]*>', ' ', 'g') AS stripped
          FROM h)
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(stripped),
                 '${graft.text.TextOps.TokenRegex}')) AS BIGINT)
                 AS n_tokens,
               md5(stripped) AS text_md5
        FROM x"""))
  )
}
