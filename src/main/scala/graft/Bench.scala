package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{DecimalNode, JsonNodeFactory,
  ObjectNode}

/** Driver-run benchmark: every SparkEntry query timed against
  * SPARK_GRAFT_SF_DIR, one JSON line to stdout AND to bench_out.json
  * (sbt prefixes stdout with [info], so the file is the machine-readable
  * channel the driver parses).
  *
  * Each query is materialized through the noop sink — a full write-path
  * materialization of every row and column — rather than `.count()`, under
  * which Catalyst legally prunes unreferenced expensive expressions
  * (collect_list/sort_array/transform in the ref_* queries) and the timing
  * becomes fiction. One untimed warmup pass amortizes JVM/codegen/classload
  * cost out of the first measured query. Failures are recorded per-query
  * and fail the process: a broken query must never bench as "fast".
  *
  * The first timed pass also counts each query's Spark work
  * ([[Counters]]: jobs, stages, tasks, executor run/CPU time, shuffle,
  * spill and input bytes) into bench_out.json's `counters`; a subset run
  * (SPARK_GRAFT_ONLY) also prints each query's costliest stages to stderr.
  * Counters do not drift with the host, so they answer structural
  * questions (did a query gain a job or a shuffle?) that wall time cannot.
  *
  * Both outputs are written through Jackson's tree model. Bench only
  * measures and reports: it reads no stored numbers, so its output
  * depends on the code, the fixtures and its environment variables alone.
  */
object Bench {

  private val Json = new ObjectMapper()
  private val F = JsonNodeFactory.instance

  private def obj(fields: (String, JsonNode)*): ObjectNode = {
    val o = F.objectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, v) }
    o
  }

  private def strings(xs: Iterable[String]): JsonNode = {
    val a = F.arrayNode()
    xs.foreach(a.add)
    a
  }

  private def render(node: JsonNode): String = Json.writeValueAsString(node)

  /** Sorted-midpoint median (even sizes interpolate). */
  private def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.get(shmDir = Some("graft-bench"))
    val cpus = spark.sparkContext.defaultParallelism

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // SPARK_GRAFT_OUT_PREFIX namespaces the output file: scripts/bench_sf1.sh
    // benches the Headline set at two scales (sf01_bench_out.json,
    // sf1_bench_out.json) and reads its scaling exponent off the pair, so
    // neither run may overwrite the other or a plain bench_out.json.
    val prefix = sys.env.getOrElse("SPARK_GRAFT_OUT_PREFIX", "")
    val outPath = Paths.get(s"${prefix}bench_out.json")
    // a crash below must never leave a previous run's results parseable
    Files.deleteIfExists(outPath)

    // dev affordance: SPARK_GRAFT_ONLY=q1_agg,dd_jaccard benches a subset;
    // SPARK_GRAFT_HEADLINE=1 benches the fixed per-family Headline set
    // (the scaling mode, scripts/bench_sf1.sh). A subset run also prints
    // each query's costliest stages to stderr.
    val only = sys.env.get("SPARK_GRAFT_ONLY").orElse(
      if (sys.env.contains("SPARK_GRAFT_HEADLINE"))
        Some(Headline.mkString(",")) else None)
    val names = only match {
      case Some(list) => list.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      case None       => SparkEntry.queries.keys.toSeq.sorted
    }
    // warmup: every query once untimed. Failures are swallowed HERE ONLY —
    // the timed pass records them in the errors array; an unguarded warmup
    // would kill the process before any JSON is written.
    names.foreach(n => try materialize(n) catch { case _: Throwable => () })

    var failed = List.empty[String]
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try materialize(name)
      catch {
        case e: Throwable =>
          if (!failed.contains(name)) failed ::= name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // N FULL timed passes, interleaved, min per query: this host shows
    // multi-second wall-time bursts uncorrelated with the engine (idle CPU,
    // zero full GCs during them — hypervisor neighbors), and a burst
    // outlasts back-to-back samples of one query. Rounds 5↔6 measured ±5×
    // per-query swings on byte-identical code, so a single sample is
    // unfalsifiable. Interleaving the passes puts samples ~30s apart, so
    // the min measures the engine, not the neighbor; the emitted
    // median/spread per query lets a reader tell a real regression (tight
    // spread, min moved) from noise (spread ≫ min). Failures still fail
    // the run. The first pass also counts each query's Spark work; the
    // counters' fence job runs after `once` has stopped its clock.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(3).max(1)
    val counted = names.map(n => n -> Counters.during(spark)(once(n))).toMap
    val later = (2 to passes).map(_ => names.map(n => n -> once(n)).toMap)
    val samples = names.map(n => n -> (counted(n)._1 +: later.map(_(n)))).toMap
    val ok = names.filterNot(failed.contains).map(n => n -> samples(n).min)
    if (only.nonEmpty) ok.foreach { case (n, _) =>
      val (t, c) = counted(n)
      System.err.println(f"[bench] $n%s  first pass=$t%.3f s  " +
        s"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks}\n${c.table}")
    }
    val total = ok.map(_._2).sum
    // per-query dispersion: min is the headline; median and spread
    // (= max-min, the burst amplitude this run) let a same-host A/B tell
    // a real slowdown (a moved min with a small spread) from noise.
    val json = obj("metric" -> F.textNode("total"),
      "value" -> F.numberNode(total), "unit" -> F.textNode("sec"),
      "queries" -> obj(ok.map { case (k, v) => k -> F.numberNode(v) }: _*),
      "variance" -> obj(ok.map { case (k, _) =>
        val xs = samples(k)
        k -> obj("min" -> F.numberNode(xs.min),
          "median" -> F.numberNode(medianOf(xs)),
          "spread" -> F.numberNode(xs.max - xs.min))
      }: _*),
      "passes" -> F.numberNode(passes), "errors" -> strings(failed),
      "sf" -> F.textNode(sfDir), "cpus" -> F.numberNode(cpus),
      "counters" -> obj(ok.map { case (k, _) =>
        k -> obj(counted(k)._2.fields.map { case (f, v) =>
          f -> F.numberNode(v) }: _*)
      }: _*))
    Files.writeString(outPath, render(json) + "\n")
    // The driver captures only the TAIL (~2 KB) of stdout: the full
    // per-query line above is ~25 KB, so its head — and with it the
    // {"metric": prefix the parser keys on — fell outside the window in
    // rounds 10–12 and BENCH_r*.json recorded "parsed": null each time.
    // stdout therefore carries a COMPACT summary line (same metric/value
    // plus a fixed per-family headline subset at 3 decimals, bounded
    // ≤ ~1 KB by BenchLineSpec) as the LAST print; bench_out.json stays
    // the full-resolution channel.
    println(compactLine(total, ok, failed, passes, sfDir,
      s"${prefix}bench_out.json"))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Representative per-family subset for the compact stdout line: the
    * historically most expensive query of each family plus the flagship
    * relational/reference shapes. Fixed by name (not by this run's
    * ranking) so the driver's per-round numbers are comparable.
    */
  private[graft] val Headline: Seq[String] = Seq(
    "q1_agg", "q25_profile", "q27_bloom_join",
    "dd_lsh_sweep", "dd_clean_corpus", "dd_minhash_lsh", "dd_exact",
    // r16: dd_substring joins the scaling set — the 50-token rolling-
    // hash dedup is the text family's likeliest hidden super-linear term
    "dd_substring",
    "er_report", "er_entities", "er_pairs",
    "sim_ivfpq", "sim_mmr",
    "txt_bigram_lm", "txt_bm25",
    "ev_sessionize", "ev_asof_native",
    // r17: the fleet's most expensive floor after the er/dd capstones
    // and the only headline-class ITERATIVE query — pointer-doubling
    // components under convergence, the shape most likely to go
    // super-linear if a round's join stops reusing the edge layout
    "dd_clusters_converged",
    "mm_audio_clusters", "mm_asset_dedup",
    // r16: the DF-capped inverted-index video alignment — the structure
    // most likely to hide a super-linear term under a hot frame-hash
    "mm_video_neardup",
    "dq_expectations",
    "ref_crop_video", "ref_tfrecord_roundtrip")

  private[graft] def compactLine(total: Double, ok: Seq[(String, Double)],
      failed: Seq[String], passes: Int, sfDir: String,
      detail: String = "bench_out.json"): String = {
    // 3 decimals, trailing zeros kept ("1.000"), as a JSON number
    def r3(v: Double): JsonNode = DecimalNode.valueOf(new java.math.BigDecimal(
      "%.3f".formatLocal(java.util.Locale.ROOT, v)))
    val byName = ok.toMap
    render(obj("metric" -> F.textNode("total"), "value" -> r3(total),
      "unit" -> F.textNode("sec"),
      "queries" -> obj(Headline.filter(byName.contains)
        .map(n => n -> r3(byName(n))): _*),
      "n_queries" -> F.numberNode(ok.size), "passes" -> F.numberNode(passes),
      "errors" -> strings(failed), "detail" -> F.textNode(detail),
      "sf" -> F.textNode(sfDir)))
  }
}
