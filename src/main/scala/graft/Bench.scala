package graft

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{DecimalNode, JsonNodeFactory,
  ObjectNode}

import scala.jdk.CollectionConverters._

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
  * Every artifact is read and written through Jackson's tree model.
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

  private def read(path: Path): Option[JsonNode] =
    if (Files.exists(path)) Some(Json.readTree(path.toFile)) else None

  /** The numeric members of a JSON object (none for any other node). */
  private def numbers(node: JsonNode): Seq[(String, Double)] =
    node.properties.asScala.toSeq.collect {
      case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble
    }

  /** Suspect-list sentinel for the fleet-median warning — double
    * underscores keep it outside every legal query name.
    */
  private[graft] val FleetSentinel = "__fleet_median__"

  /** bench_trend.json payload: each current per-query min against the best
    * prior recorded min (bench_baseline.json), so regressions self-report
    * instead of waiting for a human diff of round artifacts. `ratio_milli`
    * is an integer per-mille (current·1000 ÷ best, floor) — exact integer
    * arithmetic, no float-format drift across JVMs.
    *
    * NOISE-ROBUST two-run confirmation: a single full run on this host
    * still flags ~30 byte-identical queries at 1.5× (the hypervisor
    * bursts outlast even min-of-3 interleaved passes — round 9's trend
    * list was pure noise), so one run's threshold breach is only a
    * `suspect`. `regressed` = suspects that were ALSO suspect in the
    * PREVIOUS independent bench run at the same sf (`priorSuspects`,
    * read from the last bench_trend.json before it is overwritten).
    * Noise is ~independent across runs, so the intersection of two
    * noise sets is empty w.h.p., while a real slowdown breaches both
    * runs and confirms. Queries with no baseline are listed as new,
    * never as suspects.
    *
    * Evidence is PER QUERY, not per file: a prior suspect that this run
    * did not measure (a dev SPARK_GRAFT_ONLY subset) is carried forward
    * in the written `suspects` list instead of being silently cleared —
    * a standing full-run flag awaits a measurement that refutes it, it
    * is never washed out by benching a disjoint subset. Only a query
    * measured in BOTH runs can confirm as `regressed`.
    */
  private[graft] def trendJson(cur: Seq[(String, Double)],
      base: Map[String, Double], priorSuspects: Set[String] = Set.empty,
      sf: String = "", thresholdMilli: Long = 1500L,
      fullSurface: Boolean = true): String = {
    val rows = cur.sortBy(_._1).map { case (name, min) =>
      base.get(name) match {
        case Some(b) if b > 0 =>
          val milli = (min * 1000 / b).toLong
          (name, obj("min" -> F.numberNode(min),
            "best_prior" -> F.numberNode(b),
            "ratio_milli" -> F.numberNode(milli)), Some(milli))
        case _ => (name, obj("min" -> F.numberNode(min)), None)
      }
    }
    val measured = cur.map(_._1).toSet
    // FLEET-RELATIVE threshold: a sustained host-noise window inflates
    // every query about uniformly (observed twice in round 11: full runs
    // with median ratio ~1.45 flagged 40 byte-identical queries across
    // two consecutive runs — the two-run intersection cannot help when
    // both runs sit inside one noise window). The run's median ratio IS
    // its environment factor; only a breach beyond median×threshold is
    // code signal. Applied only to FULL-SURFACE runs with ≥30 baselined
    // queries: a dev subset's median could be dominated by a genuinely
    // regressed family, so subsets keep the absolute threshold — and
    // `fullSurface` is threaded from main (SPARK_GRAFT_ONLY unset), not
    // inferred from size, so a ≥30-query biased subset can neither
    // median-normalize itself nor touch the fleet verdict below.
    val flagging = flag(cur, base, thresholdMilli, fullSurface)
    val fullRun = flagging.fullRun
    val medianMilli = flagging.medianMilli
    val suspectNames = flagging.suspects.map(_._1).sorted
    // The fleet-relative threshold's blind spot: a UNIFORM real
    // regression (a global config / Spark-version change slowing every
    // query ~1.8×) raises the median and flags nothing. Surface it: a
    // full run whose MEDIAN itself breaches the absolute threshold is
    // fleet-suspect, and two consecutive fleet-suspect full runs
    // confirm as `fleet_regressed` — the same two-run discipline as
    // per-query suspects, carried between runs via the `fleet_suspect`
    // field ([[readPriorSuspects]] surfaces it as [[FleetSentinel]] in
    // the prior set; the suspects array itself stays per-query). A
    // quiet full run clears the flag; a subset run carries the prior
    // verdict unchanged (it says nothing about the fleet).
    val fleetSuspect =
      if (fullRun) medianMilli >= thresholdMilli
      else priorSuspects(FleetSentinel)
    val fleetRegressed = fullRun && medianMilli >= thresholdMilli &&
      priorSuspects(FleetSentinel)
    // carry unmeasured queries' standing evidence; a measured query's
    // suspicion is exactly this run's verdict
    val persisted =
      (suspectNames ++ (priorSuspects - FleetSentinel -- measured)).sorted
    val improved = rows.collect {
      case (n, _, Some(m)) if m * thresholdMilli <= 1000L * 1000L =>
        n // ratio ≤ 1/threshold, the symmetric win
    }
    render(obj("threshold_milli" -> F.numberNode(thresholdMilli),
      "sf" -> F.textNode(sf),
      "median_ratio_milli" -> F.numberNode(medianMilli),
      "threshold_eff_milli" -> F.numberNode(flagging.effThreshold),
      "fleet_suspect" -> F.booleanNode(fleetSuspect),
      "fleet_regressed" -> F.booleanNode(fleetRegressed),
      "regressed" -> strings(suspectNames.filter(priorSuspects)),
      "suspects" -> strings(persisted),
      "improved" -> strings(improved),
      "new" -> strings(rows.collect { case (n, _, None) => n }),
      "queries" -> obj(rows.map { case (n, row, _) => n -> row }: _*)))
  }

  private[graft] def effectiveThreshold(thresholdMilli: Long,
      medianMilli: Long): Long =
    math.max(thresholdMilli,
      thresholdMilli * math.max(medianMilli, 1000L) / 1000L)

  /** ONE home for the flagging pipeline (ratio → fleet median → effective
    * threshold → suspects): trendJson's artifact fields and main's
    * auto-adjudication target set both read THIS, so they cannot drift —
    * a probe that adjudicates a different suspect set than the trend
    * reports would defeat its purpose.
    */
  private[graft] final case class Flagging(fullRun: Boolean,
      medianMilli: Long, effThreshold: Long,
      suspects: Seq[(String, Long)])

  private[graft] def flag(cur: Seq[(String, Double)],
      base: Map[String, Double], thresholdMilli: Long = 1500L,
      fullSurface: Boolean = true): Flagging = {
    val ratios = cur.flatMap { case (n, v) =>
      base.get(n).filter(_ > 0).map(b => n -> (v * 1000 / b).toLong)
    }
    val fullRun = fullSurface && ratios.size >= 30
    val medianMilli =
      if (fullRun) { val s = ratios.map(_._2).sorted; s(s.size / 2) }
      else 1000L
    val eff = effectiveThreshold(thresholdMilli, medianMilli)
    Flagging(fullRun, medianMilli, eff,
      ratios.filter(_._2 >= eff).sortBy(-_._2))
  }

  /** This run's newly-flagged suspects, worst first — [[flag]]'s
    * suspect list, the set main auto-adjudicates (r15 verdict task 4).
    */
  private[graft] def freshSuspects(cur: Seq[(String, Double)],
      base: Map[String, Double], thresholdMilli: Long = 1500L,
      fullSurface: Boolean = true): Seq[(String, Long)] =
    flag(cur, base, thresholdMilli, fullSurface).suspects

  /** The suspect adjudication rule as a pure function (spec-pinned):
    * the window's environment factor is the median control
    * ratio-to-floor; a suspect whose fresh re-measured ratio divided by
    * that factor still breaches 2.0× is CONFIRMed as code, anything
    * less is the window. Returns the probe artifact JSON.
    *
    * Two r17 hardenings (r16 verdict task 2 + ADVICE):
    *  - The divisor is clamped at 1.0 — env normalization exists to
    *    excuse a SLOW window, never to amplify: unclamped, controls
    *    running 0.85× their floors would convert a raw 1.8× suspect
    *    into a 2.12× CONFIRM that never breached 2× raw.
    *  - A poisoned floor cannot convert a quiet window into a false
    *    code ruling: r16's freak run admitted ref_crop_video /
    *    web_extract_text floors at 0.60×/0.42× their honest values, and
    *    floor-ratio-only adjudication would have CONFIRMed the next
    *    normal measurement in any env≈1.0 window. CONFIRM therefore
    *    requires BOTH adj ≥ 2.0 against the floor AND fresh ≥ 1.5× the
    *    query's trailing-window MEDIAN (`trailingMedians`, from
    *    bench_history.json) — a freak min moves the floor but not the
    *    median, so the second test refuses the phantom. A query with no
    *    median history (new this window) falls back to the floor rule
    *    alone.
    */
  private[graft] def adjudicationJson(
      suspects: Seq[(String, Double, Double)], // (name, freshMin, floor)
      controlRatios: Seq[Double], sf: String,
      probeErrors: Seq[String] = Nil,
      trailingMedians: Map[String, Double] = Map.empty): String = {
    val sortedCtl = controlRatios.sorted
    val env =
      if (sortedCtl.isEmpty) 1.0 else sortedCtl(sortedCtl.size / 2)
    // the CONFIRM rule is evaluated ONCE per suspect; the top-level
    // verdict counts these same rows, so the two can never disagree
    val judged = suspects.map { case (n, fresh, floor) =>
      val raw = if (floor > 0) fresh / floor else 0.0
      val adj = raw / math.max(env, 1.0)
      val medRatio = trailingMedians.get(n).filter(_ > 0).map(fresh / _)
      val confirm = adj >= 2.0 && medRatio.forall(_ >= 1.5)
      val row = obj("fresh_min" -> F.numberNode(fresh),
        "floor" -> F.numberNode(floor),
        "raw_milli" -> F.numberNode((raw * 1000).toLong),
        "adj_milli" -> F.numberNode((adj * 1000).toLong))
      medRatio.foreach(m => row.put("ratio_to_trailing_median_milli",
        (m * 1000).toLong))
      row.put("verdict", if (confirm) "CONFIRM" else "clear")
      (n, row, confirm)
    }
    // a probe with failures cannot claim all-clear: the failed query's
    // verdict is UNKNOWN, not clear
    val verdict =
      if (judged.exists(_._3)) "CONFIRMED"
      else if (probeErrors.nonEmpty) "probe-errors"
      else "all-clear"
    render(obj("sf" -> F.textNode(sf),
      "env_factor_milli" -> F.numberNode((env * 1000).toLong),
      "n_controls" -> F.numberNode(controlRatios.size),
      "probe_errors" -> strings(probeErrors),
      "verdict" -> F.textNode(verdict),
      "suspects" -> obj(judged.map { case (n, row, _) => n -> row }: _*)))
  }

  /** Previous run's suspect set from the bench_trend.json about to be
    * overwritten — the other half of the two-run confirmation. Prior
    * evidence only counts when the previous run recorded the SAME sf
    * (a dev subset run at another scale says nothing about this one);
    * a file with NO sf key — a legacy format, or hand-edited — is no
    * evidence at all rather than evidence about every sf. The standing
    * fleet-median verdict rides along as [[FleetSentinel]].
    */
  private[graft] def readPriorSuspects(path: Path, sf: String): Set[String] =
    read(path).filter(t => Option(t.get("sf")).exists(_.asText == sf))
      .fold(Set.empty[String]) { t =>
        val perQuery = t.path("suspects").asScala.map(_.asText).toSet
        if (t.path("fleet_suspect").asBoolean) perQuery + FleetSentinel
        else perQuery
      }

  /** bench_baseline.json → per-query best prior min (its `queries`). */
  private[graft] def readBaseline(path: Path): Map[String, Double] =
    read(path).fold(Map.empty[String, Double])(t =>
      numbers(t.path("queries")).toMap)

  /** The floors a run on `cpus` cores over the fixtures in `sfDir` may
    * be compared with: the baseline's, when it records the same `cpus`
    * and an `sf` equal to `sfDir`'s last path segment, else none. Floors
    * set on 32 cores say nothing about a 4-core run, floors set at sf0.1
    * nothing about an sf0.01 run, and a baseline that states no core
    * count or no sf says nothing about any run.
    */
  private[graft] def floorsAt(path: Path, cpus: Int,
      sfDir: String): Map[String, Double] = {
    val sf = Option(Paths.get(sfDir).getFileName).fold("")(_.toString)
    if (sf.nonEmpty && read(path).exists(t =>
        t.path("cpus").asInt(-1) == cpus && t.path("sf").asText("") == sf))
      readBaseline(path)
    else Map.empty
  }

  /** bench_history.json → per-query samples across the trailing window's
    * FULL runs: `runs[*].queries` only, so the probe-provenance samples
    * (fold_baseline.py --fold-probe) never leak into the medians they
    * exist to cross-check, and no metadata key is read as a sample.
    */
  private[graft] def readHistory(path: Path): Map[String, Seq[Double]] =
    read(path).fold(Map.empty[String, Seq[Double]])(t =>
      t.path("runs").asScala.toSeq.flatMap(r => numbers(r.path("queries")))
        .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2) })

  /** Sorted-midpoint median (even sizes interpolate) — ONE home, used
    * by both [[trailingMedians]] and main's volatility top-up.
    */
  private[graft] def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-query MEDIAN over the trailing window — the poisoned-floor
    * cross-check [[adjudicationJson]] confirms against: a single freak
    * sample can move a min-folded floor but never the window median.
    */
  private[graft] def trailingMedians(path: Path): Map[String, Double] =
    readHistory(path).map { case (n, xs) => n -> medianOf(xs) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.get(shmDir = Some("graft-bench"))
    val cpus = spark.sparkContext.defaultParallelism

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // SPARK_GRAFT_OUT_PREFIX namespaces the output artifacts (e.g. the
    // sf1.0 scaling mode writes sf1_bench_out.json) so an off-scale run
    // never clobbers the sf0.1 trend chain — bench_trend.json carries
    // the STANDING two-run suspect evidence, which an overwrite at
    // another sf would silently wipe.
    val prefix = sys.env.getOrElse("SPARK_GRAFT_OUT_PREFIX", "")
    val outPath = Paths.get(s"${prefix}bench_out.json")
    val trendPath = Paths.get(s"${prefix}bench_trend.json")
    val probePath = Paths.get(s"${prefix}probe_adjudication.json")
    // prior suspects feed the two-run regression confirmation — read
    // BEFORE the delete below discards the previous run's evidence
    val priorSuspects = readPriorSuspects(trendPath, sfDir)
    // a crash below must never leave a previous run's results parseable
    // (nor may a run that SKIPS the probe leave the previous run's
    // adjudication verdict looking current)
    Files.deleteIfExists(outPath)
    Files.deleteIfExists(trendPath)
    Files.deleteIfExists(probePath)
    // floors measured on another core count or sf are no evidence either
    // way: every query is then `new`, and nothing is topped up or probed
    val floors = floorsAt(Paths.get("bench_baseline.json"), cpus, sfDir)

    // dev affordance: SPARK_GRAFT_ONLY=q1_agg,dd_jaccard benches a subset.
    // Full-surface status is decided HERE (the env var's absence), not
    // re-inferred downstream from a ≥30-query heuristic a biased subset
    // could satisfy — only a genuinely full run may median-normalize or
    // confirm/clear the standing fleet verdict in trendJson.
    // SPARK_GRAFT_HEADLINE=1 benches the fixed per-family Headline set
    // (the sf1.0 scaling mode, scripts/bench_sf1.sh) — a subset, so it
    // never median-normalizes or touches the fleet verdict either.
    val only = sys.env.get("SPARK_GRAFT_ONLY").orElse(
      if (sys.env.contains("SPARK_GRAFT_HEADLINE"))
        Some(Headline.mkString(",")) else None)
    val fullSurface = only.isEmpty
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
    val samples: Map[String, Seq[Double]] = {
      val perPass = counted.map { case (n, (t, _)) => n -> t } +:
        (2 to passes).map(_ => names.map(n => n -> once(n)).toMap)
      val base = names.map(n => n -> perPass.map(_(n)): (String, Seq[Double]))
        .toMap
      // Volatility top-up (r14 verdict task 1): sub-second CPU-tight
      // queries (txt_bpe_merges, mm_audio_neardup were the round-14
      // breachers) are the ones whose floor depends on core warmth, and
      // in a cold window all `passes` samples can land warm-skewed ≥2×
      // over a floor set in a hot window. For queries that are BOTH
      // cheap (min < 1.2 s — extra samples cost ~nothing) and visibly
      // volatile this run (spread > 50% of min), take 2 more
      // interleaved passes so their reported min is min-of-(passes+2)
      // — enough draws that at least one lands warm in any window. The
      // condition bounds the top-up's wall cost to the noisy cheap set;
      // a stable or expensive query never re-runs. A cheap query whose
      // min sits ≥1.5× its trailing floor also qualifies even with a
      // tight spread — that's the "every sample this window landed
      // warm" shape the spread test can't see, and exactly what the
      // trend gate would flag. Floors are sf0.1 numbers: in an
      // off-scale run (prefixed output, e.g. the sf1.0 scaling bench)
      // EVERY query sits above them, so the floor arm only applies to
      // the trend chain the floors came from.
      val topUpFloors =
        if (prefix.isEmpty) floors else Map.empty[String, Double]
      val volatile = names.filter { n =>
        val xs = base(n)
        !failed.contains(n) && xs.min < 1.2 &&
          ((xs.max - xs.min) > 0.5 * xs.min ||
            topUpFloors.get(n).exists(f => f > 0 && xs.min >= 1.5 * f))
      }
      val extra = (1 to 2).map(_ => volatile.map(n => n -> once(n)).toMap)
      base ++ volatile.map(n => n -> (base(n) ++ extra.map(_(n))))
    }
    val results = names.map(n => n -> samples(n).min)
    val ok = results.filterNot { case (n, _) => failed.contains(n) }
    if (!fullSurface) ok.foreach { case (n, _) =>
      val (t, c) = counted(n)
      System.err.println(f"[bench] $n%s  first pass=$t%.3f s  " +
        s"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks}\n${c.table}")
    }
    val total = ok.map(_._2).sum
    // per-query dispersion: min is what the driver grades; median and
    // spread (= max-min, the burst amplitude this run) make the gate
    // falsifiable — a regression is a moved min with a small spread.
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
    Files.writeString(trendPath, trendJson(ok, floors, priorSuspects, sfDir,
      fullSurface = fullSurface) + "\n")
    // ---- suspect auto-adjudication (r15 verdict task 4) -------------------
    // The run adjudicates its own suspects: re-measure the flagged
    // queries INTERLEAVED with stable controls in this same JVM (a fresh
    // sample ~minutes after the main passes — a transient burst that
    // inflated the main sample has usually moved on), divide out the
    // window's environment factor (median control ratio-to-floor), and
    // write the verdict beside the trend. Bounded: ≤8 worst suspects,
    // 6 controls, 2 passes. Only for the real sf0.1 chain (prefix empty)
    // on a full surface, against floors from the same core count.
    val fresh =
      if (fullSurface && prefix.isEmpty && failed.isEmpty)
        freshSuspects(ok, floors, fullSurface = fullSurface)
      else Nil
    if (fresh.nonEmpty) {
      val targets = fresh.take(8).map(_._1)
      val targetSet = targets.toSet
      val controls = stratifiedControls(floors.toSeq
        .filter { case (n, v) =>
          !targetSet(n) && v >= 0.2 && v <= 1.0 &&
            SparkEntry.queries.contains(n)
        }
        .map(_._1))
      // a probe-time failure must never masquerade as a timing: a
      // fast-throwing CONTROL would drag the env factor down (false
      // CONFIRMs), a throwing TARGET would be timed at its
      // time-to-throw (false clear). Failed queries drop out of the
      // env estimate / verdict and are listed in the artifact.
      var probeFailed = Set.empty[String]
      def time(name: String): Double = {
        val t0 = System.nanoTime()
        try materialize(name)
        catch { case _: Throwable => probeFailed += name }
        (System.nanoTime() - t0) / 1e9
      }
      val order = targets ++ controls
      val probeSamples = (1 to 2).map(_ => order.map(n => n -> time(n)))
        .flatten.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).min }
      val ctlRatios = controls.filterNot(probeFailed).flatMap(c =>
        floors.get(c).filter(_ > 0).map(f => probeSamples(c) / f))
      val probeJson = adjudicationJson(
        targets.filterNot(probeFailed)
          .map(t => (t, probeSamples(t), floors.getOrElse(t, 0.0))),
        ctlRatios, sfDir,
        probeErrors = probeFailed.toSeq.sorted,
        trailingMedians = trailingMedians(Paths.get("bench_history.json")))
      Files.writeString(probePath, probeJson + "\n")
      System.err.println(s"[bench] probe adjudication: $probeJson")
    }
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

  /** Probe-control picker (spec-pinned): up to `n` controls from the
    * candidate pool, stratified by family prefix (r16 verdict nit +
    * ADVICE) — round-robin one query per family before taking a second
    * from any. The old `cands.size / 6` stride degenerates to 1 for
    * pools of 7-11 (first 6 alphabetically, likely one family) and
    * biases the env factor toward that family's local noise.
    * Deterministic: families and their members are both visited in
    * sorted order.
    */
  private[graft] def stratifiedControls(cands: Seq[String],
      n: Int = 6): Seq[String] = {
    val byFam = cands.sorted.groupBy(_.takeWhile(_ != '_'))
      .toSeq.sortBy(_._1).map(_._2)
    val deepest = byFam.map(_.size).maxOption.getOrElse(0)
    (0 until deepest).flatMap(i => byFam.flatMap(_.lift(i))).take(n)
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
