package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The bench_trend.json arithmetic: integer per-mille ratios against the
  * best prior min, regression/improvement classification at the 1.5×
  * threshold, and baseline-file round-tripping — pure JVM, no Spark.
  */
class BenchTrendSpec extends AnyFunSuite {

  /** A fixture dir at the committed floors' scale factor. */
  private val SfDir = "/data/sf0.1"

  test("trendJson classifies suspects, improvements, and new queries") {
    val cur = Seq(
      "q_reg" -> 3.0, // 3.0 / 1.0  = 3000‰ → suspect
      "q_ok" -> 1.2, //  1.2 / 1.0  = 1200‰ → neither
      "q_win" -> 0.5, // 0.5 / 1.0  =  500‰ ≤ 1000/1.5 → improved
      "q_edge" -> 1.5, // exactly 1500‰ → suspect (inclusive bound)
      "q_new" -> 2.0) // no baseline → new
    val base = Map("q_reg" -> 1.0, "q_ok" -> 1.0, "q_win" -> 1.0,
      "q_edge" -> 1.0)
    val json = Bench.trendJson(cur, base)
    // first sighting: threshold breaches are suspects, never regressions
    assert(json.contains(""""suspects":["q_edge","q_reg"]"""))
    assert(json.contains(""""regressed":[]"""))
    assert(json.contains(""""improved":["q_win"]"""))
    assert(json.contains(""""new":["q_new"]"""))
    assert(json.contains(""""q_reg":{"min":3.0,"best_prior":1.0,"ratio_milli":3000}"""))
    assert(json.contains(""""q_win":{"min":0.5,"best_prior":1.0,"ratio_milli":500}"""))
    assert(json.contains(""""q_new":{"min":2.0}"""))
    assert(json.contains(""""threshold_milli":1500"""))
  }

  test("regressions need two independent runs (suspect ∩ prior suspects)") {
    val base = Map("q_real" -> 1.0, "q_noise" -> 1.0, "q_prior_only" -> 1.0)
    // current run breaches on q_real and q_noise; the PREVIOUS run
    // breached on q_real and q_prior_only → only q_real confirms
    val json = Bench.trendJson(
      Seq("q_real" -> 2.0, "q_noise" -> 2.0, "q_prior_only" -> 1.0),
      base, priorSuspects = Set("q_real", "q_prior_only"))
    assert(json.contains(""""suspects":["q_noise","q_real"]"""))
    assert(json.contains(""""regressed":["q_real"]"""))
  }

  test("byte-identical reruns converge to zero regressions") {
    // run 1 flags pure noise; run 2 (same code, independent noise) flags
    // a disjoint set → regressed must be empty both times
    val base = Map("a" -> 1.0, "b" -> 1.0)
    val run1 = Bench.trendJson(Seq("a" -> 2.0, "b" -> 1.0), base)
    assert(run1.contains(""""regressed":[]"""))
    val run2 = Bench.trendJson(Seq("a" -> 1.0, "b" -> 2.0), base,
      priorSuspects = Set("a")) // run 1's suspect
    assert(run2.contains(""""regressed":[]"""))
    assert(run2.contains(""""suspects":["b"]"""))
  }

  test("fleet-relative threshold: uniform host inflation is not a suspect") {
    // a sustained noise window inflates EVERY query ~uniformly; with ≥30
    // baselined queries the run's median ratio becomes the environment
    // factor and a uniform 1.8× run flags nothing...
    val base = (1 to 40).map(i => s"q$i" -> 1.0).toMap
    val uniform = (1 to 40).map(i => s"q$i" -> 1.8)
    val j1 = Bench.trendJson(uniform, base)
    assert(j1.contains(""""suspects":[]"""), j1)
    assert(j1.contains(""""median_ratio_milli":1800"""))
    // ...while a lone 4× outlier in the same window still flags (4000 ≥
    // 1.5 × 1800 = 2700), and a lone outlier in a QUIET run flags as before
    val j2 = Bench.trendJson(uniform.init :+ ("q40" -> 4.0), base)
    assert(j2.contains(""""suspects":["q40"]"""), j2)
    val quiet = (1 to 39).map(i => s"q$i" -> 1.0) :+ ("q40" -> 2.0)
    val j3 = Bench.trendJson(quiet, base)
    assert(j3.contains(""""suspects":["q40"]"""), j3)
    // a fast-host run (median < 1) never LOWERS the absolute threshold
    val fast = (1 to 39).map(i => s"q$i" -> 0.5) :+ ("q40" -> 1.4)
    assert(Bench.trendJson(fast, base).contains(""""suspects":[]"""))
  }

  test("a uniform fleet-wide slowdown surfaces as fleet_suspect → fleet_regressed") {
    // the fleet-relative policy's blind spot: a REAL uniform regression
    // (global config change slowing everything 1.8×) raises the median
    // and flags no per-query suspect — the fleet fields must catch it
    val base = (1 to 40).map(i => s"q$i" -> 1.0).toMap
    val uniform = (1 to 40).map(i => s"q$i" -> 1.8)
    val p = Files.createTempFile("trend_fleet", ".json")
    val run1 = Bench.trendJson(uniform, base, sf = "/data/sf0.1")
    assert(run1.contains(""""fleet_suspect":true"""), run1)
    assert(run1.contains(""""fleet_regressed":false"""), run1) // one run ≠ proof
    assert(run1.contains(""""suspects":[]"""), run1)
    Files.writeString(p, run1)
    // second consecutive fleet-suspect full run confirms
    val prior = Bench.readPriorSuspects(p, "/data/sf0.1")
    assert(prior contains Bench.FleetSentinel)
    val run2 = Bench.trendJson(uniform, base, priorSuspects = prior,
      sf = "/data/sf0.1")
    assert(run2.contains(""""fleet_regressed":true"""), run2)
    // ...while a quiet full run in between clears the standing flag
    val quietRun = Bench.trendJson((1 to 40).map(i => s"q$i" -> 1.0), base,
      priorSuspects = prior, sf = "/data/sf0.1")
    assert(quietRun.contains(""""fleet_suspect":false"""), quietRun)
    Files.writeString(p, quietRun)
    assert(!Bench.readPriorSuspects(p, "/data/sf0.1")
      .contains(Bench.FleetSentinel))
    // a dev subset neither confirms nor clears: the prior verdict carries
    val subset = Bench.trendJson(Seq("q1" -> 1.8), base,
      priorSuspects = prior, sf = "/data/sf0.1")
    assert(subset.contains(""""fleet_suspect":true"""), subset)
    assert(subset.contains(""""fleet_regressed":false"""), subset)
    // and the sentinel never leaks into the per-query suspects array
    assert(!subset.contains("__fleet_median__\""), subset)
  }

  test("fleet-relative threshold is OFF for dev subsets (<30 baselined)") {
    // benching only the family you just slowed down must still flag it:
    // a subset's median could be dominated by a real regression
    val base = (1 to 5).map(i => s"er$i" -> 1.0).toMap
    val j = Bench.trendJson((1 to 5).map(i => s"er$i" -> 2.0), base)
    assert(j.contains(
      """"suspects":["er1","er2","er3","er4","er5"]"""), j)
  }

  test("a ≥30-query biased subset neither median-normalizes nor clears the fleet flag") {
    // SPARK_GRAFT_ONLY with ≥30 baselined queries used to count as a
    // "full run" via the size heuristic: a quiet biased subset could
    // clear a standing fleet_suspect and a slow family could hide
    // behind its own median. fullSurface=false (threaded from main)
    // keeps the absolute threshold AND carries the fleet verdict.
    val base = (1 to 40).map(i => s"q$i" -> 1.0).toMap
    val uniform = (1 to 40).map(i => s"q$i" -> 1.8)
    val j = Bench.trendJson(uniform, base, fullSurface = false)
    // absolute threshold: every 1.8× query flags (no median normalization)
    assert(j.contains(""""q1","q10""""), j)
    assert(j.contains(""""median_ratio_milli":1000"""), j)
    // a QUIET 40-query subset cannot clear a standing fleet_suspect...
    val quiet = (1 to 40).map(i => s"q$i" -> 1.0)
    val carry = Bench.trendJson(quiet, base,
      priorSuspects = Set(Bench.FleetSentinel), fullSurface = false)
    assert(carry.contains(""""fleet_suspect":true"""), carry)
    assert(carry.contains(""""fleet_regressed":false"""), carry)
    // ...while the same quiet run at full surface does clear it
    val clear = Bench.trendJson(quiet, base,
      priorSuspects = Set(Bench.FleetSentinel), fullSurface = true)
    assert(clear.contains(""""fleet_suspect":false"""), clear)
    // and a slow subset can never CONFIRM fleet_regressed either
    val slow = Bench.trendJson(uniform, base,
      priorSuspects = Set(Bench.FleetSentinel), fullSurface = false)
    assert(slow.contains(""""fleet_regressed":false"""), slow)
  }

  test("compact stdout line fits the driver's tail window for the full surface") {
    // Rounds 10-12 each recorded "parsed": null in BENCH_r*.json: the
    // driver keeps only the last ~2000 chars of stdout and the full
    // per-query JSON line is ~25 KB, so its {"metric": head never made
    // the window. The compact line is the LAST stdout print and must
    // stay well inside the window even after sbt's [success] trailer.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val ok = names.map(n => n -> 1.234567891)
    val line = Bench.compactLine(123.456789, ok, Nil, 3, "/root/testdata/sf0.1")
    assert(line.length < 1200, s"compact line too long: ${line.length}")
    assert(line.startsWith("""{"metric":"total","value":123.457,"unit":"sec""""))
    assert(line.contains("\"n_queries\":" + names.size), line)
    // every headline query that exists in the surface is present
    Bench.Headline.filter(names.contains).foreach { h =>
      assert(line.contains("\"" + h + "\":1.235"), h)
    }
    assert(Bench.Headline.count(names.contains) >= 15,
      "headline subset has drifted away from the live surface")
    // failures still surface in the compact channel
    val withErr = Bench.compactLine(1.0, ok.take(2), Seq("q_bad"), 3, "sf")
    assert(withErr.contains(""""errors":["q_bad"]"""))
  }

  test("readPriorSuspects round-trips and ignores other-sf evidence") {
    val p = Files.createTempFile("trend", ".json")
    Files.writeString(p, Bench.trendJson(Seq("q_slow" -> 2.0, "q_ok" -> 1.0),
      Map("q_slow" -> 1.0, "q_ok" -> 1.0), sf = "/data/sf0.1"))
    assert(Bench.readPriorSuspects(p, "/data/sf0.1") === Set("q_slow"))
    // different sf: prior evidence says nothing about this run
    assert(Bench.readPriorSuspects(p, "/data/sf0.01") === Set.empty)
    assert(Bench.readPriorSuspects(
      Paths.get("/nonexistent/trend.json"), "x") === Set.empty)
    // legacy format (no sf key): NO evidence — a file that recorded no
    // scale must not confirm a breach at any scale
    val old = Files.createTempFile("trend_old", ".json")
    Files.writeString(old,
      """{"threshold_milli":1500,"regressed":["q_a","q_b"],"suspects":["q_a"],"improved":[]}""")
    assert(Bench.readPriorSuspects(old, "any") === Set.empty)
  }

  test("a subset rerun preserves an unmeasured query's suspect status") {
    // full run flags q_standing; a later SPARK_GRAFT_ONLY subset run that
    // does NOT measure q_standing must carry the flag forward in the
    // file it writes — benching a disjoint subset is not refutation
    val base = Map("q_standing" -> 1.0, "q_other" -> 1.0)
    val p = Files.createTempFile("trend_carry", ".json")
    Files.writeString(p, Bench.trendJson(Seq("q_standing" -> 2.0),
      base, sf = "/data/sf0.1"))
    val prior = Bench.readPriorSuspects(p, "/data/sf0.1")
    assert(prior === Set("q_standing"))
    val subsetRun = Bench.trendJson(Seq("q_other" -> 1.0), base,
      priorSuspects = prior, sf = "/data/sf0.1")
    assert(subsetRun.contains(""""suspects":["q_standing"]"""))
    assert(subsetRun.contains(""""regressed":[]""")) // carried ≠ confirmed
    Files.writeString(p, subsetRun)
    // the carried flag survives the round trip for the NEXT full run...
    assert(Bench.readPriorSuspects(p, "/data/sf0.1") === Set("q_standing"))
    // ...which then either confirms it (measured + breached again)...
    val confirm = Bench.trendJson(Seq("q_standing" -> 2.0), base,
      priorSuspects = Set("q_standing"), sf = "/data/sf0.1")
    assert(confirm.contains(""""regressed":["q_standing"]"""))
    // ...or refutes it (measured, under threshold → flag cleared)
    val refute = Bench.trendJson(Seq("q_standing" -> 1.0), base,
      priorSuspects = Set("q_standing"), sf = "/data/sf0.1")
    assert(refute.contains(""""suspects":[]"""))
  }

  test("ratio_milli floors (integer arithmetic, no float formatting)") {
    val json = Bench.trendJson(Seq("q" -> 1.0), Map("q" -> 3.0))
    // 1000/3 = 333.33… → 333
    assert(json.contains(""""ratio_milli":333"""))
  }

  test("zero or absent baselines never divide") {
    val json = Bench.trendJson(Seq("a" -> 1.0, "b" -> 2.0),
      Map("a" -> 0.0))
    assert(json.contains(""""new":["a","b"]"""))
    // the exact per-query key — the run-level median_ratio_milli field
    // is always present and is not a division over a query baseline
    assert(!json.contains("\"ratio_milli\""))
  }

  test("readBaseline parses the committed bench_baseline.json shape") {
    val p = Files.createTempFile("baseline", ".json")
    Files.writeString(p,
      """{"source": "round N", "queries": {"q1_agg": 0.25, "dd_exact": 1.5e0}}""")
    val m = Bench.readBaseline(p)
    assert(m === Map("q1_agg" -> 0.25, "dd_exact" -> 1.5))
    assert(Bench.readBaseline(Paths.get("/nonexistent/x.json")) === Map.empty)
    val bad = Files.createTempFile("baseline_bad", ".json")
    Files.writeString(bad, """{"source": "no queries key here"}""")
    assert(Bench.readBaseline(bad) === Map.empty)
  }

  test("repinned and quarantined sections never pollute the parsed baseline") {
    // fold_baseline.py writes its audit sections (repinned, and since
    // r17 quarantined) as STRING values beside "queries"; the parse
    // must see only the real numbers
    val p = Files.createTempFile("baseline_repin", ".json")
    Files.writeString(p,
      """{"source": "r17",
        | "repinned": {"q_slow": "0.3 -> 0.6: context evidence"},
        | "quarantined": {"q_fast": "[0.05] quarantined (undercut window median 0.21 by >30% with no second sample within 15%); floor 0.2"},
        | "queries": {"q_slow": 0.6, "q_fast": 0.2}}""".stripMargin)
    assert(Bench.readBaseline(p) === Map("q_slow" -> 0.6, "q_fast" -> 0.2))
  }

  test("floors from another core count are no evidence: a 4-core run " +
      "against the 32-core baseline flags nothing") {
    val p = Files.createTempFile("baseline_cpus", ".json")
    // a key after "queries" is read as a key, not as a query
    Files.writeString(p,
      """{"source": "r17", "queries": {"q_a": 1.0, "q_b": 1.0}, "cpus": 32,
        | "sf": "sf0.1"}""".stripMargin)
    assert(Bench.readBaseline(p) === Map("q_a" -> 1.0, "q_b" -> 1.0))
    val cur = Seq("q_a" -> 5.0, "q_b" -> 0.1)
    val at32 = Bench.trendJson(cur, Bench.floorsAt(p, 32, SfDir))
    assert(at32.contains(""""suspects":["q_a"]"""), at32)
    assert(at32.contains(""""improved":["q_b"]"""), at32)
    assert(Bench.floorsAt(p, 4, SfDir) === Map.empty)
    val at4 = Bench.trendJson(cur, Bench.floorsAt(p, 4, SfDir))
    assert(at4.contains(""""suspects":[]"""), at4)
    assert(at4.contains(""""improved":[]"""), at4)
    assert(at4.contains(""""new":["q_a","q_b"]"""), at4)
    // nothing for the auto-probe to adjudicate either
    assert(Bench.freshSuspects(cur, Bench.floorsAt(p, 4, SfDir)).isEmpty)
    // a baseline that states no core count matches none
    val bare = Files.createTempFile("baseline_nocpus", ".json")
    Files.writeString(bare, """{"queries": {"q_a": 1.0}}""")
    assert(Bench.floorsAt(bare, 4, SfDir) === Map.empty)
    // the committed floors are 32-core numbers
    assert(Bench.floorsAt(Paths.get("bench_baseline.json"), 32, SfDir)
      .size === Bench.readBaseline(Paths.get("bench_baseline.json")).size)
  }

  test("floors from another scale factor are no evidence: an sf0.01 run " +
      "against the sf0.1 baseline flags nothing") {
    val p = Files.createTempFile("baseline_sf", ".json")
    Files.writeString(p,
      """{"cpus": 4, "sf": "sf0.1", "queries": {"q_a": 1.0, "q_b": 1.0}}""")
    val cur = Seq("q_a" -> 5.0, "q_b" -> 0.1)
    // the sf is the fixture dir's last segment, trailing slash or not
    assert(Bench.floorsAt(p, 4, "/data/sf0.1/").size === 2)
    assert(Bench.floorsAt(p, 4, "sf0.1").size === 2)
    // another sf, or a look-alike dir, matches no floors
    Seq("/data/sf0.01", "/data/sf0.1b", "/data/sf0.1/x", "").foreach { d =>
      assert(Bench.floorsAt(p, 4, d) === Map.empty, d)
    }
    val at01 = Bench.trendJson(cur, Bench.floorsAt(p, 4, "/data/sf0.01"))
    assert(at01.contains(""""suspects":[]"""), at01)
    assert(at01.contains(""""improved":[]"""), at01)
    assert(at01.contains(""""new":["q_a","q_b"]"""), at01)
    assert(Bench.freshSuspects(cur,
      Bench.floorsAt(p, 4, "/data/sf0.01")).isEmpty)
    // a baseline that states no sf matches no run, at any core count
    val nosf = Files.createTempFile("baseline_nosf", ".json")
    Files.writeString(nosf, """{"cpus": 4, "queries": {"q_a": 1.0}}""")
    assert(Bench.floorsAt(nosf, 4, "/data/sf0.1") === Map.empty)
    // the committed floors are sf0.1 numbers
    assert(Bench.floorsAt(Paths.get("bench_baseline.json"), 32,
      "/data/sf0.01") === Map.empty)
  }

  test("freshSuspects mirrors trendJson's flagging: fleet-median-" +
      "relative on full runs, absolute on subsets, worst first") {
    // 30 baselined queries at ratio 1.0 + two breachers → median 1000,
    // eff threshold 1500 → both flagged, worst first
    val base = (1 to 30).map(i => s"q$i" -> 1.0).toMap +
      ("slow_a" -> 1.0) + ("slow_b" -> 1.0)
    val cur = (1 to 30).map(i => s"q$i" -> 1.0) ++
      Seq("slow_a" -> 1.6, "slow_b" -> 2.4)
    val got = Bench.freshSuspects(cur, base)
    assert(got.map(_._1) === Seq("slow_b", "slow_a"))
    // a uniformly-inflated window (every query 1.6×) flags NOTHING on a
    // full run (median normalizes) ...
    val noisy = (1 to 30).map(i => s"q$i" -> 1.6) :+ ("slow_a" -> 1.6)
    assert(Bench.freshSuspects(noisy, base).isEmpty)
    // ... but a subset keeps the absolute threshold
    assert(Bench.freshSuspects(Seq("slow_a" -> 1.6), base,
      fullSurface = false).map(_._1) === Seq("slow_a"))
  }

  test("adjudicationJson applies the probe.sh rule: divide the fresh " +
      "ratio by the median control factor, CONFIRM only past 2x") {
    // window env 1.6× (controls), suspect A re-measures at 1.8× raw
    // (window noise → clear), suspect B at 4.0× raw (2.5× adjusted →
    // CONFIRM)
    val json = Bench.adjudicationJson(
      Seq(("a", 1.8, 1.0), ("b", 4.0, 1.0)),
      Seq(1.5, 1.6, 1.7), "/sf")
    assert(json.contains(""""env_factor_milli":1600"""))
    assert(json.contains(""""a":{"fresh_min":1.8,"floor":1.0,""" +
      """"raw_milli":1800,"adj_milli":1125,"verdict":"clear"}"""))
    assert(json.contains(""""b":{"fresh_min":4.0,"floor":1.0,""" +
      """"raw_milli":4000,"adj_milli":2500,"verdict":"CONFIRM"}"""))
    assert(json.contains(""""verdict":"CONFIRMED""""))
    // all-clear shape, and no controls → env 1.0
    val clear = Bench.adjudicationJson(Seq(("a", 1.8, 1.0)), Nil, "/sf")
    assert(clear.contains(""""env_factor_milli":1000"""))
    assert(clear.contains(""""verdict":"all-clear""""))
    // a probe-time failure can never masquerade as clear: the failed
    // query is listed and the top-level verdict says probe-errors
    val errs = Bench.adjudicationJson(Seq(("a", 1.1, 1.0)),
      Seq(1.0), "/sf", probeErrors = Seq("b"))
    assert(errs.contains(""""probe_errors":["b"]"""))
    assert(errs.contains(""""verdict":"probe-errors""""))
    // ... unless another suspect genuinely CONFIRMs
    val mix = Bench.adjudicationJson(Seq(("a", 4.0, 1.0)),
      Seq(1.0), "/sf", probeErrors = Seq("b"))
    assert(mix.contains(""""verdict":"CONFIRMED""""))
  }

  test("a poisoned floor cannot CONFIRM in a quiet window: the " +
      "trailing-median cross-check (r16e replay, both window shapes)") {
    // the r16 incident verbatim: one freak run admitted ref_crop_video's
    // floor at 0.2226s (honest window samples 0.37-0.50, median 0.3724);
    // the next normal measurement at 0.50s reads 2.25x the floor
    val meds = Map("ref_crop_video" -> 0.3724)
    // QUIET window (controls at their floors, env 1.0): floor-only
    // adjudication would CONFIRM at 2.25x — the median check (0.50 /
    // 0.3724 = 1.34x < 1.5x) must refuse the phantom
    val quiet = Bench.adjudicationJson(
      Seq(("ref_crop_video", 0.50, 0.2226)), Seq(0.98, 1.0, 1.02), "/sf",
      trailingMedians = meds)
    assert(quiet.contains(""""ratio_to_trailing_median_milli":1342"""),
      quiet)
    assert(quiet.contains(""""verdict":"clear""""), quiet)
    assert(quiet.contains(""""verdict":"all-clear""""), quiet)
    // DEGRADED window (the r16 driver run, env 1.588): env division
    // already clears it; the median field still reports
    val degraded = Bench.adjudicationJson(
      Seq(("ref_crop_video", 0.50, 0.2226)), Seq(1.5, 1.588, 1.7), "/sf",
      trailingMedians = meds)
    assert(degraded.contains(""""verdict":"clear""""), degraded)
    // a REAL regression still confirms through both tests: fresh 0.90
    // over an honest floor 0.37 (2.43x) and 2.42x the window median
    val real = Bench.adjudicationJson(
      Seq(("ref_crop_video", 0.90, 0.3715)), Seq(0.98, 1.0, 1.02), "/sf",
      trailingMedians = meds)
    assert(real.contains(""""verdict":"CONFIRM""""), real)
    assert(real.contains(""""verdict":"CONFIRMED""""), real)
    // no median history (query new this window): floor rule alone, and
    // the row carries no median field rather than a fake 1.0
    val fresh = Bench.adjudicationJson(
      Seq(("q_new", 0.50, 0.2226)), Seq(1.0), "/sf")
    assert(fresh.contains(""""verdict":"CONFIRM""""), fresh)
    assert(!fresh.contains("ratio_to_trailing_median_milli"), fresh)
  }

  test("env normalization excuses a slow window but never amplifies: " +
      "the divisor clamps at 1.0") {
    // controls running FASTER than their floors (env 0.85) used to
    // inflate a raw 1.8x into an adjusted 2.12x CONFIRM that never
    // breached 2x raw (r16 ADVICE)
    val j = Bench.adjudicationJson(
      Seq(("a", 1.8, 1.0)), Seq(0.8, 0.85, 0.9), "/sf")
    assert(j.contains(""""adj_milli":1800"""), j)
    assert(j.contains(""""verdict":"clear""""), j)
    assert(j.contains(""""env_factor_milli":850"""), j)
  }

  test("readHistory/trailingMedians: run samples only — probe " +
      "provenance and run metadata never leak into the medians") {
    val p = Files.createTempFile("hist", ".json")
    // the fold_baseline.py shape: probe_samples BEFORE runs; each run
    // wrapper carries a numeric "n" field
    Files.writeString(p,
      """{"k": 5,
        | "probe_samples": [{"source": "probe r17a",
        |                    "queries": {"q_a": 0.05, "q_probe_only": 9.0}}],
        | "runs": [
        |  {"source": "run 1", "n": 2, "queries": {"q_a": 1.0, "q_b": 0.4}},
        |  {"source": "run 2", "n": 2, "queries": {"q_a": 3.0, "q_b": 0.2}},
        |  {"source": "run 3", "n": 2, "queries": {"q_a": 2.0}}]}""".stripMargin)
    val meds = Bench.trailingMedians(p)
    assert(meds("q_a") === 2.0) // median of 1,3,2 — NOT skewed by 0.05
    assert(math.abs(meds("q_b") - 0.3) < 1e-12) // even count: midpoint of 0.2, 0.4
    assert(!meds.contains("q_probe_only"), meds)
    assert(!meds.contains("n") && !meds.contains("k"), meds)
    assert(Bench.trailingMedians(
      Paths.get("/nonexistent/h.json")) === Map.empty)
  }

  test("the committed bench_history.json parses and covers the surface") {
    val meds = Bench.trailingMedians(Paths.get("bench_history.json"))
    assert(meds.size >= 200, s"history medians: ${meds.size}")
    // the two r16-incident queries must carry honest medians the
    // adjudicator can cross-check against
    assert(meds.contains("ref_crop_video") && meds.contains("web_extract_text"))
  }

  test("probe controls stratify across family prefixes") {
    // with a 9-candidate pool that is 6/9 one family, the old size/6=1
    // stride picked 6 dd_* — the round-robin picker (the REAL one main
    // calls) must visit every family before repeating one
    val cands = Seq("dd_a", "dd_b", "dd_c", "dd_d", "dd_e", "dd_f",
      "er_a", "mm_a", "txt_a")
    val picked = Bench.stratifiedControls(cands)
    assert(picked.size === 6, picked)
    assert(picked.map(_.takeWhile(_ != '_')).distinct.size === 4, picked)
    assert(picked.take(4) === Seq("dd_a", "er_a", "mm_a", "txt_a"), picked)
    // determinism is input-order-independent (picker sorts internally)
    assert(Bench.stratifiedControls(scala.util.Random.shuffle(cands))
      === picked)
    assert(Bench.stratifiedControls(Nil) === Nil)
  }

  test("the committed baseline covers the live query surface") {
    val m = Bench.readBaseline(Paths.get("bench_baseline.json"))
    assert(m.nonEmpty)
    // every baselined query still exists (stale names would mask renames);
    // new queries may legitimately lack a baseline until the next refresh
    val live = SparkEntry.queries.keySet
    val stale = m.keySet.diff(live)
    assert(stale.isEmpty, s"baseline names not in the surface: $stale")
  }
}
