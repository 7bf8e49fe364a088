package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The trailing-window fold's FLOOR-ADMISSION GUARD (r16 verdict task 1),
  * pinned end-to-end against the real `scripts/fold_baseline.py`.
  *
  * Why this spec exists: round 16's run 5 recorded two physically
  * implausible one-run speedups (ref_crop_video 0.60×, web_extract_text
  * 0.42× their own floors while the same run's fleet median was 1.080×).
  * The unguarded min-fold admitted both as floors, every subsequent
  * honest measurement read as a 1.7–2.8× breach, and the two-run trend
  * rule "confirmed" phantom regressions in a committed artifact. The
  * guard is the symmetric twin of the suspect rule: a candidate floor
  * undercutting the query's trailing-window MEDIAN by >30% is
  * quarantined until a second sample lands within 15% of it.
  *
  * The guard lives in Python (the fold is a driver-side script), so the
  * spec drives the actual script through a subprocess in a temp dir —
  * the same interface every round's fold uses. Cancels (not fails) where
  * python3 is unavailable, like the FFmpeg/ONNX smokes.
  */
class FoldBaselineSpec extends AnyFunSuite {

  private val script = java.nio.file.Paths
    .get("scripts/fold_baseline.py").toAbsolutePath

  private def havePython: Boolean =
    try new ProcessBuilder("python3", "--version").start().waitFor() == 0
    catch { case _: Exception => false }

  /** Run fold_baseline.py with `args` in `dir`; returns (exit, output). */
  private def fold(dir: Path, args: String*): (Int, String) = {
    val pb = new ProcessBuilder(
      (Seq("python3", script.toString) ++ args): _*)
    pb.directory(dir.toFile).redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    (p.waitFor(), out)
  }

  private def write(dir: Path, name: String, json: String): Unit =
    Files.writeString(dir.resolve(name), json)

  private def baseline(dir: Path): Map[String, Double] =
    Bench.readBaseline(dir.resolve("bench_baseline.json"))

  private def quarantineNotes(dir: Path): String = {
    val text = Files.readString(dir.resolve("bench_baseline.json"))
    val at = text.indexOf("\"quarantined\"")
    if (at < 0) "" else text.substring(at, text.indexOf("\"queries\""))
  }

  /** A 5-run history where q_freak has one anomalous 0.3s sample in a
    * 1.0s-median window and q_norm is steady — the r16e shape.
    */
  private def seedHistory(dir: Path, freakVals: Seq[Double]): Unit = {
    val runs = freakVals.zipWithIndex.map { case (v, i) =>
      s"""{"source": "run ${i + 1}", "n": 2,
         | "queries": {"q_freak": $v, "q_norm": ${0.5 + i * 0.01}}}"""
        .stripMargin
    }
    write(dir, "bench_history.json",
      s"""{"k": 5, "runs": [${runs.mkString(",")}]}""")
  }

  test("a synthetic freak min must NOT become the floor (quarantined " +
      "until a second sample confirms)") {
    assume(havePython, "python3 not on PATH")
    val dir = Files.createTempDirectory("fold_guard")
    seedHistory(dir, Seq(1.00, 1.02, 0.30, 0.98, 1.01))
    // fold a sixth, honest run; the regen must quarantine the 0.30
    write(dir, "bench_out.json",
      """{"queries": {"q_freak": 0.99, "q_norm": 0.55}}""")
    val (rc, out) = fold(dir, "--source", "guard spec")
    assert(rc == 0, out)
    val b = baseline(dir)
    assert(b("q_freak") == 0.98, s"floor must skip the freak: $b\n$out")
    assert(b("q_norm") == 0.51, b.toString) // run 1 rotated out of the window
    assert(quarantineNotes(dir).contains("q_freak"), quarantineNotes(dir))
    // a SECOND fast sample within 15% admits the min: genuinely faster
    write(dir, "bench_out.json",
      """{"queries": {"q_freak": 0.33, "q_norm": 0.55}}""")
    val (rc2, out2) = fold(dir, "--source", "guard spec 2")
    assert(rc2 == 0, out2)
    assert(baseline(dir)("q_freak") == 0.30,
      s"two confirming samples must admit the floor: ${baseline(dir)}")
  }

  test("a probe-provenance sample confirms a quarantined min but never " +
      "floors on its own") {
    assume(havePython, "python3 not on PATH")
    val dir = Files.createTempDirectory("fold_probe")
    seedHistory(dir, Seq(1.00, 1.02, 0.30, 0.98, 1.01))
    // probe re-measured q_freak at 0.32 (within 15% of the freak 0.30)
    // and q_norm at 0.10 (a probe-only fast sample)
    write(dir, "probe_adjudication.json",
      """{"sf": "/root/testdata/sf0.1", "suspects": {
        |  "q_freak": {"fresh_min": 0.32, "floor": 0.3, "verdict": "clear"},
        |  "q_norm": {"fresh_min": 0.10, "floor": 0.5, "verdict": "clear"}}}"""
        .stripMargin)
    val (rc, out) = fold(dir, "--fold-probe", "probe_adjudication.json",
      "--source", "probe r17")
    assert(rc == 0, out)
    val b = baseline(dir)
    // the probe sample CONFIRMS the freak min → admitted as floor...
    assert(b("q_freak") == 0.30, s"$b\n$out")
    // ...but a probe-only fast sample never becomes a floor itself
    assert(b("q_norm") == 0.5, b.toString)
    // provenance is visible in the history for the next fold
    val hist = Files.readString(dir.resolve("bench_history.json"))
    assert(hist.contains("probe_samples") && hist.contains("probe r17"),
      hist)
    // and Bench's trailing medians ignore it (runs-only parse)
    assert(Bench.trailingMedians(
      dir.resolve("bench_history.json"))("q_norm") < 0.6)
  }

  test("probe confirmation is two-sided, scale-checked, and ages out " +
      "with the window") {
    assume(havePython, "python3 not on PATH")
    // TWO-SIDED: a probe sample far BELOW the quarantined candidate is
    // itself anomalous and must not vouch for it
    val dir = Files.createTempDirectory("fold_probe2")
    seedHistory(dir, Seq(1.00, 1.02, 0.30, 0.98, 1.01))
    write(dir, "probe_adjudication.json",
      """{"sf": "/root/testdata/sf0.1", "suspects": {
        |  "q_freak": {"fresh_min": 0.05, "floor": 0.3, "verdict": "clear"}}}"""
        .stripMargin)
    val (rc, out) = fold(dir, "--fold-probe", "probe_adjudication.json",
      "--source", "probe lowball")
    assert(rc == 0, out)
    assert(baseline(dir)("q_freak") == 0.98,
      s"a 0.05 probe must not confirm a 0.30 freak: ${baseline(dir)}")
    // SCALE-CHECKED: a probe artifact from another sf is refused
    write(dir, "probe_sf001.json",
      """{"sf": "/root/testdata/sf0.01", "suspects": {
        |  "q_freak": {"fresh_min": 0.31, "floor": 0.3, "verdict": "clear"}}}"""
        .stripMargin)
    val (rcSf, outSf) = fold(dir, "--fold-probe", "probe_sf001.json")
    assert(rcSf != 0 && outSf.contains("refusing to fold probe"), outSf)
    // AGES OUT: after k full folds the probe provenance expires — the
    // freak stays quarantined once its confirming probe leaves the era
    for (i <- 1 to 5) {
      write(dir, "bench_out.json",
        s"""{"queries": {"q_freak": ${1.0 + i * 0.001}, "q_norm": 0.55}}""")
      val (rcF, outF) = fold(dir, "--source", s"era fold $i")
      assert(rcF == 0, outF)
    }
    val hist = Files.readString(dir.resolve("bench_history.json"))
    assert(!hist.contains("probe lowball"),
      s"probe provenance must expire after k folds: $hist")
  }

  test("a standing repin survives --drop-sample and --fold-probe " +
      "regeneration (pinned floor held until re-measured)") {
    assume(havePython, "python3 not on PATH")
    val dir = Files.createTempDirectory("fold_pin")
    seedHistory(dir, Seq(1.00, 1.02, 0.99, 0.98, 1.01))
    // pin a query that has NO window samples (purged at repin time)
    val (rcPin, outPin) = fold(dir, "--repin", "q_pinned=0.42",
      "--evidence", "spec: keyspace fix")
    assert(rcPin == 0, outPin)
    assert(baseline(dir)("q_pinned") == 0.42, baseline(dir).toString)
    // --drop-sample regenerates floors; the pin must survive
    val (rcDrop, outDrop) = fold(dir, "--drop-sample", "q_freak@run 2",
      "--evidence", "spec")
    assert(rcDrop == 0, outDrop)
    assert(baseline(dir)("q_pinned") == 0.42,
      s"pin lost by --drop-sample regen: ${baseline(dir)}")
    // --fold-probe regenerates floors; the pin must survive that too
    write(dir, "probe_adjudication.json",
      """{"sf": "/root/testdata/sf0.1", "suspects": {
        |  "q_norm": {"fresh_min": 0.52, "floor": 0.5, "verdict": "clear"}}}"""
        .stripMargin)
    val (rcP, outP) = fold(dir, "--fold-probe", "probe_adjudication.json")
    assert(rcP == 0, outP)
    assert(baseline(dir)("q_pinned") == 0.42,
      s"pin lost by --fold-probe regen: ${baseline(dir)}")
  }

  test("--drop-sample purges exactly one run's sample and regenerates") {
    assume(havePython, "python3 not on PATH")
    val dir = Files.createTempDirectory("fold_drop")
    seedHistory(dir, Seq(1.00, 1.02, 0.30, 0.98, 1.01))
    val (rc, out) = fold(dir, "--drop-sample", "q_freak@run 3",
      "--evidence", "spec: the freak sample")
    assert(rc == 0, out)
    val b = baseline(dir)
    assert(b("q_freak") == 0.98, b.toString)
    assert(b("q_norm") == 0.5, b.toString) // untouched query keeps min
    // a non-matching drop refuses loudly instead of silently no-oping
    val (rc2, out2) = fold(dir, "--drop-sample", "q_freak@no such run",
      "--evidence", "spec")
    assert(rc2 != 0 && out2.contains("matched no window sample"), out2)
  }

  test("regeneration refuses an empty run history (a wrong --history " +
      "path must not wipe the baseline)") {
    assume(havePython, "python3 not on PATH")
    val dir = Files.createTempDirectory("fold_empty")
    write(dir, "bench_baseline.json",
      """{"source": "x", "queries": {"q_a": 1.0}}""")
    write(dir, "probe_adjudication.json",
      """{"sf": "/root/testdata/sf0.1", "suspects": {
        |  "q_a": {"fresh_min": 1.1, "floor": 1.0}}}""".stripMargin)
    val (rc, out) = fold(dir, "--fold-probe", "probe_adjudication.json")
    assert(rc != 0 && out.contains("refusing to regenerate"), out)
    assert(baseline(dir)("q_a") == 1.0, "baseline must be untouched")
    val (rc2, out2) = fold(dir, "--drop-query", "q_a", "--evidence", "x")
    assert(rc2 != 0 && out2.contains("refusing to regenerate"), out2)
    assert(baseline(dir)("q_a") == 1.0, "baseline must be untouched")
  }

  test("a --drop-sample audit note persists across subsequent folds " +
      "(the evidence trail is the point)") {
    assume(havePython, "python3 not on PATH")
    // pre-fix, the repin-retirement loop deleted drop audits as soon as
    // the query re-measured — observed live: the r17 baseline lost both
    // r16e drop notes on the very next fold while CHANGELOG claimed
    // they were "audit in the baseline"
    val dir = Files.createTempDirectory("fold_audit")
    seedHistory(dir, Seq(1.00, 1.02, 0.30, 0.98, 1.01))
    val (rcD, outD) = fold(dir, "--drop-sample", "q_freak@run 3",
      "--evidence", "spec: freak purge")
    assert(rcD == 0, outD)
    // the query re-measures on the next fold; the note must survive
    write(dir, "bench_out.json",
      """{"queries": {"q_freak": 0.99, "q_norm": 0.55}}""")
    val (rcF, outF) = fold(dir, "--source", "post-drop fold")
    assert(rcF == 0, outF)
    val text = Files.readString(dir.resolve("bench_baseline.json"))
    assert(text.contains("spec: freak purge"),
      s"drop audit erased by the next fold: $text")
    // a VALUE repin for a re-measured query still retires (the note
    // would otherwise park a stale [held N] hold in the audit)
    assert(!outF.contains("repin for q_freak retired"), outF)
  }

  test("--seed discards prior-era probe provenance (a dead-era probe " +
      "must not confirm floors in the seeded window)") {
    assume(havePython, "python3 not on PATH")
    val dir = Files.createTempDirectory("fold_seed")
    seedHistory(dir, Seq(1.00, 1.02, 0.99, 0.98, 1.01))
    write(dir, "probe_adjudication.json",
      """{"sf": "/root/testdata/sf0.1", "suspects": {
        |  "q_freak": {"fresh_min": 0.31, "floor": 0.3}}}""".stripMargin)
    val (rcP, outP) = fold(dir, "--fold-probe", "probe_adjudication.json",
      "--source", "old-era probe")
    assert(rcP == 0, outP)
    write(dir, "seed_a.json",
      """{"queries": {"q_freak": 0.30, "q_norm": 0.50}}""")
    write(dir, "seed_b.json",
      """{"queries": {"q_freak": 1.00, "q_norm": 0.50}}""")
    write(dir, "seed_c.json",
      """{"queries": {"q_freak": 1.01, "q_norm": 0.50}}""")
    val (rcS, outS) = fold(dir, "--seed", "seed_a.json", "seed_b.json",
      "seed_c.json", "--source", "seeded era")
    assert(rcS == 0, outS)
    val hist = Files.readString(dir.resolve("bench_history.json"))
    assert(!hist.contains("old-era probe"),
      s"seed must discard prior-era probes: $hist")
    // and the seeded window's own freak stays quarantined: the dead
    // probe's 0.31 can no longer vouch for the 0.30
    assert(baseline(dir)("q_freak") == 1.00,
      s"dead-era probe confirmed a freak floor: ${baseline(dir)}")
  }

  test("the probe scale check is an exact basename match, not a " +
      "substring (sf0.12 must not fold into the sf0.1 chain)") {
    assume(havePython, "python3 not on PATH")
    val dir = Files.createTempDirectory("fold_sfexact")
    seedHistory(dir, Seq(1.00, 1.02, 0.99, 0.98, 1.01))
    write(dir, "probe_lookalike.json",
      """{"sf": "/root/testdata/sf0.12", "suspects": {
        |  "q_norm": {"fresh_min": 5.0, "floor": 0.5}}}""".stripMargin)
    val (rc, out) = fold(dir, "--fold-probe", "probe_lookalike.json")
    assert(rc != 0 && out.contains("refusing to fold probe"), out)
    // a trailing slash on the genuine dir is still accepted
    write(dir, "probe_slash.json",
      """{"sf": "/root/testdata/sf0.1/", "suspects": {
        |  "q_norm": {"fresh_min": 0.52, "floor": 0.5}}}""".stripMargin)
    val (rc2, out2) = fold(dir, "--fold-probe", "probe_slash.json")
    assert(rc2 == 0, out2)
  }

  test("unknown keys in the history and baseline survive a fold " +
      "(placed where the name:number scanners never look)") {
    assume(havePython, "python3 not on PATH")
    val dir = Files.createTempDirectory("fold_keys")
    write(dir, "bench_history.json",
      """{"k": 5, "note": "why this window was seeded", "runs": [
        | {"source": "run 1", "n": 2,
        |  "queries": {"q_freak": 1.0, "q_norm": 0.5}},
        | {"source": "run 2", "n": 2,
        |  "queries": {"q_freak": 1.0, "q_norm": 0.5}},
        | {"source": "run 3", "n": 2,
        |  "queries": {"q_freak": 1.0, "q_norm": 0.5}}]}""".stripMargin)
    write(dir, "bench_out.json",
      """{"queries": {"q_freak": 1.0, "q_norm": 0.5}}""")
    val (rc, out) = fold(dir, "--source", "keys fold")
    assert(rc == 0, out)
    val hist = Files.readString(dir.resolve("bench_history.json"))
    assert(hist.contains("why this window was seeded"),
      s"fold dropped a hand-added history key: $hist")
    assert(hist.indexOf("\"note\"") < hist.indexOf("\"runs\""), hist)
    // trailing medians read only runs[*].queries, so the note cannot
    // pollute them
    assert(Bench.trailingMedians(
      dir.resolve("bench_history.json"))("q_norm") == 0.5)
  }

  test("a run on another core count is refused; a baseline without " +
      "one takes the run's") {
    assume(havePython, "python3 not on PATH")
    val dir = Files.createTempDirectory("fold_cpus")
    seedHistory(dir, Seq(1.00, 1.02, 0.99, 0.98, 1.01))
    write(dir, "bench_baseline.json",
      """{"source": "r17", "cpus": 32, "sf": "sf0.1",
        | "queries": {"q_freak": 0.98}}""".stripMargin)
    write(dir, "bench_out.json",
      """{"sf": "/data/sf0.1", "cpus": 4,
        | "queries": {"q_freak": 0.2, "q_norm": 0.1}}""".stripMargin)
    val before = (Files.readString(dir.resolve("bench_baseline.json")),
      Files.readString(dir.resolve("bench_history.json")))
    val (rc, out) = fold(dir, "--source", "4-core run")
    assert(rc != 0 && out.contains("refusing to fold"), out)
    assert((Files.readString(dir.resolve("bench_baseline.json")),
      Files.readString(dir.resolve("bench_history.json"))) === before)
    // a legacy run that states no core count is refused too
    write(dir, "bench_out.json",
      """{"sf": "/data/sf0.1", "queries": {"q_freak": 0.99}}""")
    val (rcLegacy, outLegacy) = fold(dir, "--source", "legacy run")
    assert(rcLegacy != 0 && outLegacy.contains("refusing to fold"), outLegacy)
    // the same core count folds
    write(dir, "bench_out.json",
      """{"sf": "/data/sf0.1", "cpus": 32,
        | "queries": {"q_freak": 0.99, "q_norm": 0.55}}""".stripMargin)
    val (rc32, out32) = fold(dir, "--source", "32-core run")
    assert(rc32 == 0, out32)
    assert(Bench.floorsAt(dir.resolve("bench_baseline.json"), 32,
      "/data/sf0.1")("q_freak") == 0.98)
    // a baseline with no core count adopts the first run's
    val fresh = Files.createTempDirectory("fold_cpus_fresh")
    seedHistory(fresh, Seq(1.00, 1.02, 0.99))
    write(fresh, "bench_out.json",
      """{"sf": "/data/sf0.1", "cpus": 4,
        | "queries": {"q_freak": 1.0, "q_norm": 0.5}}""".stripMargin)
    val (rcFresh, outFresh) = fold(fresh, "--source", "first run")
    assert(rcFresh == 0, outFresh)
    assert(Bench.floorsAt(fresh.resolve("bench_baseline.json"), 4,
      "/data/sf0.1").nonEmpty)
  }

  test("a run at another scale factor is refused; a baseline without " +
      "one takes the run's") {
    assume(havePython, "python3 not on PATH")
    val dir = Files.createTempDirectory("fold_sf")
    seedHistory(dir, Seq(1.00, 1.02, 0.99, 0.98, 1.01))
    write(dir, "bench_baseline.json",
      """{"source": "r17", "cpus": 4, "sf": "sf0.1",
        | "queries": {"q_freak": 0.98}}""".stripMargin)
    val before = (Files.readString(dir.resolve("bench_baseline.json")),
      Files.readString(dir.resolve("bench_history.json")))
    // another sf, a look-alike dir, and a run that states no sf: refused,
    // nothing written
    Seq(""""sf": "/data/sf0.01", """, """"sf": "/data/sf0.1b", """, "")
      .foreach { sf =>
        write(dir, "bench_out.json",
          s"""{$sf"cpus": 4, "queries": {"q_freak": 0.1, "q_norm": 0.1}}""")
        val (rc, out) = fold(dir, "--source", s"run at [$sf]")
        assert(rc != 0 && out.contains("refusing to fold"), out)
        assert((Files.readString(dir.resolve("bench_baseline.json")),
          Files.readString(dir.resolve("bench_history.json"))) === before)
      }
    // the same sf folds, with or without a trailing slash
    write(dir, "bench_out.json",
      """{"sf": "/data/sf0.1/", "cpus": 4,
        | "queries": {"q_freak": 0.99, "q_norm": 0.55}}""".stripMargin)
    val (rcSame, outSame) = fold(dir, "--source", "sf0.1 run")
    assert(rcSame == 0, outSame)
    assert(Bench.floorsAt(dir.resolve("bench_baseline.json"), 4,
      "/data/sf0.1")("q_freak") == 0.98)
    // a baseline with no sf adopts the first run's basename
    val fresh = Files.createTempDirectory("fold_sf_fresh")
    seedHistory(fresh, Seq(1.00, 1.02, 0.99))
    write(fresh, "bench_baseline.json",
      """{"cpus": 4, "queries": {"q_freak": 1.0}}""")
    write(fresh, "bench_out.json",
      """{"sf": "/data/sf0.01", "cpus": 4,
        | "queries": {"q_freak": 1.0, "q_norm": 0.5}}""".stripMargin)
    val (rcFresh, outFresh) = fold(fresh, "--source", "first run")
    assert(rcFresh == 0, outFresh)
    assert(Files.readString(fresh.resolve("bench_baseline.json"))
      .contains(""""sf": "sf0.01""""))
    assert(Bench.floorsAt(fresh.resolve("bench_baseline.json"), 4,
      "/data/sf0.01").nonEmpty)
    assert(Bench.floorsAt(fresh.resolve("bench_baseline.json"), 4,
      "/data/sf0.1").isEmpty)
  }

  test("small windows (<3 samples) admit the min: a new query's floor " +
      "converges as its window fills") {
    assume(havePython, "python3 not on PATH")
    val dir = Files.createTempDirectory("fold_small")
    write(dir, "bench_history.json",
      """{"k": 5, "runs": [
        | {"source": "run 1", "n": 1, "queries": {"q_new": 1.0}},
        | {"source": "run 2", "n": 1, "queries": {"q_new": 0.3}}]}"""
        .stripMargin)
    write(dir, "bench_out.json", """{"queries": {"q_new": 1.0}}""")
    val (rc, out) = fold(dir, "--source", "small window")
    assert(rc == 0, out)
    // 3 samples now: [0.3, 1.0, 1.0] median 1.0 → 0.3 is a freak with
    // no confirmation → floor 1.0; before the third run the min stood
    assert(baseline(dir)("q_new") == 1.0, baseline(dir).toString)
  }
}
