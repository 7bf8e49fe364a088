#!/usr/bin/env python3
"""Maintain bench_baseline.json as TRAILING-WINDOW floors.

Policy (BASELINE.md "Round 14: trailing-window floors" — the standing
decision rule recorded in round 13): a query's floor is the MIN over the
last K (default 5) FULL-SURFACE runs, not the all-time min. Rationale:
three rounds of evidence show per-QUERY-CLASS host drift (the md5/
tight-CPU-loop class stopped reproducing floors set in earlier windows
while scan/agg floors still reproduced), so an all-time min-fold demands
hand-audited "environment repins" every time the host character shifts;
a scalar environment factor would be wrong (it would penalize at-floor
classes to excuse drifted ones). A trailing window absorbs per-class
drift automatically while still catching real regressions: a code
slowdown breaches against floors set in the SAME host era.

Mechanics:
- bench_history.json holds the last K full runs' per-query times
  ({"k": K, "probe_samples": [...], "runs": [{"source": str, "n": int,
  "queries": {...}}]}).
- Each fold appends the new run, trims to K, and REGENERATES
  bench_baseline.json "queries" = per-query min over the window (a query
  missing from some runs takes the min over the runs that measured it).
- FLOOR-ADMISSION GUARD (round 17): one anomalously FAST sample is as
  poisonous as a stale slow floor — r16's run 5 recorded ref_crop_video
  at 0.60x and web_extract_text at 0.42x their own floors (physically
  implausible on unchanged code; the same run's fleet median was
  1.080x), the min-fold admitted both, and every subsequent HONEST
  measurement read as a 1.7-2.8x breach: two-run-"confirmed" phantom
  regressions, and in a quiet window the auto-probe would have
  false-CONFIRMed them as code. Symmetric two-run discipline, mirroring
  the suspect rule: a candidate floor that undercuts the query's
  trailing-window MEDIAN by >30% is quarantined until a second sample
  (a later run, or a probe-provenance sample) lands within 15% of it;
  until then the floor is the next non-quarantined sample. Quarantined
  candidates are recorded in the baseline's "quarantined" audit section.
- Scale guard: floors are only comparable at one core count and one
  scale factor. The baseline records the run's "cpus" and "sf" (the
  basename of the "sf" fixture dir Bench writes into bench_out.json),
  and a run measured on a different core count or sf, or one that
  states none, is refused; a baseline that records none yet takes the
  first run's.
- Subset guard: a run measuring < 90% of the window's max query count is
  refused (it would rotate a full run out of the window without
  replacing its coverage). Override with --subset-ok only for a
  deliberate surface shrink.
- --repin NAME=VALUE --evidence "...": the audited escape, now reserved
  for KEYSPACE fixes (e.g. the r13 ev_seasonality name collision). It
  overwrites the floor directly and records the audit trail; the next
  fold that measures the query recomputes it from the window, so a repin
  is self-healing rather than permanent.
- --drop-query NAME --evidence "...": purge a query's samples from every
  window run (the keyspace-fix primitive: after a collision, the old
  samples describe a different query). Next fold re-adds it clean.
- --drop-sample NAME@SOURCE_SUBSTR --evidence "...": purge ONE sample —
  the surgical form for a single poisoned measurement (r16's freak run
  5 pair); the query's other window samples stay and keep its floor
  honest instead of blanking it for a fold.
- --fold-probe FILE --evidence/--source: ingest an auto-probe artifact's
  fresh_min re-measurements as PROBE-PROVENANCE samples (r17 task 5).
  They are never floor-eligible on their own — a probe re-measures
  suspects in one window — but they count as the guard's confirming
  second sample, so the freshest evidence is visible to the next fold.

graft.Bench reads both files structurally (the baseline's "queries",
"cpus" and "sf", the history's runs[*].queries), so key order is
cosmetic: the audit sections come before "queries" and the probe
samples before "runs" only to keep the files readable.

Usage:
  fold_baseline.py [--bench bench_out.json] [--baseline bench_baseline.json]
                   [--history bench_history.json] [--k 5]
                   [--source "text"] [--subset-ok]
  fold_baseline.py --repin name=value --evidence "why" [--baseline ...]
  fold_baseline.py --drop-query name --evidence "why" [--history ...]
  fold_baseline.py --seed run1.json run2.json ... --source "text"
"""
import argparse
import json
import os
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def dump_baseline(path, base):
    # source, any other keys (cpus, sf, hand-added notes), the audit
    # sections, then the floors
    out = {"source": base.get("source", "")}
    for key, val in base.items():
        if key not in ("source", "repinned", "quarantined", "queries"):
            out[key] = val
    if base.get("repinned"):
        out["repinned"] = dict(sorted(base["repinned"].items()))
    if base.get("quarantined"):
        out["quarantined"] = dict(sorted(base["quarantined"].items()))
    out["queries"] = dict(sorted(base["queries"].items()))
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


def dump_history(path, hist):
    # k, any other keys (hand-added notes), the probe samples, then the
    # runs
    out = {"k": hist["k"]}
    for key, val in hist.items():
        if key not in ("k", "probe_samples", "runs"):
            out[key] = val
    if hist.get("probe_samples"):
        out["probe_samples"] = hist["probe_samples"]
    out["runs"] = hist["runs"]
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


def sf_name(sf_dir):
    """The scale factor a run's "sf" names: its fixture dir's basename."""
    return os.path.basename(sf_dir.rstrip("/")) if sf_dir else None


def check_scale(base, bench, label):
    """Refuse a run measured on another core count or sf than the floors."""
    for key, got in (("cpus", bench.get("cpus")),
                     ("sf", sf_name(bench.get("sf")))):
        want = base.get(key)
        if want is None:
            if got is not None:
                base[key] = got
        elif got != want:
            sys.exit(f"refusing to fold {label}: measured at {key}={got}, "
                     f"the baseline's floors are {key}={want} numbers")


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


# floor-admission guard thresholds (module docstring, round 17): a
# candidate undercutting the window median by >30% needs a second
# sample within 15% before it may gate
UNDERCUT = 0.70
CONFIRM_TOL = 1.15


def admit_floor(run_vals, probe_vals=()):
    """The guarded floor for one query, plus any quarantined candidates.

    Walk the window samples ascending: a candidate at or above
    UNDERCUT x window-median is admitted outright; a freak candidate
    below it is admitted only if a second independent sample — a later
    window sample or a probe-provenance sample — lands within
    CONFIRM_TOL of it. Quarantined samples stay in the history (a
    future confirming run admits them) but never gate. With <3 window
    samples there is no median to call a freak against: the min stands
    (a new query's floor converges as its window fills).
    """
    vals = sorted(run_vals)
    if len(vals) < 3:
        return vals[0], []
    med = _median(vals)
    quarantined = []
    for i, v in enumerate(vals):
        if v >= UNDERCUT * med or i == len(vals) - 1:
            return v, quarantined
        confirm = [e for e in vals[i + 1:] if e <= CONFIRM_TOL * v]
        # probe confirmation is TWO-sided: a probe sample far BELOW the
        # candidate is itself anomalous and must not vouch for it (the
        # window-sample arm above is implicitly two-sided: sorted, e>=v)
        confirm += [p for p in probe_vals
                    if abs(p - v) <= (CONFIRM_TOL - 1) * v]
        if confirm:
            return v, quarantined
        quarantined.append(v)
    return vals[-1], quarantined  # unreachable: last index admits above


def reapply_held_pins(base):
    """Re-apply standing repins ('-> VALUE:' notes) whose query has no
    window sample, WITHOUT advancing the '[held N]' age or retiring
    notes — the bookkeeping belongs to the real fold path only. The
    --drop-sample/--fold-probe paths regenerate floors too, and before
    this helper they silently dropped a pinned-but-unmeasured query's
    floor until the next full fold.
    """
    import re
    for name, note in base.get("repinned", {}).items():
        if name in base["queries"]:
            continue
        m = re.search(r"-> ([0-9.eE+-]+):", note)
        if m:
            base["queries"][name] = float(m.group(1))


def window_floors(hist):
    """Per-query guarded floors over the window; records quarantines."""
    samples, probes = {}, {}
    for run in hist["runs"]:
        for name, v in run["queries"].items():
            samples.setdefault(name, []).append(v)
    for p in hist.get("probe_samples", []):
        for name, v in p["queries"].items():
            probes.setdefault(name, []).append(v)
    floors, quarantine_notes = {}, {}
    for name, vals in samples.items():
        floor, quarantined = admit_floor(vals, probes.get(name, ()))
        floors[name] = floor
        if quarantined:
            quarantine_notes[name] = (
                f"{quarantined} quarantined (undercut window median "
                f"{_median(vals):.4g} by >{round((1 - UNDERCUT) * 100)}% "
                f"with no second sample within "
                f"{round((CONFIRM_TOL - 1) * 100)}%); floor {floor}")
    return floors, quarantine_notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--bench", default="bench_out.json")
    ap.add_argument("--baseline", default="bench_baseline.json")
    ap.add_argument("--history", default="bench_history.json")
    ap.add_argument("--k", type=int, default=5,
                    help="window size: floors = min over last K full runs")
    ap.add_argument("--source", default=None,
                    help="label for this run / the baseline's source line")
    ap.add_argument("--subset-ok", action="store_true",
                    help="fold a run covering <90%% of the window surface")
    ap.add_argument("--repin", action="append", default=[],
                    metavar="NAME=VALUE",
                    help="overwrite NAME's floor (keyspace fixes; needs "
                         "--evidence; superseded at NAME's next fold)")
    ap.add_argument("--drop-query", action="append", default=[],
                    metavar="NAME",
                    help="purge NAME's samples from the history window "
                         "(needs --evidence)")
    ap.add_argument("--drop-sample", action="append", default=[],
                    metavar="NAME@SOURCE_SUBSTR",
                    help="purge NAME's sample from the window run(s) "
                         "whose source contains SOURCE_SUBSTR (needs "
                         "--evidence)")
    ap.add_argument("--fold-probe", default=None, metavar="PROBE.json",
                    help="ingest a probe_adjudication.json's fresh_min "
                         "re-measurements as probe-provenance samples "
                         "(guard confirmation evidence, never floors)")
    ap.add_argument("--expect-sf", default="sf0.1",
                    help="substring the probe artifact's sf must contain "
                         "before --fold-probe accepts it (scale "
                         "discipline; default sf0.1, the main chain)")
    ap.add_argument("--seed", nargs="*", default=None,
                    metavar="RUN.json",
                    help="initialize the history from existing full-run "
                         "bench files (oldest first), then regenerate")
    ap.add_argument("--evidence", default=None,
                    help="audit trail for --repin/--drop-query, recorded "
                         "in the baseline's repinned section")
    args = ap.parse_args()

    base = load(args.baseline) if os.path.exists(args.baseline) else {}
    base.setdefault("queries", {})
    base.setdefault("repinned", {})
    hist = (load(args.history) if os.path.exists(args.history)
            else {"k": args.k, "runs": []})
    hist["k"] = args.k

    if (args.repin or args.drop_query or args.drop_sample) \
            and not args.evidence:
        sys.exit("--repin/--drop-query/--drop-sample require --evidence "
                 "(the audit trail is the point)")

    if args.repin:
        for spec in args.repin:
            name, _, val = spec.partition("=")
            if not val:
                sys.exit(f"bad --repin {spec!r}: want NAME=VALUE")
            old = base["queries"].get(name)
            base["queries"][name] = float(val)
            base["repinned"][name] = (
                f"{old} -> {float(val)}: {args.evidence}")
            # a repin declares the window's existing samples for this
            # query WRONG (keyspace fix) — purge them, or the very next
            # fold would regenerate the floor from the same bad samples
            # and silently undo the repin (r15 ADVICE fix). The pin then
            # stands until the query is next MEASURED, which is the
            # documented self-healing.
            n = sum(1 for run in hist["runs"]
                    if run["queries"].pop(name, None) is not None)
            print(f"repinned {name}: {old} -> {val} "
                  f"(+ dropped {n} window samples)")
        dump_history(args.history, hist)
        dump_baseline(args.baseline, base)
        return

    # the drop/fold-probe branches REGENERATE floors from the window; with
    # no run history that would wipe the whole baseline on a mis-invocation
    # (wrong --history path, fresh checkout)
    if (args.drop_query or args.drop_sample or args.fold_probe) \
            and not hist["runs"]:
        sys.exit("no run history at the --history path; refusing to "
                 "regenerate (this would empty the baseline)")

    if args.drop_query or args.drop_sample:
        for name in args.drop_query:
            n = sum(1 for run in hist["runs"] if run["queries"].pop(name, None)
                    is not None)
            base["repinned"][name] = (
                f"dropped {n} window samples: {args.evidence}")
            print(f"dropped {name} from {n} window runs")
        for spec in args.drop_sample:
            name, sep, src = spec.partition("@")
            if not sep or not src:
                sys.exit(f"bad --drop-sample {spec!r}: "
                         "want NAME@SOURCE_SUBSTR")
            dropped = []
            for run in hist["runs"]:
                if src in run["source"] and \
                        run["queries"].pop(name, None) is not None:
                    dropped.append(run["source"])
            if not dropped:
                sys.exit(f"--drop-sample {spec!r} matched no window "
                         "sample; nothing dropped")
            base["repinned"][name] = (
                f"dropped sample(s) from {dropped}: {args.evidence}")
            print(f"dropped {name} sample from {dropped}")
        base["queries"], base["quarantined"] = window_floors(hist)
        reapply_held_pins(base)
        dump_history(args.history, hist)
        dump_baseline(args.baseline, base)
        return

    if args.fold_probe:
        probe = load(args.fold_probe)
        # scale discipline (same rule as Bench.readPriorSuspects): a
        # probe measured at another sf says nothing about this chain's
        # floors — its ~Nx-different timings must never become
        # confirmation evidence here
        sf = probe.get("sf", "")
        # exact basename match, same discipline as Bench.readPriorSuspects'
        # equality check — a substring test would admit look-alike dirs
        # (sf0.12, sf0.1b) whose ~Nx-different timings must not vouch here
        if os.path.basename(sf.rstrip("/")) != args.expect_sf:
            sys.exit(f"refusing to fold probe at sf={sf!r} into the "
                     f"{args.expect_sf!r} chain (pass --expect-sf to "
                     "override for a deliberate off-scale chain)")
        qs = {name: row["fresh_min"]
              for name, row in probe.get("suspects", {}).items()
              if isinstance(row, dict) and "fresh_min" in row}
        if not qs:
            print(f"{args.fold_probe}: no fresh_min samples to fold")
            return
        hist.setdefault("probe_samples", []).append({
            "source": args.source or args.fold_probe, "age": 0,
            "queries": qs})
        # bound the provenance list: ~4 probes per window era is plenty
        # of confirmation evidence (count cap here; ERA expiry — age >=
        # k full folds — happens in the main fold path, where window
        # rotation is actually measured)
        hist["probe_samples"] = hist["probe_samples"][-4:]
        base["queries"], base["quarantined"] = window_floors(hist)
        reapply_held_pins(base)
        dump_history(args.history, hist)
        dump_baseline(args.baseline, base)
        print(f"folded {len(qs)} probe sample(s) from {args.fold_probe}")
        return

    if args.seed is not None:
        hist["runs"] = []
        # seeding replaces the window WHOLESALE — any standing probe
        # provenance belongs to the era the seed is discarding, and a
        # dead-era probe must not confirm freak floors in the new
        # window (the same invariant the age-based expiry enforces one
        # fold at a time)
        if hist.pop("probe_samples", None):
            print("probe sample(s) discarded (seed replaces the era)")
        for path in args.seed:
            bench = load(path)
            check_scale(base, bench, path)
            hist["runs"].append({"source": os.path.basename(path),
                                 "n": len(bench["queries"]),
                                 "queries": bench["queries"]})
        hist["runs"] = hist["runs"][-args.k:]
    else:
        bench = load(args.bench)
        check_scale(base, bench, args.bench)
        n = len(bench["queries"])
        surface = max((r["n"] for r in hist["runs"]), default=0)
        if hist["runs"] and n < 0.9 * surface and not args.subset_ok:
            sys.exit(f"refusing to fold a {n}-query run into a "
                     f"{surface}-query window (subset would rotate out a "
                     f"full run); pass --subset-ok to override")
        hist["runs"].append({"source": args.source or args.bench,
                             "n": n, "queries": bench["queries"]})
        hist["runs"] = hist["runs"][-args.k:]

    # age probe provenance with the window: after k full folds the run
    # window has fully rotated, and a probe from that dead host era must
    # not keep confirming floors the current window cannot support
    if hist.get("probe_samples"):
        for p in hist["probe_samples"]:
            p["age"] = p.get("age", 0) + 1
        expired = [p for p in hist["probe_samples"] if p["age"] >= hist["k"]]
        hist["probe_samples"] = [p for p in hist["probe_samples"]
                                 if p["age"] < hist["k"]]
        for p in expired:
            print(f"probe sample(s) from {p['source']!r} expired "
                  f"(window fully rotated)")

    old = dict(base["queries"])
    base["queries"], base["quarantined"] = window_floors(hist)
    # re-apply still-standing repins: a pinned query with NO sample left
    # in the window (its bad samples were purged at repin time) keeps
    # its pinned floor until it is next measured; without this it would
    # vanish from the baseline — and before r15 it was silently
    # clobbered by the first regeneration after the repin. The hold is
    # BOUNDED at k folds (tracked as "[held N]" in the audit note): a
    # query unmeasured for a full window has left the bench surface
    # (renamed/retired), and an unbounded hold would carry its phantom
    # floor forever.
    import re
    repins_held = 0
    for name, note in list(base.get("repinned", {}).items()):
        m = re.search(r"-> ([0-9.eE+-]+):", note)
        if name in base["queries"]:
            # "dropped ..." notes are PERMANENT audit records of a
            # surgical intervention (--drop-query/--drop-sample) — the
            # evidence trail is the point, and the query re-appearing
            # in the window is the expected aftermath of a sample
            # drop, not a reason to erase why the drop happened.
            if m is None:
                continue
            # re-measured value repin: the window floor now regenerates
            # from fresh samples, so the pin governs nothing — drop it.
            # Keeping it would leave a stale "[held N]" suffix that
            # makes a LATER unmeasured stretch resume the bounded hold
            # at N (expiring early).
            del base["repinned"][name]
            print(f"repin for {name} retired (re-measured; window floor "
                  f"is fresh)")
            continue
        if not m:
            continue
        hm = re.search(r" \[held (\d+)\]$", note)
        held = int(hm.group(1)) if hm else 0
        if held >= hist["k"]:
            print(f"repin for {name} expired after {held} folds "
                  f"unmeasured (left the surface); floor dropped")
            continue
        base["queries"][name] = float(m.group(1))
        stripped = note[:hm.start()] if hm else note
        base["repinned"][name] = f"{stripped} [held {held + 1}]"
        repins_held += 1
    if repins_held:
        print(f"{repins_held} repin(s) held (query not yet re-measured)")
    up = sum(1 for q, v in base["queries"].items()
             if q in old and v > old[q] + 1e-12)
    down = sum(1 for q, v in base["queries"].items()
               if q in old and v < old[q] - 1e-12)
    added = sum(1 for q in base["queries"] if q not in old)
    gone = sum(1 for q in old if q not in base["queries"])
    print(f"window={len(hist['runs'])}/{hist['k']} runs; floors: "
          f"{down} lowered, {up} raised (window rotation), {added} added, "
          f"{gone} left surface")

    if args.source:
        base["source"] = args.source
    dump_history(args.history, hist)
    dump_baseline(args.baseline, base)


if __name__ == "__main__":
    main()
