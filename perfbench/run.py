#!/usr/bin/env python3
"""Pipeline benchmark: the paper's video -> TFRecord job, end to end.

    python3 perfbench/run.py --workload crop_video_sliding --seed 1 --seconds 10 --trace 0

Builds the repository and the benchmark from source (perfbench/build.py),
then runs perfbench.PipelineBench, which generates a seeded corpus of real
MJPEG containers and drives graft.Main.run over it. An untraced run uses two
JVMs, one for a second set-up and cold pass and one for everything else; a
traced run uses one. The last line of standard output is one JSON object: `correct`, `attempted` and
`failed` (kept files, counted per pass) and `metrics` (the end-to-end
metrics with --trace 0, the per-layer ones with --trace 1). Spans of a
traced run are written to .bench_build/trace/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["single_frame_many", "crop_video_sliding"]
JVM_TIMEOUT_S = 170  # for all JVMs of one run

# The --add-opens set build.sbt gives forked runs: Spark on JDK 17 needs it
# when the session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(classpath, a, part, deadline):
    """Runs one PipelineBench JVM for `part`; returns (exit code, result).
    The exit code is None when the JVM outlived `deadline`."""
    work = os.path.join(build.BUILD, "work",
                        f"{a.workload}-{a.seed}-{os.getpid()}-{part}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    spans = os.path.join(build.BUILD, "trace", f"{a.workload}-seed{a.seed}.spans.json")
    # no hsperfdata file: it would land in the system temp directory
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.PipelineBench",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--part", part,
            "--work", work, "--result", result, "--spans", spans]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = None
    try:
        with open(result) as f:
            out = json.load(f)
    except (OSError, ValueError):
        out = None
    shutil.rmtree(work, ignore_errors=True)
    return rc, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"[perfbench] build failed: {e}")

    # Set-up and the cold pass happen once per JVM, so the untraced run
    # takes one more of each from a JVM of its own and reports the median
    # of the two.
    parts = ["per-layer"] if a.trace else ["cold", "end-to-end"]
    deadline = time.monotonic() + JVM_TIMEOUT_S
    results = []
    for part in parts:
        rc, out = run_jvm(classpath, a, part, deadline)
        if rc is None:
            sys.exit(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s")
        if out is None:
            sys.exit(f"[perfbench] {part} run exited with {rc} and no result")
        results.append(out)
        if rc != 0:
            print(json.dumps(out))
            sys.exit(rc)
    merged = results[-1]
    if len(results) > 1:
        for name in ("setup_s", "first_pass_s"):
            merged["metrics"][name]["value"] = statistics.median(
                r["metrics"][name]["value"] for r in results)
        merged["attempted"] = sum(r["attempted"] for r in results)
        merged["failed"] = sum(r["failed"] for r in results)
        merged["metrics"]["files_ok_frac"]["value"] = (
            1 - merged["failed"] / merged["attempted"])
    print(json.dumps(merged))


if __name__ == "__main__":
    main()
