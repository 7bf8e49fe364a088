#!/bin/bash
# One-command order-of-magnitude scaling datapoint (BASELINE.md "sf1.0
# scaling" section): amplify sf0.1 10x with graft.ScaleUp (idempotent —
# the _SCALED marker skips regeneration), then bench the per-family
# Headline query set twice on this host with the same cores: once at
# sf0.1 (sf01_bench_out.json) and once at the scaled dir
# (sf1_bench_out.json). A query's scaling exponent is the log10 of the
# ratio of its `queries` seconds in those two files (sf1 over sf01; with
# a factor other than 10, divide by log10 of the factor): 1.0 = linear,
# super-linear flags an O(n^2)-in-disguise candidate set. Both files
# record `cpus`; compare only a pair that agrees on it.
#
# Usage: scripts/bench_sf1.sh  [writes sf01_bench_out.json, sf1_bench_out.json]
# Env:   SPARK_GRAFT_SF1_DIR (default /tmp/graft_sf1)
#        SPARK_GRAFT_SF1_FACTOR (default 10)
#        SPARK_GRAFT_CPUS (default: graft.Sessions', all processors)
#        SPARK_GRAFT_SHUFFLE (default 64, the same at both scales)
#        SPARK_GRAFT_BENCH_PASSES (default 1 here: at sf1.0 a single
#        pass per query is ~minutes of work; host-burst noise amortizes
#        inside each query instead of across passes)
set -euo pipefail
cd "$(dirname "$0")/.."

DIR="${SPARK_GRAFT_SF1_DIR:-/tmp/graft_sf1}"
FACTOR="${SPARK_GRAFT_SF1_FACTOR:-10}"

if [ ! -f "$DIR/_SCALED" ]; then
  sbt -batch "runMain graft.ScaleUp /root/testdata/sf0.1 $DIR $FACTOR"
fi

# bench <output prefix> [fixture dir]: without a dir, Bench's default
# fixtures, which are sf0.1, the ScaleUp source above
bench() (
  unset SPARK_GRAFT_SF_DIR
  if [ $# -gt 1 ]; then export SPARK_GRAFT_SF_DIR="$2"; fi
  SPARK_GRAFT_SHUFFLE="${SPARK_GRAFT_SHUFFLE:-64}" \
  SPARK_GRAFT_HEADLINE=1 \
  SPARK_GRAFT_OUT_PREFIX="$1" \
  SPARK_GRAFT_BENCH_PASSES="${SPARK_GRAFT_BENCH_PASSES:-1}" \
  sbt -batch "runMain graft.Bench"
)

bench sf01_
bench sf1_ "$DIR"
