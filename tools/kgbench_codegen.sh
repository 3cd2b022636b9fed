#!/bin/bash
# Whole-stage codegen compiles of one repository-benchmark run
# (kgbench/run.py --trace 0) in the checkout or export holding this script.
#
# Usage: tools/kgbench_codegen.sh <workload> [seed]
#
# Spark's CsvSink is injected into the benchmark's JVM through
# JAVA_TOOL_OPTIONS (spark.metrics.conf.driver.sink.csv.*), so the driver
# writes the CodeGenerator.compilationTime histogram (its cumulative
# count and mean compile ms) once a second. The run's own stderr lines
# (passes and checks seconds, counted back from the sink's last report
# at the session's stop) and its pass times place the warm-up and the
# timed passes on that timeline. It prints:
#   - the compiles of the set-up and of the warm-up pass;
#   - the steady compiles per pass: the count's least-squares slope over
#     the timed passes times the median pass time. Above zero, the passes
#     recompile classes Spark's codegen cache (spark.sql.codegen.cache.
#     maxEntries) has evicted;
#   - the compile ms per pass: steady compiles per pass times the
#     histogram's mean compile time at the end of the timed passes (a
#     recency-weighted mean, so an estimate).
# Each run lasts 20 s of timed passes. The sink reports once a second,
# so a 5 s run fits too few reports for a steady slope; the compiles per
# pass do not depend on the run's length.
# No file under kgbench/ changes.
set -euo pipefail
WORKLOAD=${1:?workload name from BENCHMARK.json}
SEED=${2:-1001}
ROOT=$(cd "$(dirname "$0")/.." && pwd)
SECONDS_PER_RUN=20

WORK=$(mktemp -d "${TMPDIR:-/tmp}/kgbench_codegen_XXXXXX")
trap 'rm -rf "$WORK"' EXIT
mkdir "$WORK/csv"
SINK=-Dspark.metrics.conf.driver.sink.csv
export JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:-} $SINK.class=org.apache.spark.metrics.sink.CsvSink \
$SINK.period=1 $SINK.unit=seconds $SINK.directory=$WORK/csv"
echo "== $WORKLOAD seed $SEED, ${SECONDS_PER_RUN} s run, in $ROOT =="
rc=0
(cd "$ROOT" && python3 kgbench/run.py --workload "$WORKLOAD" --seed "$SEED" \
  --seconds "$SECONDS_PER_RUN" --trace 0 >"$WORK/out" 2>"$WORK/err") || rc=$?
if ((rc != 0)); then
  grep -v '^Picked up JAVA_TOOL_OPTIONS' "$WORK/err" | tail -n 20 >&2
  echo "the benchmark run failed ($rc)" >&2
  exit 1
fi

python3 - "$WORK" <<'EOF'
import csv, glob, json, os, re, statistics, sys

work = sys.argv[1]
# a build of the benchmark records its class-data archive in a JVM of its
# own: the run's JVM is the latest application id
files = sorted(glob.glob(os.path.join(work, "csv", "*.driver.CodeGenerator.compilationTime.csv")),
               key=lambda p: int(re.search(r"local-(\d+)", os.path.basename(p)).group(1)))
if not files:
    sys.exit("no CodeGenerator.compilationTime.csv was written")
with open(files[-1]) as f:
    rows = [(float(r["t"]), float(r["count"]), float(r["mean"])) for r in csv.DictReader(f)]
err = open(os.path.join(work, "err")).read()
phase = {m[0]: float(m[1]) for m in re.findall(r"\[kgbench\] (passes|checks) ([\d.]+) s", err)}
info = json.loads(open(os.path.join(work, "out")).read().splitlines()[-2])
passes = info["pass_s"]

# the sink reports a last time when the session stops, right after the
# checks; its whole-second stamp puts that stop within the second after it
timed_end = rows[-1][0] + 0.5 - phase["checks"]
setup_end = timed_end - phase["passes"]
timed_start = timed_end - sum(passes)


def count_at(x):
    """The cumulative compile count at time x, linear between reports."""
    if x <= rows[0][0]:
        return rows[0][1]
    for (t0, c0, _), (t1, c1, _) in zip(rows, rows[1:]):
        if t0 <= x <= t1:
            return c0 + (c1 - c0) * (x - t0) / (t1 - t0)
    return rows[-1][1]


inside = [(t, c) for t, c, _ in rows if timed_start <= t <= timed_end]
if len(inside) >= 2:
    mt = statistics.fmean(t for t, _ in inside)
    mc = statistics.fmean(c for _, c in inside)
    slope = (sum((t - mt) * (c - mc) for t, c in inside) /
             sum((t - mt) ** 2 for t, _ in inside))
else:
    slope = (count_at(timed_end) - count_at(timed_start)) / (timed_end - timed_start)
median_pass = statistics.median(passes)
steady = slope * median_pass
mean_ms = next((m for t, _, m in reversed(rows) if t <= timed_end), rows[-1][2])
print(f"set-up compiles           {count_at(setup_end):8.0f}")
print(f"warm-up pass compiles     {count_at(timed_start) - count_at(setup_end):8.0f}")
print(f"timed passes              {len(passes):8d}   median {median_pass:.3f} s")
print(f"steady compiles per pass  {steady:8.1f}   ({slope:.2f}/s over {len(inside)} reports)")
print(f"compile ms per pass       {steady * mean_ms:8.0f}   (mean compile {mean_ms:.1f} ms)")
print(f"compiles in the run       {rows[-1][1]:8.0f}")
EOF
