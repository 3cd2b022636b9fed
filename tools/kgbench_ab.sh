#!/bin/bash
# Paired A/B run of the repository benchmark (kgbench/run.py): a commit
# against the checkout this script runs in, on one workload.
#
# Usage: tools/kgbench_ab.sh <commit> <workload> <pairs> [first-seed]
#        tools/kgbench_ab.sh --layers <commit> <workload> [seed]
#
# End-to-end mode (--trace 0): pair i runs seed first-seed+i (default
# first seed 5001) on both sides, for BENCHMARK.json's run_seconds,
# alternating which side runs first.
# The commit side runs from a fresh `git archive` export of <commit> in a
# temporary directory (nothing is registered in .git; the benchmark
# builds it there); the other side runs in this checkout, HEAD plus any
# uncommitted edits. Each run's result line is printed as it finishes.
# The summary gives, per end-to-end metric, each side's median and
# quartiles, how many pairs the checkout wins (by the metric's "better"
# direction; ties count for neither), and whether that is a gain: a win
# in at least nine tenths of the pairs and medians further apart than
# the distance between the commit side's quartiles. For query_fleet it
# also prints each query's median seconds per side, from the line before
# each run's result.
#
# Per-layer mode (--layers, --trace 1): one traced run per side on the
# same seed (default 1001), commit side first. It prints every per-layer
# metric of BENCHMARK.json side by side with the change, and flags with
# `!` the deterministic counters that differ (Spark jobs, stages and
# tasks, the reread factor, model calls, build and upsert counts): those
# name the layer a timing change came from. For query_fleet it then
# prints each query's construction seconds and eager Spark jobs in the
# traced pass, from both sides' .kgbench/traces/ span files.
set -euo pipefail
LAYERS=0
if [[ "${1:-}" == "--layers" ]]; then LAYERS=1; shift; fi
BASE=${1:?commit to compare against (e.g. the parent commit)}
WORKLOAD=${2:?workload name from BENCHMARK.json}
if ((LAYERS)); then
  PAIRS=1 TRACE=1 SEED0=${3:-1001}
else
  PAIRS=${3:?number of pairs} TRACE=0 SEED0=${4:-5001}
fi
ROOT=$(git rev-parse --show-toplevel)
SECONDS_PER_RUN=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$ROOT/BENCHMARK.json")

WORK=$(mktemp -d "${TMPDIR:-/tmp}/kgbench_ab_XXXXXX")
trap 'rm -rf "$WORK"' EXIT
mkdir "$WORK/base"
git -C "$ROOT" archive "$BASE" | tar -x -C "$WORK/base"
echo "== $WORKLOAD, $PAIRS pairs, --trace $TRACE, ${SECONDS_PER_RUN} s runs: base $(git -C "$ROOT" rev-parse --short "$BASE") vs checkout $(git -C "$ROOT" rev-parse --short HEAD)$(git -C "$ROOT" diff --quiet HEAD || echo '+edits') =="

run() {  # <side> <dir> <seed>
  local out line info
  out=$(cd "$2" && python3 kgbench/run.py --workload "$WORKLOAD" --seed "$3" \
    --seconds "$SECONDS_PER_RUN" --trace "$TRACE" 2>>"$WORK/$1.log" | tail -n 2) || true
  # the last line is the result; the one before it carries per-query times
  line=$(tail -n 1 <<<"$out")
  info=$(head -n 1 <<<"$out")
  if [[ "$line" != "{"* || "$info" != "{"* || "$info" == "$line" ]]; then info='{}'; fi
  if [[ "$line" != "{"* ]]; then
    tail -n 20 "$WORK/$1.log" >&2
    line='{"correct": false, "attempted": 0, "failed": 0, "metrics": {}}'
  fi
  echo "$1 seed=$3 $line"
  echo "{\"side\": \"$1\", \"seed\": $3, \"dir\": \"$2\", \"result\": $line, \"info\": $info}" \
    >>"$WORK/results.jsonl"
}

for ((i = 0; i < PAIRS; i++)); do
  seed=$((SEED0 + i))
  if ((i % 2 == 0)); then
    run base "$WORK/base" "$seed"; run change "$ROOT" "$seed"
  else
    run change "$ROOT" "$seed"; run base "$WORK/base" "$seed"
  fi
done

python3 - "$ROOT/BENCHMARK.json" "$WORK/results.jsonl" "$LAYERS" "$WORKLOAD" <<'EOF'
import json, sys

spec = json.load(open(sys.argv[1]))
spec_workload = sys.argv[4]
runs = [json.loads(l) for l in open(sys.argv[2])]
side = {s: {r["seed"]: r["result"] for r in runs if r["side"] == s} for s in ("base", "change")}
seeds = sorted(side["base"])


def quartiles(xs):
    xs = sorted(xs)
    def q(p):
        k = (len(xs) - 1) * p
        lo = int(k)
        hi = min(lo + 1, len(xs) - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
    return q(0.25), q(0.5), q(0.75)


for s in ("base", "change"):
    bad = [seed for seed, r in side[s].items() if not r["correct"]]
    failed = sum(r["failed"] for r in side[s].values())
    attempted = sum(r["attempted"] for r in side[s].values())
    print(f"{s}: {len(side[s]) - len(bad)}/{len(side[s])} runs correct"
          f"{' (failing seeds ' + str(bad) + ')' if bad else ''}, {failed}/{attempted} operations failed")

def per_query(s):
    """Each query's seconds per seed (query_fleet's info line)."""
    out = {}
    for r in runs:
        if r["side"] == s:
            for q, t in ((r.get("info") or {}).get("query_s") or {}).items():
                out.setdefault(q, []).append(t)
    return out


if sys.argv[3] == "1":
    # counters that do not depend on timing (timings end in _s): a
    # difference is a change in work
    exact = ("spark.jobs", "spark.stages", "spark.tasks", "pipeline.reread_factor",
             "llm.calls", "build.", "upsert.")
    b, c = side["base"][seeds[0]]["metrics"], side["change"][seeds[0]]["metrics"]
    fmt = lambda m, k: f"{m[k]['value']:.4g}" if k in m else "-"
    print(f"  {'metric':<28} {'base':>12} {'change':>12}")
    for m in spec["per_layer"]:
        k = m["name"]
        if k not in b and k not in c:
            continue
        differs = k.startswith(exact) and not k.endswith("_s") and fmt(b, k) != fmt(c, k)
        print(f"{'!' if differs else ' '} {k:<28} {fmt(b, k):>12} {fmt(c, k):>12}  ({m['unit']}, {m['better']} is better)")
    # per query of the traced pass: construction seconds and the Spark
    # jobs it ran eagerly, from each side's span trace
    def construct(s):
        r = next(r for r in runs if r["side"] == s)
        try:
            spans = json.load(open(f"{r['dir']}/.kgbench/traces/{spec_workload}-seed{r['seed']}.json"))["spans"]
        except (OSError, ValueError, KeyError):
            return {}
        by_id = {x["id"]: x for x in spans}
        return {by_id[x["parent"]]["name"]: (x["dur_s"], x["counters"]["jobs"])
                for x in spans if x["pass"] == 2 and x["name"] == "construct"
                and by_id.get(x["parent"], {}).get("layer") != "pass"}
    cb, cc = construct("base"), construct("change")
    if cb or cc:
        print(f"  {'query':<28} {'construct_s':>23} {'eager jobs':>15}")
        for q in list(cb) + [q for q in cc if q not in cb]:
            (bs, bj), (cs, cj) = cb.get(q, (0, 0)), cc.get(q, (0, 0))
            print(f"{'!' if bj != cj else ' '} {q:<28} {bs:>11.3f} {cs:>11.3f} {bj:>7.0f} {cj:>7.0f}")
    sys.exit(0)

print(f"{'metric':<20} {'base q1/med/q3':>26} {'change q1/med/q3':>26} {'wins':>6}  gain")
for m in spec["end_to_end"]:
    name, higher = m["name"], m["better"] == "higher"
    pairs = [(side["base"][s]["metrics"][name]["value"], side["change"][s]["metrics"][name]["value"])
             for s in seeds
             if name in side["base"][s]["metrics"] and name in side["change"][s]["metrics"]]
    if not pairs:
        print(f"{name:<20} no paired values")
        continue
    b, c = quartiles([p[0] for p in pairs]), quartiles([p[1] for p in pairs])
    wins = sum((y > x) if higher else (y < x) for x, y in pairs)
    gain = wins >= 0.9 * len(pairs) and abs(c[1] - b[1]) > b[2] - b[0]
    fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
    print(f"{name:<20} {fmt(b):>26} {fmt(c):>26} {wins:>3}/{len(pairs):<2}  {'yes' if gain else 'no'}"
          f"  ({m['unit']}, {m['better']} is better)")

qb, qc = per_query("base"), per_query("change")
if qb or qc:
    print(f"{'query':<20} {'base median':>26} {'change median':>26}  (s)")
    for q in list(qb) + [q for q in qc if q not in qb]:
        med = lambda xs: f"{quartiles(xs)[1]:.4g}" if xs else "-"
        print(f"{q:<20} {med(qb.get(q, [])):>26} {med(qc.get(q, [])):>26}")
EOF
