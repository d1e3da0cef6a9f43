#!/bin/bash
# Paired A/B of the repository benchmark: a base revision against HEAD.
#
# Usage: scripts/ab.sh <base-rev> <workload> <pairs>
#
# Exports <base-rev> into a separate checkout (git archive, under
# $TMPDIR), then runs `python3 perfbench/run.py --workload W --seed N
# --seconds 15` alternately in the base checkout and in this one (HEAD,
# the checkout the script runs from), swapping which side runs first each
# pair; pair N uses seed N on both sides. One discarded run per side
# first builds that side and warms the page cache.
#
# HEAD is reported as `git describe --dirty`; each run also records the
# perfbench `source_sha` (a hash of the engine and harness sources).
#
# Prints, per end-to-end metric in BENCHMARK.json: each side's median and
# quartiles, the relative median change, and how many pairs HEAD won.
# The full result (every run's metrics) is the JSON printed last on
# stdout; the table goes to stderr.
set -euo pipefail
if [ $# -ne 3 ]; then
  echo "usage: $0 <base-rev> <workload> <pairs>" >&2
  exit 2
fi
BASE_REV="$1"; WORKLOAD="$2"; PAIRS="$3"
cd "$(dirname "$0")/.."
HEAD_DIR="$(pwd)"
BASE_DIR="$(mktemp -d "${TMPDIR:-/tmp}/ab_base.XXXXXX")"
RUNS="$(mktemp "${TMPDIR:-/tmp}/ab_runs.XXXXXX")"
trap 'rm -rf "$BASE_DIR" "$RUNS"' EXIT
git archive "$BASE_REV" | tar -x -C "$BASE_DIR"
BASE_SHA="$(git rev-parse "$BASE_REV")"
HEAD_SHA="$(git describe --always --dirty --abbrev=40)"

run_side() {  # $1 = side (base|head), $2 = seed; appends one record
  local dir="$HEAD_DIR" out rc=0
  [ "$1" = base ] && dir="$BASE_DIR"
  echo "[ab] $WORKLOAD seed $2: $1" >&2
  out="$(cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" \
    --seed "$2" --seconds 15 2>/dev/null)" || rc=$?
  python3 -c 'import json, sys
side, seed, rc, out = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
lines = [json.loads(l) for l in out.splitlines() if l.startswith("{")]
ident = lines[0].get("identity", {}) if lines else {}
res = lines[-1] if rc == 0 and lines else None
print(json.dumps({"side": side, "seed": seed, "rc": rc,
                  "source_sha": ident.get("source_sha"), "result": res}))' \
    "$1" "$2" "$rc" "$out" >>"$RUNS"
}

# warm-up: builds each side once; recorded with seed 0, left out of the
# statistics
run_side base 0
run_side head 0
for ((n = 1; n <= PAIRS; n++)); do
  if ((n % 2)); then run_side base "$n"; run_side head "$n"
  else run_side head "$n"; run_side base "$n"; fi
done

python3 - "$RUNS" "$WORKLOAD" "$BASE_SHA" "$HEAD_SHA" <<'EOF'
import json, statistics, sys
runs_path, workload, base_sha, head_sha = sys.argv[1:]
bench = json.load(open("BENCHMARK.json"))
runs = [json.loads(l) for l in open(runs_path)]
timed = [r for r in runs if r["seed"] > 0]

def ok(r):
    return r["rc"] == 0 and r["result"] is not None

def quartiles(xs):
    if len(xs) < 2:
        return [xs[0]] * 3 if xs else [None] * 3
    q = statistics.quantiles(xs, n=4)
    return [q[0], statistics.median(xs), q[2]]

summary = {}
for side in ("base", "head"):
    rs = [r for r in timed if r["side"] == side]
    attempted = sum(r["result"]["attempted"] for r in rs if ok(r))
    failed = sum(r["result"]["failed"] for r in rs if ok(r))
    summary[side] = {"runs": len(rs), "runs_failed": sum(not ok(r) for r in rs),
                     "ops_attempted": attempted, "ops_failed": failed,
                     "ops_failed_share": failed / attempted if attempted else None}
metrics = {}
print(f"{workload}: base {base_sha[:8]} vs HEAD {head_sha[:8]}", file=sys.stderr)
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    val = {(r["side"], r["seed"]): r["result"]["metrics"][name]["value"]
           for r in timed if ok(r)}
    seeds = sorted({s for (_, s) in val})
    pairs = [(val[("base", s)], val[("head", s)]) for s in seeds
             if ("base", s) in val and ("head", s) in val]
    b = quartiles(sorted(p[0] for p in pairs))
    h = quartiles(sorted(p[1] for p in pairs))
    wins = sum((hv < bv) if lower else (hv > bv) for bv, hv in pairs)
    change = (h[1] - b[1]) / b[1] if pairs and b[1] else None
    metrics[name] = {"unit": m["unit"], "better": m["better"],
                     "bound": m["bound"], "pairs": len(pairs),
                     "base_q1_median_q3": b, "head_q1_median_q3": h,
                     "median_change": change, "head_wins": wins,
                     "base_iqr_over_median":
                         (b[2] - b[0]) / b[1] if pairs and b[1] else None}
    print(f"  {name:16s} base {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}]  "
          f"HEAD {h[1]:.4g} [{h[0]:.4g}, {h[2]:.4g}]  "
          f"change {change:+.3f}  HEAD wins {wins}/{len(pairs)}",
          file=sys.stderr)
for side in ("base", "head"):
    s = summary[side]
    print(f"  {side}: {s['runs']} runs, {s['runs_failed']} failed; "
          f"{s['ops_failed']}/{s['ops_attempted']} operations failed",
          file=sys.stderr)
print(json.dumps({"workload": workload, "base": base_sha, "head": head_sha,
                  "seconds": 15, "sides": summary, "metrics": metrics,
                  "runs": runs}))
EOF
