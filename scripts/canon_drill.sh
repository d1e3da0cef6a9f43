#!/bin/bash
# Plan-fingerprint drill over the whole registry: runs `graft.Explain
# --canon` twice and diffs the per-query blocks (the exact text
# QueryStats.planHash hashes, headed by the hash). Writes
# CANON_DRILL_<tag>.json with the query count, the differing queries and
# the number of distinct hashes. Exits non-zero on any diff.
#
# Two modes:
#  - no base revision: two fresh JVMs on this checkout's compiled classes
#    (a session-independence check);
#  - a base revision: that revision, exported with `git archive` into a
#    temporary directory and compiled there with sbt, against this
#    checkout's compiled classes (a "did any plan move" check for a
#    change that should leave every plan as it was). Compile this
#    checkout first (`sbt compile`).
#
# Usage: scripts/canon_drill.sh [tag] [sfDir] [base-rev]   (default sfDir
# sf0.001 — the fingerprint depends on plan shape, not corpus size)
set -e
cd "$(dirname "$0")/.."
TAG="${1:-local}"
SF="${2:-/root/testdata/sf0.001}"
BASE_REV="${3:-}"
OUT="CANON_DRILL_${TAG}.json"
WORK="$(mktemp -d "${TMPDIR:-/tmp}/canon_drill.XXXXXX")"
trap 'rm -rf "$WORK"' EXIT

explain() {  # $1 = checkout, $2 = output name
  (cd "$1" && scripts/run_class.sh graft.Explain "$SF" --canon) \
    >"$WORK/$2.out" 2>"$WORK/$2.err" || { tail -20 "$WORK/$2.err" >&2; exit 1; }
}

if [ -z "$BASE_REV" ]; then
  for s in a b; do
    echo "[canon-drill] session $s (fresh JVM, full registry)" >&2
    explain . "$s"
  done
  DRILL=two_session_fingerprint; BASE=""
else
  BASE="$(git rev-parse "$BASE_REV")"
  mkdir "$WORK/base"
  git archive "$BASE" | tar -x -C "$WORK/base"
  echo "[canon-drill] building base ${BASE:0:8}" >&2
  (cd "$WORK/base" && sbt -batch -Dsbt.log.noformat=true compile) \
    >"$WORK/build.log" 2>&1 || { tail -20 "$WORK/build.log" >&2; exit 1; }
  echo "[canon-drill] session a: base ${BASE:0:8}" >&2
  explain "$WORK/base" a
  echo "[canon-drill] session b: this checkout" >&2
  explain . b
  DRILL=base_vs_head_fingerprint
fi

python3 - "$OUT" "$SF" "$WORK" "$DRILL" "$BASE" <<'EOF'
import json, re, sys
out, sf, work, drill, base = sys.argv[1:]
HEAD = re.compile(r"^===== (\S+) \(fingerprint input; hash=(\w+)\) =====$",
                  re.M)
def blocks(path):
    text = open(path).read()
    heads = list(HEAD.finditer(text))
    ends = [h.start() for h in heads[1:]] + [len(text)]
    return {h.group(1): (h.group(2), text[h.end():e])
            for h, e in zip(heads, ends)}
a, b = blocks(f"{work}/a.out"), blocks(f"{work}/b.out")
common = sorted(set(a) & set(b))
only = sorted(set(a) ^ set(b))
diffs = sorted(q for q in common if a[q] != b[q])
distinct = len({a[q][0] for q in common})
ok = bool(common) and not diffs and not only
json.dump({"drill": drill, **({"base": base} if base else {}),
           "sf": sf, "sessions": 2,
           "queries": len(common), "identical": len(common) - len(diffs),
           "diffs": diffs, "only_in_one_session": only,
           "distinct_hashes": distinct, "ok": ok},
          open(out, "w"), indent=1)
print(("PASS " if ok else "FAIL ")
      + f"{out}: {len(common)} queries, {len(diffs)} diffs, "
      + f"{distinct} distinct hashes")
sys.exit(0 if ok else 1)
EOF
