#!/bin/bash
# Two-session plan-fingerprint drill: runs `graft.Explain --canon` over
# the whole registry in two fresh JVMs, diffs the per-query blocks (the
# exact text QueryStats.planHash hashes, headed by the hash), and writes
# CANON_DRILL_<tag>.json with the query count, the differing queries and
# the number of distinct hashes. Exits non-zero on any diff.
#
# Usage: scripts/canon_drill.sh [tag] [sfDir]   (default sf0.001 — the
# fingerprint depends on plan shape, not corpus size)
set -e
cd "$(dirname "$0")/.."
TAG="${1:-local}"
SF="${2:-/root/testdata/sf0.001}"
OUT="CANON_DRILL_${TAG}.json"
WORK="$(mktemp -d "${TMPDIR:-/tmp}/canon_drill.XXXXXX")"
trap 'rm -rf "$WORK"' EXIT

for s in a b; do
  echo "[canon-drill] session $s (fresh JVM, full registry)" >&2
  scripts/run_class.sh graft.Explain "$SF" --canon >"$WORK/$s.out" \
    2>"$WORK/$s.err" || { tail -20 "$WORK/$s.err" >&2; exit 1; }
done

python3 - "$OUT" "$SF" "$WORK" <<'EOF'
import json, re, sys
out, sf, work = sys.argv[1:]
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
json.dump({"drill": "two_session_fingerprint", "sf": sf, "sessions": 2,
           "queries": len(common), "identical": len(common) - len(diffs),
           "diffs": diffs, "only_in_one_session": only,
           "distinct_hashes": distinct, "ok": ok},
          open(out, "w"), indent=1)
print(("PASS " if ok else "FAIL ")
      + f"{out}: {len(common)} queries, {len(diffs)} diffs, "
      + f"{distinct} distinct hashes")
sys.exit(0 if ok else 1)
EOF
