#!/usr/bin/env bash
# Same-box interleaved A/B bench: HEAD vs an arbitrary commit, the
# round-16 manual worktree experiment promoted to one command (round-16
# verdict stretch #8). Round-over-round regression claims on this box are
# only trustworthy when both trees run INTERLEAVED in one sitting —
# with -Xms unset the same code swung ±14% on GC-ergonomics luck alone
# (PERF.md, round-16 A/B section), so A-then-B single legs confound code
# deltas with machine modes.
#
# Usage: tools/ab.sh <commit> [sfDir] [legs]
#   <commit>  the baseline to compare HEAD against (e.g. a round tag)
#   [sfDir]   bench dataset dir      (default /root/testdata/sf0.1)
#   [legs]    legs PER TREE          (default 2; ABBA order)
#
# Output: per-leg totals as they land, then a summary with per-tree
# best-of-legs totals and the HEAD/baseline ratio on best-of-legs —
# the statistic the round-16 adjudication settled on. Raw leg JSONs are
# kept under /tmp/graft_ab/ for per-query drill-down:
#   python3 - <<'EOF' style per-query deltas from the "queries" maps.
set -euo pipefail
cd "$(dirname "$0")/.."
COMMIT=${1:?usage: tools/ab.sh <commit> [sfDir] [legs]}
SF=${2:-/root/testdata/sf0.1}
LEGS=${3:-2}

OUT=/tmp/graft_ab
WT=$OUT/baseline_tree
mkdir -p "$OUT"
rm -f "$OUT"/leg_*.json

# worktree for the baseline (reused if it already points at $COMMIT)
if ! git -C "$WT" rev-parse HEAD 2>/dev/null | grep -q "$(git rev-parse "$COMMIT")"; then
  git worktree remove --force "$WT" 2>/dev/null || true
  git worktree add --detach "$WT" "$COMMIT"
fi

bench() { # $1 = tree dir, $2 = leg tag
  # Full stdout to a log first: Bench prints TWO '"metric"' lines (the
  # per-query map, then a short totals-only tail for the driver's 2 KB
  # capture) — piping grep (plural) into one file concatenated both
  # objects and json.load raised 'Extra data', killing the script under
  # set -e after the first expensive leg. Keep only the FIRST metric
  # line (it carries the 'queries' map the summary needs) and strip any
  # sbt '[info] ' prefix — runMain in older baseline trees routes child
  # stdout through sbt's logger (outputStrategy was only set at run/
  # scope there, and runMain does not delegate to run/).
  # SPARK_GRAFT_CPUS is passed explicitly: HEAD's Bench defaults to the
  # box's cores, an older baseline's to 4, and both trees must run at the
  # same core count.
  ( cd "$1" &&
    SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$(nproc)" \
      sbt -batch "runMain graft.Bench" 2>/dev/null ) > "$OUT/raw_$2.log"
  grep -m1 '"metric"' "$OUT/raw_$2.log" | sed 's/^\[info\] //' > "$OUT/leg_$2.json"
  python3 -c "import json,sys; d=json.load(open('$OUT/leg_$2.json')); \
print('[ab] leg $2 total %.1fs queries %d' % (d['value'], len(d.get('queries',{}))))"
}

# ABBA interleave per pair of legs: whatever slow machine mode exists
# lands on both trees symmetrically
for i in $(seq 1 "$LEGS"); do
  if [ $((i % 2)) -eq 1 ]; then
    bench . "head_$i"; bench "$WT" "base_$i"
  else
    bench "$WT" "base_$i"; bench . "head_$i"
  fi
done

python3 - "$OUT" <<'EOF'
import json, glob, sys, os
out = sys.argv[1]
def best(tag):
    legs = [json.load(open(p)) for p in glob.glob(f"{out}/leg_{tag}_*.json")]
    tot = min(l["value"] for l in legs)
    qs  = {}
    for l in legs:
        for q, s in l.get("queries", {}).items():
            qs[q] = min(qs.get(q, float("inf")), s)
    return tot, qs
ht, hq = best("head"); bt, bq = best("base")
shared = sorted(set(hq) & set(bq))
sh = sum(hq[q] for q in shared); sb = sum(bq[q] for q in shared)
print(f"[ab] best-of-legs totals: HEAD {ht:.1f}s  baseline {bt:.1f}s")
print(f"[ab] shared-query ({len(shared)}) best-of-legs: HEAD {sh:.1f}s  "
      f"baseline {sb:.1f}s  ratio {sh/sb:.3f}")
worst = sorted(shared, key=lambda q: hq[q]-bq[q], reverse=True)[:8]
print("[ab] top HEAD regressions (best-of-legs):")
for q in worst:
    if hq[q]-bq[q] > 0.2:
        print(f"  {q}: {bq[q]:.1f} -> {hq[q]:.1f} (+{hq[q]-bq[q]:.1f}s)")
EOF
