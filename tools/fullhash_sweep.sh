#!/usr/bin/env bash
# Standing MULTI-SCALE full-hash sweep (round-16 ask #4, widened to
# every extra scale by round-17 ask #3): run the whole Verify surface
# at each scale factor beyond the driver's sf0.01 gate and
# hash-compare against the DuckDB oracle, recording ONE per-round
# SWEEP_r{N}.json beside CORRECTNESS_r* with every scale's match
# count — so "278/278 at every sf" is a machine-pinned artifact, not
# a round-note sentence.
#
# Why it exists: the sf0.01 driver gate structurally cannot see
# summation-order / rounding-tie divergence that only manifests at
# other N — the r15 sweep caught exactly that class (q82/q268 real
# 6-dp ties, q197 DuckDB literal double-rounding). Every round records
# one so a regression in scale-exactness is a diff, not a surprise.
#
# Exits NON-ZERO if any scale has a mismatch (round-17 ADVICE: the
# old `|| true` swallowed compare.py's status, so bench_refresh.sh
# would commit a regressed artifact silently).
#
# Usage: tools/fullhash_sweep.sh [sfDir...]
#        (default: /root/testdata/sf0.001 /root/testdata/sf0.1)
# Round number = latest CORRECTNESS_r{N} + 1 (the round in progress);
# override with SWEEP_ROUND=N. An existing SWEEP_r{N}.json is never
# overwritten unless SWEEP_ROUND names it. With SPARK_GRAFT_VERIFY_ONLY
# set, Verify writes only the selected queries and their oracle SQL,
# so the sweep checks exactly that subset.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ "$#" -gt 0 ]; then
  SF_DIRS=("$@")
else
  SF_DIRS=(/root/testdata/sf0.001 /root/testdata/sf0.1)
fi
if [ -z "${SWEEP_ROUND:-}" ]; then
  last=$(ls CORRECTNESS_r*.json 2>/dev/null |
    sed 's/.*_r0*\([0-9]*\)\.json/\1/' | sort -n | tail -1)
  ARTIFACT=$(printf 'SWEEP_r%02d.json' $(( ${last:-0} + 1 )))
  if [ -e "$ARTIFACT" ]; then
    echo "[fullhash_sweep] $ARTIFACT exists; set SWEEP_ROUND to overwrite it" \
      "or to write another round" >&2
    exit 2
  fi
else
  ARTIFACT=$(printf 'SWEEP_r%02d.json' "$SWEEP_ROUND")
fi

OUT="$(mktemp -d /tmp/graft-sweep.XXXXXX)"
trap 'rm -rf "$OUT"' EXIT

STATUS=0
PARTS=()
for SF_DIR in "${SF_DIRS[@]}"; do
  tag=$(basename "$SF_DIR")
  sbt -batch "runMain graft.Verify $SF_DIR $OUT/$tag"
  # capture compare.py's status but keep sweeping the other scales so
  # the artifact still records every scale's result
  if ! python3 tools/compare.py "$SF_DIR" "$OUT/$tag" --json "$OUT/$tag.json"; then
    STATUS=1
  fi
  PARTS+=("$OUT/$tag.json")
done

python3 - "$ARTIFACT" "${PARTS[@]}" <<'EOF'
import json, os, sys
out, parts = sys.argv[1], sys.argv[2:]
scales = {}
for p in parts:
    scales[os.path.basename(p)[:-5]] = json.load(open(p))
merged = {
    "scales": scales,
    "all_exact": all(d["n_matched"] == d["n_queries"] for d in scales.values()),
    "summary": {t: f'{d["n_matched"]}/{d["n_queries"]}' for t, d in scales.items()},
}
json.dump(merged, open(out, "w"), indent=1, sort_keys=True)
EOF

echo "[fullhash_sweep] wrote $ARTIFACT (status=$STATUS)"
exit $STATUS
