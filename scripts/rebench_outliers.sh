#!/usr/bin/env bash
# Adjudicate a (possibly polluted) bench window in one command: pick the
# N gates whose recorded wall most exceeds the committed canonical
# (bench_canonical.json), re-run exactly those solo on the current box,
# and print window-vs-canonical-vs-rerun per gate. The r15 driver
# window (328.6s shipped as contaminated:false) was adjudicated by hand
# this way; this script makes it a one-liner for the next polluted
# window.
#
# Usage: scripts/rebench_outliers.sh <bench_detail.json> [N] [sf_dir]
#   N       top gates by wall/canonical ratio (default 14)
#   sf_dir  testdata dir (default /root/testdata/sf0.1 — the driver's)
# Env: SPARK_GRAFT_BENCH_CANONICAL overrides the canonical path.
set -euo pipefail
cd "$(dirname "$0")/.."
PREV="${1:?usage: rebench_outliers.sh <bench_detail.json> [N] [sf_dir]}"
N="${2:-14}"
SF="${3:-/root/testdata/sf0.1}"
CANON="${SPARK_GRAFT_BENCH_CANONICAL:-bench_canonical.json}"
OUT="bench_rerun_$(date +%Y%m%d_%H%M%S).json"

GATES=$(python3 - "$PREV" "$CANON" "$N" <<'EOF'
import json, sys
prev = json.load(open(sys.argv[1]))
canon = json.load(open(sys.argv[2]))
n = int(sys.argv[3])
pq, cq = prev["queries"], canon["queries"]
# rank with the SAME absolute floor the verdict applies (wall > 0.5s,
# mirroring graft.Bench.isWallOutlier): without it, sub-half-second
# jitter gates (canon 0.05s, window 0.3s = 6x) fill the top-N and
# displace the genuinely slow gates the rerun exists to adjudicate
ratios = sorted(((pq[k] / cq[k], k) for k in pq
                 if k in cq and cq[k] > 0 and pq[k] > 0.5), reverse=True)
print(",".join(k for _, k in ratios[:n]))
EOF
)
echo "[rebench] top-$N gates by wall/canonical ratio: $GATES" >&2
echo "[rebench] load before rerun: $(cut -d' ' -f1 /proc/loadavg)" >&2

SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_ONLY="$GATES" \
  SPARK_GRAFT_BENCH_DETAIL="$OUT" \
  sbt -batch "runMain graft.Bench" >/dev/null 2>&1 || {
    echo "[rebench] bench run FAILED" >&2; exit 1; }

python3 - "$PREV" "$CANON" "$OUT" <<'EOF'
import json, sys
prev, canon, rerun = (json.load(open(p)) for p in sys.argv[1:4])
print(f"{'gate':24} {'window':>9} {'canon':>9} {'rerun':>9}  verdict")
# mirror graft.Bench.isWallOutlier exactly: 3x the canonical AND an
# absolute 0.5s floor (sub-floor gates jitter legitimately and must
# not print as regressions)
def outlier(wall, c):
    return wall is not None and wall > 0.5 and wall > 3 * c
for k in sorted(rerun["queries"]):
    w, c, r = prev["queries"].get(k), canon["queries"].get(k), rerun["queries"][k]
    if c is None or c <= 0:
        v = "no-canonical"
    elif not outlier(r, c):
        v = "window was POLLUTED" if outlier(w, c) else "clean"
    else:
        v = "REGRESSION (rerun still >3x canonical)"
    print(f"{k:24} {w if w is not None else float('nan'):9.2f} "
          f"{c if c is not None else float('nan'):9.2f} {r:9.2f}  {v}")
print(f"\nrerun artifact: {sys.argv[3]} "
      f"(contaminated={rerun.get('contaminated')}, "
      f"load_pre={rerun.get('load_pre')})")
EOF
