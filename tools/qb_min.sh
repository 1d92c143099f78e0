#!/bin/bash
# Repeat `graft.Diag time` N times and report the per-query MIN of the run
# medians — host load only ever inflates, so the min is the honest
# floor (the same rationale as Bench's suspect re-timing).
# Usage: REPS=3 SPARK_GRAFT_EXTRA_CONF=... tools/qb_min.sh <sfDir> <query...>
set -e
REPS=${REPS:-3}
SF=$1; shift
OUT=$(mktemp)
for i in $(seq 1 "$REPS"); do
  sbt -batch "runMain graft.Diag time $SF $*" 2>&1 | grep -E "^\S+ +median " >> "$OUT"
done
python3 - "$OUT" <<'EOF'
import sys, collections
best = collections.OrderedDict()
for line in open(sys.argv[1]):
    p = line.split()
    name, t = p[0], float(p[2])
    if name not in best or t < best[name][0]:
        best[name] = (t, p[-1])
    best.setdefault(name, (t, p[-1]))
for name, (t, n) in best.items():
    print(f"MIN {name:28s} {t:8.3f} s  {n}")
EOF
rm -f "$OUT"
