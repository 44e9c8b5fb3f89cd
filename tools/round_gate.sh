#!/bin/sh
# Full round gate, in dependency order (one Spark JVM at a time):
#   1. pytest           (~6 min)  unit/golden/plan/property/streaming;
#                                 -rs lists each skip with its reason (the
#                                 reference-golden parity tests skip when
#                                 the reference checkout is absent)
#   2. sf0.01 sweep     (~3 min)  driver-exact oracle gate, all queries
#   3. sf0.01 TZ sweep  (~3 min)  same, under a non-UTC session zone
#   4. plan audit       (~2 min)  registry-wide anti-pattern scan
#   5. bench            (~2 min)  headline wall-times at sf0.1
# Optional: pass a sf dir for an extra full sweep at that scale (the sf0.1
# sweep adds ~9 min and is worth running before a round ends).
# ORDERING DISCIPLINE (the r4 lesson): this gate must run AFTER the last
# code/test commit of the round — a test file landed post-gate in r4 and
# was red for a whole round. The banner below pins the gate to a commit;
# if HEAD moves afterwards, the gate is stale and must re-run. The gate
# also REFUSES to certify a dirty tree.
set -e
cd "$(dirname "$0")/.."
if [ -n "$(git status --porcelain)" ]; then
  echo "round gate: REFUSING — uncommitted changes present" >&2
  git status --short >&2
  exit 1
fi
echo "round gate: $(date -u +%FT%TZ) at commit $(git rev-parse --short HEAD)"
python -m pytest tests/ -q -rs
python tools/verify_all.py /root/testdata/sf0.01
VERIFY_TZ=America/New_York python tools/verify_all.py /root/testdata/sf0.01
python tools/plan_audit.py
python bench.py | tee /tmp/bench_gate.json
# r9 (VERDICT r8 #3): bench.py now emits load_1m_* fields and a
# load_contaminated flag (the box's external ~10-min load cycle inflated
# BENCH_r08.json +15-30% and was detectable only via the round log). If
# the gate's bench line is contaminated, preserve it and retry ONCE after
# the next load trough (1-min load < 1.0, max 15 min wait) — the retry is
# what the gate certifies; a still-contaminated retry stands but is
# flagged in the JSON for the record.
if python -c "import json,sys; d=json.loads(open('/tmp/bench_gate.json').read().strip().splitlines()[-1]); sys.exit(0 if d.get('load_contaminated') else 1)"; then
  echo "round gate: bench line is load-contaminated; waiting for a trough then retrying once" >&2
  cp /tmp/bench_gate.json /tmp/bench_gate_contaminated.json
  i=0
  while [ "$i" -lt 90 ]; do
    if awk '{exit !($1 < 1.0)}' /proc/loadavg; then break; fi
    sleep 10
    i=$((i + 1))
  done
  python bench.py | tee /tmp/bench_gate.json
fi
# r7: round-over-round tripwire on BOTH headline and extended medians —
# the r6 lesson: an extended-query regression (+30-40% on docs_lrs_capped)
# survived a "definitive ALL GREEN" gate because nothing thresholded it
python tools/bench_regression.py /tmp/bench_gate.json
if [ -n "$1" ]; then
  python tools/verify_all.py "$1"
fi
echo "round gate: ALL GREEN at commit $(git rev-parse --short HEAD), $(date -u +%FT%TZ)"
