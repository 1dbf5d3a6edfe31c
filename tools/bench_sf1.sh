#!/usr/bin/env bash
# bench_sf1.sh — the 10x-scale bench, end to end, one command:
# regenerate tmp/sf1 from /root/testdata/sf0.1 (tools/make_sf1.py — keys
# shifted per replica, stopwords unsalted), run the FULL bench surface on
# it, write BENCH_SF1.json, and print the growth-ratio table vs the
# committed sf0.1 snapshot. Before this script, BENCH_SF1.json was a
# hand-run artifact that silently aged as the surface grew (the r16 file
# measured 175 entries of what became a 176-entry surface); now the
# 10x-scale claims regenerate per round.
#
#   tools/bench_sf1.sh                 # ~40-60 min all-in
#   SPARK_GRAFT_REPS=1 tools/bench_sf1.sh      # faster, noisier
#   tools/bench_sf1.sh --no-fixture    # reuse an existing tmp/sf1
#
# Measurement hygiene (bench-pollution discipline): run on an idle
# machine, never concurrently with another Spark JVM; entries carry
# la/spread/cw telemetry, so a polluted run self-flags.
set -euo pipefail
cd "$(dirname "$0")/.."

if [[ "${1:-}" != "--no-fixture" ]]; then
  echo "[bench_sf1] deriving tmp/sf1 (10 replicas of sf0.1)..." >&2
  python3 tools/make_sf1.py
fi

# default 2 reps: the growth table reads RATIOS against the sf0.1
# min-of-3 snapshot, where a rep is ~10x costlier than at sf0.1 — two
# reps bound the wall under an hour while still discarding one outlier
export SPARK_GRAFT_REPS="${SPARK_GRAFT_REPS:-2}"
export SPARK_GRAFT_SF_DIR="$PWD/tmp/sf1"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
export SPARK_GRAFT_BENCH_OUT="BENCH_SF1.json"
echo "[bench_sf1] running full bench on tmp/sf1 (reps=$SPARK_GRAFT_REPS)..." >&2
sbt -batch "runMain graft.Bench" > /tmp/bench_sf1.log 2>&1 || {
  tail -20 /tmp/bench_sf1.log >&2; exit 1; }

# growth-ratio table vs the committed sf0.1 snapshot
python3 - <<'PYEOF'
import json
sf01 = json.load(open("BENCH_LAST.json"))
sf1 = json.load(open("BENCH_SF1.json"))
q01, q1 = sf01["queries"], sf1["queries"]
tel = sf1.get("telemetry", {})
rows = []
for name, v1 in q1.items():
    v0 = q01.get(name)
    if v0 is None or v0 <= 0 or v1 <= 0:
        continue
    rows.append((v1 / v0, name, v0, v1))
rows.sort(reverse=True)
print(f"\n10x growth factors (tmp/sf1 / sf0.1), {len(rows)} entries, "
      f"sf1 total {sf1['value']}s vs sf0.1 total {sf01['value']}s")
print("| entry | sf0.1 (s) | sf1 (s) | factor | telemetry |")
print("|---|---|---|---|---|")
for f, name, v0, v1 in rows[:20]:
    t = tel.get(name, {})
    flag = " **superlinear**" if f > 10 else ""
    print(f"| {name} | {v0:.2f} | {v1:.2f} | {f:.1f}x{flag} | "
          f"la={t.get('la','-')} spread={t.get('spread','-')} cw={t.get('cw','-')} |")
n_super = sum(1 for f, *_ in rows if f > 10)
missing = sorted(set(q01) - set(q1))
extra = sorted(set(q1) - set(q01))
print(f"\n{n_super} entries over 10x (10x data; >10x growth = superlinear "
      f"suspect — adjudicate vs telemetry before calling it a scale bug)")
if missing: print(f"MISSING from sf1 run: {missing}")
if extra: print(f"only in sf1 run: {extra}")
PYEOF
echo "[bench_sf1] wrote BENCH_SF1.json" >&2
