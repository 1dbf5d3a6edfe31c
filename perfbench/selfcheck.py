#!/usr/bin/env python3
"""Self-check of the benchmark harness, in tiny mode (sf0.001 fixtures, a
few hundred alerts):

    python3 perfbench/selfcheck.py

1. every workload passes its output checks for two seeds;
2. a planted wrong expected value (hash or email count) and a planted
   thrown exception each make the run report failed > 0;
3. a traced run of each workload measures every per-layer metric of its
   layers (the JVM's own list, not run.py's result, which reports 0 for a
   layer the workload does not run), the stage spans' times are above 0,
   and on alerts_tick the module spans cover at least 90% of the tick.

Exits non-zero on the first violation.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ["alerts_tick", "heavy_sf1"]
TRACE_DIR = HERE.parent / ".bench_build" / "work" / "trace"
# per-layer metrics of one workload only
OWN = {"alerts_tick": lambda n: n.split(".")[0] in
       ("io", "core", "incremental", "enrich", "geo", "augment", "serve", "streaming")
       or n == "trace.span_coverage",
       "heavy_sf1": lambda n: n.startswith("q.")}


def run(workload, seed, *extra):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", "0", "--tiny", "1", "--min-passes", "1", *extra]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                         timeout=175)
    if out.returncode != 0:
        raise SystemExit(f"selfcheck: {' '.join(cmd)} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    for w in WORKLOADS:
        for seed in (1, 2):
            r = run(w, seed)
            assert r["correct"] and r["failed"] == 0, f"{w} seed {seed}: {r}"
            print(f"ok   {w} seed {seed}: {r['attempted']} checks, 0 failed")
    for w in WORKLOADS:
        for plant in ("hash", "throw"):
            r = run(w, 1, "--plant", plant)
            assert r["failed"] > 0 and not r["correct"], f"{w} plant {plant}: {r}"
            frac = r["metrics"]["ok_frac"]["value"]
            assert frac < 1.0, f"{w} plant {plant}: ok_frac {frac}"
            print(f"ok   {w} planted {plant}: failed {r['failed']} of {r['attempted']}")
    names = [m["name"] for m in json.loads((HERE.parent / "BENCHMARK.json").read_text())["per_layer"]]
    for w in WORKLOADS:
        other = [o for o in WORKLOADS if o != w]
        wanted = [n for n in names if not any(OWN[o](n) for o in other)]
        dump = TRACE_DIR / f"{w}-seed1.json"
        dump.unlink(missing_ok=True)
        r = run(w, 1, "--trace", "1")
        assert r["correct"], f"{w} traced: {r}"
        measured = json.loads(dump.read_text())["layers"]
        missing = [n for n in wanted if n not in measured]
        assert not missing, f"{w} traced run did not measure {missing}"
        zero = [n for n in wanted if OWN[w](n) and n.endswith(("_ms", "_s")) and not measured[n] > 0]
        assert not zero, f"{w} traced run: stage times not above 0: {zero}"
        if w == "alerts_tick":
            cov = measured["trace.span_coverage"]
            assert cov >= 0.9, f"alerts_tick span coverage {cov} < 0.9"
        print(f"ok   {w} traced run measures its {len(wanted)} per-layer metrics")

if __name__ == "__main__":
    main()
