#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload <alerts_tick|heavy_sf1> \\
        --seed <n> --seconds <s> --trace <0|1> [--tiny 1]

Builds the project from source (perfbench/build.py), prepares and checks the
inputs, runs the workload in one JVM at local[<cores>] and prints one JSON
result line as the last line of stdout. Workloads and metrics are the ones
BENCHMARK.json names; perfbench/LAYERS.md explains them.

Inputs: alerts_tick generates its table from the seed. heavy_sf1 runs on the
10x fixture that tools/make_sf1.py derives into .bench_build/fixtures from the
TPC-H-style fixture tree (sf0.1, and sf0.001 with --tiny) under
$GRAFT_TESTDATA, default ~/testdata. Both fixtures are checked (row counts
and a content checksum, perfbench/fixtures.json) before any timing.

Maintenance: --record 1 rewrites perfbench/hashes.json and
perfbench/fixtures.json for the workload's fixtures instead of checking.
"""
import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def testdata() -> Path:
    return Path(os.environ.get("GRAFT_TESTDATA", Path.home() / "testdata"))


def fixture_digest(d: Path) -> dict:
    """Row count and an order-independent content checksum per table."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    out = {}
    for t in TABLES:
        rows, h = con.execute(
            f"SELECT count(*), coalesce(sum(hash(t) % 1000000007), 0) FROM '{d}/{t}.parquet' t").fetchone()
        out[t] = [int(rows), str(h)]
    return out


def check_fixture(label: str, d: Path, record: bool) -> None:
    """Fails the run on any mismatch."""
    if not all((d / f"{t}.parquet").exists() for t in TABLES):
        raise SystemExit(f"perfbench: fixture {label} incomplete under {d}")
    got = fixture_digest(d)
    path = HERE / "fixtures.json"
    known = json.loads(path.read_text()) if path.exists() else {}
    if record:
        known[label] = got
        path.write_text(json.dumps(known, indent=1, sort_keys=True) + "\n")
    elif known.get(label) != got:
        raise SystemExit(f"perfbench: fixture {label} under {d} does not match fixtures.json")


def derive_10x(src: Path, label: str) -> Path:
    """The 10x fixture, derived once per checkout with tools/make_sf1.py."""
    out = OUT / "fixtures" / label
    done = out / ".complete"
    if not done.exists():
        tool = ROOT / "tools" / "make_sf1.py"
        if not tool.exists():
            raise SystemExit(f"perfbench: {tool} missing")
        tmp = OUT / "fixtures" / f"{label}.tmp"
        subprocess.run(["rm", "-rf", str(tmp), str(out)], check=True)
        r = subprocess.run([sys.executable, str(tool), str(src), str(tmp)],
                           stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit("perfbench: make_sf1.py failed")
        tmp.rename(out)
        done.write_text("")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--tiny", type=int, default=0)
    ap.add_argument("--plant", default="none", choices=["none", "hash", "throw"])
    ap.add_argument("--record", type=int, default=0)
    a, a.jvm_args = ap.parse_known_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")

    cp = build.build()
    cpus = len(os.sched_getaffinity(0))
    src = testdata() / ("sf0.001" if a.tiny else "sf0.1")
    data = ""
    if a.workload == "heavy_sf1":
        check_fixture(src.name, src, a.record)
        label = "sf0.001x10" if a.tiny else "sf1"
        data = str(derive_10x(src, label))
        check_fixture(label, Path(data), a.record)

    work = OUT / "work"
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # A fixed heap: a heap that grows during the run makes both the timings
    # and the resident set depend on when it grew.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-Xss4m",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus), "--work", str(work),
            "--data", data,
            "--hashes", str(HERE / "hashes.json"), "--tiny", str(a.tiny),
            "--plant", a.plant] + a.jvm_args
    if a.record:
        cmd += ["--record", str(HERE / "hashes.json")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=str(ROOT))
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: run exceeded its time limit")
    lines = [ln for ln in stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: JVM exited {proc.returncode} without a result")
    res = json.loads(lines[-1])
    vals = res["values"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = vals.get(m["name"])
        if v is None:
            if not a.trace:
                raise SystemExit(f"perfbench: metric {m['name']} not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted, failed = int(res["attempted"]), int(res["failed"])
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
