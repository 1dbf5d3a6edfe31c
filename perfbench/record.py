#!/usr/bin/env python3
"""Re-record perfbench/hashes.json and perfbench/fixtures.json, and
cross-check every recorded result that has a DuckDB oracle
(`SparkEntry.oracleSql`) against DuckDB over the same fixture:

    python3 perfbench/record.py            # the sf0.1 and 10x fixtures
    python3 perfbench/record.py --tiny 1   # the sf0.001 fixtures of tiny mode

Run it after a change to the fixtures or to a query's result. Exits non-zero
when a result disagrees with its oracle.
"""
import argparse
import importlib.util
import json
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DUMP = ROOT / ".bench_build" / "record"


def oracle_compare():
    spec = importlib.util.spec_from_file_location("check_local", ROOT / "tools" / "check_local.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--tiny", type=int, default=0)
    a = ap.parse_args()
    import duckdb
    import pandas as pd
    check = oracle_compare()
    bad = 0
    for workload in ("heavy_sf1",):
        out = DUMP / workload
        shutil.rmtree(out, ignore_errors=True)
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
               "--seconds", "1", "--trace", "0", "--tiny", str(a.tiny), "--record", "1",
               "--min-passes", "1", "--dump", str(out)]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
        meta = json.loads((out / "oracle_sql.json").read_text())
        con = duckdb.connect()
        for t in check.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{meta['fixture']}/{t}.parquet'")
        for name, sql in sorted(meta["oracles"].items()):
            errs = check.compare(name, pd.read_parquet(out / name), con.execute(sql).df())
            print(f"{'PASS' if not errs else 'FAIL'} {workload} {name} {' '.join(errs)}")
            bad += bool(errs)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
