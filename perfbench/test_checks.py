#!/usr/bin/env python3
"""The benchmark's own tests: each correctness check passes on a right
output and fails on one corrupted in one place.

Usage (from the repository root): python3 perfbench/test_checks.py

Runs perfbench.CheckTests in a JVM (clinical warehouse, quality reports,
top-k, views, dedup, routing and sessions, each on the program's real
output) and the DuckDB oracle comparison below. Exits non-zero if any
test fails.
"""
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True  # keep perfbench/ free of build output
sys.path.insert(0, str(HERE))


def oracle_tests():
    """A one-table oracle dir: right result passes, one wrong row and one
    wrong timed count each fail."""
    import pandas as pd
    import oracle
    failures = 0
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench_run") as tmp:
        tmp = pathlib.Path(tmp)
        region = pd.DataFrame({"r_regionkey": [0, 1, 2], "r_name": ["AFRICA", "AMERICA", "ASIA"]})
        (tmp / "data" / "region.parquet").mkdir(parents=True)
        region.to_parquet(tmp / "data" / "region.parquet" / "part-0.parquet")
        od = tmp / "oracle"
        (od / "results" / "qx").mkdir(parents=True)
        (od / "oracle_sql.json").write_text('{"qx": "SELECT r_regionkey, r_name FROM region"}')

        def run(result, counts):
            result.to_parquet(od / "results" / "qx" / "part-0.parquet")
            (od / "counts.json").write_text('{"qx": %s}' % counts)
            return oracle.check(od, tmp / "data")

        cases = [
            ("oracle: right rows pass", run(region, "[3, 3]"), 0),
            ("oracle: one wrong row fails every op", run(region.replace("ASIA", "ASIA2"), "[3, 3]"), 2),
            ("oracle: one wrong timed count fails that op", run(region, "[3, 2]"), 1),
        ]
        for name, res, want in cases:
            ok = res["failed_ops"] == want and bool(res["messages"]) == (want > 0)
            failures += not ok
            print(f"{'PASS' if ok else 'FAIL'} {name} {res['messages'][:1]}")
    return failures


def main():
    import build
    import run
    cp = build.build()["classpath"]
    (ROOT / ".perfbench_run").mkdir(exist_ok=True)
    work = pathlib.Path(tempfile.mkdtemp(dir=ROOT / ".perfbench_run"))
    try:
        jvm = subprocess.run(
            ["java"] + run.jvm_flags("2g", work) +
            ["-cp", os.pathsep.join(cp), "perfbench.CheckTests", str(work)], cwd=work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failures = (jvm.returncode != 0) + oracle_tests()
    print("all tests passed" if not failures else f"{failures} test group(s) failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
