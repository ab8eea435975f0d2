#!/usr/bin/env python3
"""Recomputes the release_catalog's expected rows with DuckDB.

    python3 perfbench/release_oracle.py [--from SF_DIR]

--from copies the corpus tables the release family reads (documents.parquet)
from a test-data directory into perfbench/data first; run it with the
sf0.01 directory whenever the test data is regenerated. The expected rows
are each query's oracle SQL (SparkEntry.oracleSql, dumped by the JVM side)
run in DuckDB over perfbench/data, written to perfbench/expected/<query>.parquet
together with FINGERPRINT.json, the sha256 of every data file, which the
benchmark checks before it compares rows.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402
import checks  # noqa: E402

TABLES = ["documents"]


def oracle_sql() -> dict:
    classes, jars = build.build()
    with tempfile.TemporaryDirectory(dir=build.OUT) as tmp:
        out = Path(tmp) / "oracle.json"
        subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", f"{classes}:{jars}/*",
                        "graft.perfbench.Bench", "--workload", "oracle-sql", "--state", tmp,
                        "--out", str(out)], check=True, cwd=tmp)
        return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--from", dest="src", help="test-data directory to copy the corpus from")
    args = ap.parse_args()
    if args.src:
        checks.DATA.mkdir(exist_ok=True)
        for t in TABLES:
            dst = checks.DATA / f"{t}.parquet"
            shutil.copyfile(Path(args.src) / f"{t}.parquet", dst)
            os.chmod(dst, 0o644)

    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{checks.DATA / t}.parquet'")
    checks.EXPECTED.mkdir(exist_ok=True)
    for old in checks.EXPECTED.glob("*.parquet"):
        old.unlink()
    for name, sql in sorted(oracle_sql().items()):
        df = con.sql(sql).df()
        df.to_parquet(checks.EXPECTED / f"{name}.parquet", index=False)
        print(f"{name}: {len(df)} rows")
    checks.FINGERPRINT.write_text(json.dumps(checks.fingerprint(), indent=2) + "\n")


if __name__ == "__main__":
    main()
