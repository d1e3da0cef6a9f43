#!/usr/bin/env python3
"""Record the expected answers the benchmark checks its outputs against.

    python3 perfbench/record_expected.py [QUERY ...]

Runs each checked query's oracle SQL (graft.SparkEntry.oracleSql) in DuckDB
over the benchmark's own data and writes expected/<query>.parquet, for
every checked query or only the named ones. Run it again only when the
data or a query's definition changes.
"""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

import run


def main():
    cp, _ = run.build(run.source_sha())
    with tempfile.TemporaryDirectory(dir=run.HERE) as tmp:
        dump = Path(tmp) / "oracle.json"
        cmd = ["java", "-cp", cp, "perfbench.Main", "--dump-oracle", str(dump)]
        subprocess.run(cmd, check=True, stdin=subprocess.DEVNULL)
        oracle = json.loads(dump.read_text())
    con = duckdb.connect()
    for t in sorted(run.DATA.glob("*.parquet")):
        con.sql(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    run.EXPECTED.mkdir(exist_ok=True)
    for name, sql in sorted(oracle.items()):
        if sys.argv[1:] and name not in sys.argv[1:]:
            continue
        con.sql(sql).df().to_parquet(run.EXPECTED / f"{name}.parquet")
        print(name)


if __name__ == "__main__":
    main()
