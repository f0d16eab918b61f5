#!/usr/bin/env python3
"""Regenerate perfbench/data/sf0.01.counts.json, the expected row count of
every `SparkEntry.queries` row over the committed sf0.01 tables.

Each count comes from DuckDB over the query's `SparkEntry.oracleSql` row
(the oracle the correctness gate compares against), so the sweep's check
does not trust the engine it measures. A query without an oracle row
would need a count taken from Spark; the file records each count's source.

Usage (from the repository root): python3 perfbench/expected_counts.py
"""
import glob
import json
import os
import subprocess
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (the runner's build step)


def main():
    cp = run.build()
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        sql_file = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", cp, "perfbench.DumpOracle", sql_file], check=True)
        with open(sql_file) as f:
            oracle = json.load(f)
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(run.DATA, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    counts = {}
    for name, sql in sorted(oracle.items()):
        t0 = time.time()
        rows = con.sql(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
        counts[name] = {"rows": rows, "source": "duckdb oracle"}
        print(f"{name:32s} {rows:8d} rows  {time.time() - t0:6.2f}s", file=sys.stderr)
    with open(run.DATA + ".counts.json", "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(counts)} expected counts written", file=sys.stderr)


if __name__ == "__main__":
    main()
