#!/usr/bin/env python3
"""Record the serve_warm golden answers and check them against DuckDB.

    python3 perfbench/golden.py

Run from the repository root. The engine answers every mix key on the
base corpus, perfbench/data/sf0.01 (run.py --mode golden); DuckDB then runs
each key's `SparkEntry.oracleSql` over the same parquet, and both sides are
hashed with tools/check_oracle.py's canonicalization. perfbench/golden.json
is rewritten only when every key's row count and hash agree; if any key
disagrees the script exits 1 and leaves the file as it was.
"""
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "tools"))
sys.path.insert(0, HERE)
from check_oracle import TABLES, canon  # noqa: E402
import gen  # noqa: E402


def main():
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--mode", "golden",
                          "--workload", "serve_warm", "--seed", "0", "--seconds", "0"],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    spark = json.loads(out.strip().splitlines()[-1])
    base = gen.BASE
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from read_parquet('{base}/{t}.parquet')")
    golden, bad = {}, []
    for key, s in spark.items():
        cur = con.execute(s["oracle"])
        rows = cur.fetchall()
        h = canon(rows, [c[0] for c in cur.description])
        if (len(rows), h) == (s["rows"], s["hash"]):
            golden[key] = {"rows": s["rows"], "hash": s["hash"]}
            print(f"OK    {key} ({len(rows)} rows)")
        else:
            bad.append(key)
            print(f"DIFF  {key}: spark ({s['rows']}, {s['hash']}) duckdb ({len(rows)}, {h})")
    print(f"{len(golden)}/{len(spark)} keys agree with DuckDB")
    if bad:
        sys.exit(f"golden.json left unchanged: {', '.join(bad)} disagree")
    with open(os.path.join(HERE, "golden.json"), "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
