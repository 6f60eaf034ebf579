#!/usr/bin/env python3
"""Record the DuckDB oracle digest of every declared key over the
benchmark's sf0.01 tables into data/oracle_sf0.01.json.

    python3 perfbench/record_oracle.py

run.py compares each sampled key's complete output with these digests.
Re-record only when a key's declared oracle SQL changes; the digests
depend on the oracle and the tables, never on the engine's output.
"""
import json
import os
import shutil
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    cp = run.build()
    work = os.path.join(run.WORK, "oracle")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sql = run.jvm(cp, work, ["oracle-sql", work])
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.SF_DIR}/{t}.parquet'")
    out = {}
    for k in sorted(sql):
        t0 = time.time()
        rows, digest = run.frame_digest(con.execute(sql[k]).df())
        out[k] = {"rows": rows, "sha256": digest}
        print(f"{k}\t{rows}\t{time.time() - t0:.2f}s", file=sys.stderr)
    path = os.path.join(run.DATA, "oracle_sf0.01.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    print(f"recorded {len(out)} oracle digests in {path}")


if __name__ == "__main__":
    main()
