"""Compute the expected results of the benchmark's query workload.

For every query of ``curation_stream`` and every table set under
``perfbench/data``, run the query's DuckDB twin from
``__spark_entry__.oracle_sql()`` and store its row count, sorted column
names and order-insensitive hash (``scripts/parity.py:canon_frame``) in
``perfbench/fingerprints.json``. The benchmark compares each Spark
result with these instead of running the twins on every run (the
``pretrain_manifest`` twin alone takes seconds).

Run from the repository root after the tables or a twin change:

    python3 perfbench/fingerprints.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLES = ["documents", "events"]


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    import duckdb

    import __spark_entry__
    from scripts.parity import canon_frame
    from workloads import CURATION_QUERIES, STREAM_QUERIES

    oracle = __spark_entry__.oracle_sql()
    out = {}
    for sf in sorted(os.listdir(os.path.join(HERE, "data"))):
        sf_dir = os.path.join(HERE, "data", sf)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out[sf] = {}
        for name in CURATION_QUERIES + STREAM_QUERIES:
            t0 = time.monotonic()
            rows, cols, digest, _ = canon_frame(con.execute(oracle[name]).df())
            out[sf][name] = {"rows": rows, "cols": cols, "hash": digest}
            print(f"{sf} {name}: {rows} rows [{time.monotonic() - t0:.1f}s]", file=sys.stderr)
        con.close()
    with open(os.path.join(HERE, "fingerprints.json"), "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
