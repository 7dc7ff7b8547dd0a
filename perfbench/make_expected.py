"""Regenerate ``perfbench/expected.json``, the stored outputs the
benchmark checks the read ops against: row count and value hash of each
query's DuckDB oracle (``oracle_sql()``) on the shipped sf0.01 fixture,
hashed with ``tools/check_oracle.py``'s order-insensitive hash.

Run from the repository root: ``python3 perfbench/make_expected.py``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402
import run  # noqa: E402
from yelp_data_pipeline_spark import TABLES  # noqa: E402
from yelp_data_pipeline_spark.queries import oracle_sql  # noqa: E402


def main() -> int:
    hash_rows = run.oracle_hash()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.SF_DIR}/{t}.parquet')")
    oracles = oracle_sql()
    out = {"queries": {}}
    for op in run.QUERY_OPS:
        res = con.execute(oracles[op])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out["queries"][op] = {"rows": len(rows), "hash": hash_rows(cols, rows)}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
