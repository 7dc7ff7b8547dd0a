"""Local stand-in for the driver's correctness gate.

Runs every registry query on Spark and its oracle on DuckDB at the
given SF dir, then compares row count, sorted column names, and an
order-insensitive value hash (floats canonicalized via repr of the
exact double). Usage:

    python tools/check_oracle.py [sf_dir] [query ...] [--conf key=value ...]

Each ``--conf`` sets one Spark conf on the session, e.g.
``--conf spark.sql.autoBroadcastJoinThreshold=-1`` runs every graph
operator on its distributed path.
"""

from __future__ import annotations

import hashlib
import sys
import time
import traceback

sys.path.insert(0, "/root/repo")

import duckdb

from yelp_data_pipeline_spark import TABLES
from yelp_data_pipeline_spark.queries import registry
from yelp_data_pipeline_spark.session import get_spark, release_tracked


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def _hash_rows(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def _pop_conf(argv: list[str]) -> dict[str, str]:
    """Remove every ``--conf key=value`` pair from ``argv`` in place and
    return them as a dict, so the rest keeps the positional usage."""
    conf = {}
    while "--conf" in argv:
        i = argv.index("--conf")
        key, sep, value = (argv[i + 1] if i + 1 < len(argv) else "").partition("=")
        if not sep or not key:
            sys.exit("--conf expects key=value")
        conf[key] = value
        del argv[i:i + 2]
    return conf


def main() -> int:
    conf = _pop_conf(sys.argv)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("check_oracle", extra_conf=conf)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for spec in registry():
        if only and spec.name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            release_tracked()
        except Exception:
            print(f"FAIL {spec.name}: spark error")
            traceback.print_exc()
            failures.append(spec.name)
            continue
        if spec.oracle is None:
            print(f"ok?  {spec.name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s) [no oracle]")
            if len(srows) == 0:
                print(f"     WARNING: {spec.name} returned 0 rows")
            continue
        try:
            res = con.execute(spec.oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception:
            print(f"FAIL {spec.name}: duckdb error")
            traceback.print_exc()
            failures.append(spec.name)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        elif _hash_rows(scols, srows) != _hash_rows(dcols, drows):
            problems.append("value hash mismatch")
            order_s = sorted(range(len(scols)), key=lambda i: scols[i])
            order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
            set_s = {tuple(_canon(r[i]) for i in order_s) for r in srows}
            set_d = {tuple(_canon(r[i]) for i in order_d) for r in drows}
            only_s = list(set_s - set_d)[:3]
            only_d = list(set_d - set_s)[:3]
            if only_s:
                problems.append(f"spark-only: {only_s}")
            if only_d:
                problems.append(f"duck-only: {only_d}")
        if problems:
            print(f"FAIL {spec.name}: " + "; ".join(problems))
            failures.append(spec.name)
        else:
            print(f"PASS {spec.name} ({len(srows)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{'ALL GREEN' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
