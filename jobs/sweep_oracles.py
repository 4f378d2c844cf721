#!/usr/bin/env python
"""Full oracle sweep: every queries() entry with a DuckDB twin, compared
on row count, column names, and order-insensitive normalized values —
the driver gate's exact comparison, runnable at any SF tier.

Usage: python jobs/sweep_oracles.py [sf_dir] [master] [only]
``only`` is an optional comma-separated query-name filter (sweep a
subset while iterating on a new oracle).
Exit code = number of mismatching queries.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 6)
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            elif isinstance(v, (list, tuple)):
                v = tuple(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from text_extractor_for_bioeconomic_products_spark.session import get_spark
    from text_extractor_for_bioeconomic_products_spark.sources.tables import TABLES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    master = sys.argv[2] if len(sys.argv) > 2 else "local[8]"
    spark = get_spark(master=master, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entry_mod.oracle_sql()
    queries = entry_mod.queries()
    if len(sys.argv) > 3:
        only = set(sys.argv[3].split(","))
        queries = {k: v for k, v in queries.items() if k in only}
    n_bad = 0
    t_all = time.monotonic()
    for name, fn in queries.items():
        sql = oracles.get(name)
        if sql is None:
            continue
        t0 = time.monotonic()
        try:
            df = fn(spark, sf_dir)
            srows = [tuple(r) for r in df.collect()]
            scols = df.columns
            res = con.execute(sql)
            orows = res.fetchall()
            ocols = [d[0] for d in res.description]
            ok = (
                sorted(scols) == sorted(ocols)
                and len(srows) == len(orows)
                and normalize(srows, scols) == normalize(orows, ocols)
            )
        except Exception as ex:  # noqa: BLE001 — sweep must report, not die
            ok = False
            print(f"ERR  {name}: {type(ex).__name__}: {str(ex)[:160]}")
        dt = time.monotonic() - t0
        if not ok:
            n_bad += 1
        print(f"{'ok  ' if ok else 'FAIL'} {name} ({dt:.1f}s)", flush=True)
    n_checked = sum(1 for q in queries if q in oracles)
    print(
        f"swept {n_checked} oracle queries at {sf_dir}: "
        f"{n_checked - n_bad} green, {n_bad} red "
        f"({time.monotonic() - t_all:.0f}s total)"
    )
    spark.stop()
    return n_bad


if __name__ == "__main__":
    raise SystemExit(main())
