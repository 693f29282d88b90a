#!/usr/bin/env python
"""Oracle-gate a SUBSET of queries (r6 optimization loop tool).

Same three checks as scripts/full_gate.py (row count, sorted columns,
order-insensitive value hash vs the DuckDB oracle), restricted to the
names given on the command line so a restructured query can be proved
equivalent in seconds instead of re-running the whole registry.

Usage:
    python scripts/gate_subset.py --sf /root/testdata/sf0.01 \
        dedup_chain neardup_pairs_scale
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from full_gate import TABLES, _value_hash  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry_mod
    from knowledgegraphgenerator_spark.session import get_spark

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = sorted(set(args.names) - set(queries))
    if unknown:
        print(f"FATAL: unknown queries: {unknown}")
        return 2

    spark = get_spark(app_name="gate-subset")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf}/{t}.parquet')"
        )

    n_bad = 0
    for name in args.names:
        try:
            sdf = queries[name](spark, args.sf)
            s_cols = [c.lower() for c in sdf.columns]
            s_rows = [tuple(r) for r in sdf.collect()]
            res = con.execute(oracles[name])
            o_cols = [d[0].lower() for d in res.description]
            o_rows = res.fetchall()
            ok = (
                len(s_rows) == len(o_rows)
                and sorted(s_cols) == sorted(o_cols)
                and _value_hash(s_cols, s_rows)
                == _value_hash(o_cols, o_rows)
            )
            print(
                f"{'ok ' if ok else 'BAD'} {name}  "
                f"(spark {len(s_rows)} vs oracle {len(o_rows)} rows)",
                flush=True,
            )
        except Exception as e:  # noqa: BLE001 — per-query isolation
            ok = False
            print(f"ERR {name}: {type(e).__name__}: {e}"[:400], flush=True)
        n_bad += 0 if ok else 1
    print(f"\n{len(args.names) - n_bad}/{len(args.names)} green")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
