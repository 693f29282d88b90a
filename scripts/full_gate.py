#!/usr/bin/env python
"""Full-registry correctness gate: the local certification that covers
EVERY ``queries()`` entry. It fails loudly on any count mismatch and
emits one row per registered query in the CORRECTNESS report format.

Usage:
    python scripts/full_gate.py [--sf /root/testdata/sf0.01] \
        [--out gate_out/full_gate.json]

The report goes under the git-ignored ``gate_out/`` by default, so a gate
run leaves the working tree clean.

Per query: run the Spark DataFrame and the DuckDB oracle SQL on the same
parquet tables, compare row count, sorted column names, and an
order-insensitive value hash (columns sorted by name, rows sorted,
floats rounded once to 9dp) — the same three checks the driver applies.
Each row also records the Spark side's value hash (``spark_hash``), so
the reports of two commits can be compared query by query.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the only table the registry's oracles read
TABLES = ("documents",)


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def _value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(str(_canon(row[i])) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for row in canon:
        h.update("\x1f".join(row).encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="gate_out/full_gate.json")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry_mod
    from knowledgegraphgenerator_spark.session import get_spark

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    missing = sorted(set(queries) - set(oracles))
    if missing:
        print(f"FATAL: queries without oracles: {missing}")
        return 2

    spark = get_spark(app_name="full-gate")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf}/{t}.parquet')"
        )

    report: dict[str, dict] = {}
    n_bad = 0
    t0 = time.time()
    for name, q in queries.items():
        row: dict = {
            "rows_match": False, "schema_match": False,
            "hash_match": False, "spark_rows": None,
            "oracle_rows": None, "spark_hash": None, "err": None,
        }
        try:
            sdf = q(spark, args.sf)
            s_cols = [c.lower() for c in sdf.columns]
            s_rows = [tuple(r) for r in sdf.collect()]
            res = con.execute(oracles[name])
            o_cols = [d[0].lower() for d in res.description]
            o_rows = res.fetchall()
            row["spark_rows"] = len(s_rows)
            row["oracle_rows"] = len(o_rows)
            row["rows_match"] = len(s_rows) == len(o_rows)
            row["schema_match"] = sorted(s_cols) == sorted(o_cols)
            row["spark_hash"] = _value_hash(s_cols, s_rows)
            row["hash_match"] = (
                row["schema_match"]
                and row["spark_hash"] == _value_hash(o_cols, o_rows)
            )
        except Exception as e:  # noqa: BLE001 — per-query isolation
            row["err"] = f"{type(e).__name__}: {e}"[:400]
        report[name] = row
        ok = row["rows_match"] and row["schema_match"] and row["hash_match"]
        n_bad += 0 if ok else 1
        print(f"{'ok ' if ok else 'BAD'} {name}  "
              f"({row['spark_rows']} rows)", flush=True)

    assert len(report) == len(queries), (
        f"report has {len(report)} rows for {len(queries)} queries"
    )
    payload = {
        "sf": args.sf,
        "n_queries": len(queries),
        "n_reported": len(report),
        "n_green": len(queries) - n_bad,
        "wall_s": round(time.time() - t0, 1),
        "queries": report,
    }
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=2)
    print(f"\n{payload['n_green']}/{payload['n_queries']} green "
          f"in {payload['wall_s']}s -> {args.out}")
    spark.stop()
    return 0 if n_bad == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
