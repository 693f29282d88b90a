"""Local mirror of the driver's correctness gate: every queries() entry
with an oracle is executed on Spark AND DuckDB at sf0.001 and compared
(row count, column names, order-insensitive values). Uses sf0.001 to keep
the suite fast; the driver runs the identical comparison at sf0.01.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

import os
SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
# the only table the registry's oracles read
TABLES = ("documents",)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def _rows(rows):
    return sorted(
        tuple(_canon(v) for v in row) for row in rows
    )


ORACLE_QUERIES = sorted(entry_mod.oracle_sql())


def test_every_query_has_an_oracle():
    """A query without an oracle would silently drop out of the
    parametrized gate below."""
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert spark_cols == duck_cols, f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} != {len(duck_rows)}"
    )
    srt_s, srt_d = _rows(spark_rows), _rows(duck_rows)
    mismatches = [
        (s, d) for s, d in zip(srt_s, srt_d) if s != d
    ][:5]
    assert srt_s == srt_d, f"{name}: value mismatch, first diffs {mismatches}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert [f.name for f in df.schema.fields] == ["subj", "pred", "obj"]


def test_rows_only_queries_run(spark):
    for name in ("kg_ontology",):
        df = entry_mod.queries()[name](spark, SF_DIR)
        assert df.count() > 0
