"""Dedup operator tests (small, deterministic inputs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knowledgegraphgenerator_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different text about spark pipelines here"),
        (5, "another unrelated document mentioning parquet files only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs, "text", "doc_id")
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 3, 4, 5}


def test_shingles_and_jaccard(docs):
    sh = dedup.token_shingles(docs, "text", "doc_id", n=3)
    pairs = docs.select(F.col("doc_id").alias("id_a")).crossJoin(
        docs.select(F.col("doc_id").alias("id_b"))
    ).where("id_a < id_b")
    verified = dedup.verify_jaccard(pairs, sh, "doc_id", 8, 10)
    got = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert (1, 2) in got  # identical
    assert (4, 5) not in got


def test_minhash_lsh_finds_exact_dup(docs):
    sh = dedup.token_shingles(docs, "text", "doc_id", n=3)
    wide = dedup.minhash_wide(sh, "doc_id", k=8)
    # one row per doc: id, 8 permutation minima and the shingle count
    assert wide.count() == 5
    assert sorted(wide.columns) == sorted(
        ["doc_id", "n"] + [f"mh{j}" for j in range(8)]
    )
    pairs = dedup.lsh_candidate_pairs_from_wide(
        wide, "doc_id", rows_per_band=2, k=8
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical docs always collide in every band


def test_incremental_neardup_asymmetric(spark):
    from knowledgegraphgenerator_spark.operators.dedup import (
        admit_batch_against_store,
        batch_signature_parts,
        incremental_neardup_pairs_from_parts,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    old_rows = [
        (1, base),
        (2, "completely different words about other things entirely here"),
        (3, base.replace("kappa", "lambda")),  # old-old near-dup of 1
    ]
    new_rows = [
        (100, base + " kappa"),   # near-dup of old 1
        (101, "fresh unseen content with brand new vocabulary every token"),
        (102, base + " kappa"),   # identical to new 100 (new-new dup)
    ]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    sh_old, band_old = batch_signature_parts(old, "text", "doc_id")
    sh_new, band_new = batch_signature_parts(new, "text", "doc_id")
    pairs = incremental_neardup_pairs_from_parts(
        sh_new, band_new, sh_old, band_old, "doc_id", max_bucket=None
    ).collect()
    got = {(r.id_new, r.id_old) for r in pairs}
    # cross-side dups found for BOTH new copies; no new-new (100,102),
    # no old-old (1,3) pair ever materializes
    assert (100, 1) in got and (102, 1) in got
    assert all(a != 100 or b != 102 for a, b in got)
    assert all(not (a in (1, 3) and b in (1, 3)) for a, b in got)
    admitted = sorted(
        r.doc_id
        for r in admit_batch_against_store(
            new, sh_old, band_old, "text", "doc_id", max_bucket=None
        ).collect()
    )
    assert admitted == [101]


def test_crawl_dedup_order_and_result(spark):
    """crawl_dedup = exact-then-fuzzy in one operator: exact clone
    families collapse to their min id BEFORE the LSH stage, then
    near-clones of the survivors drop. Expected kept set computed by
    hand on a crafted corpus."""
    from knowledgegraphgenerator_spark.operators.dedup import crawl_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # appended token: shares all 8 of base's shingles, union 9 ->
    # J = 8/9 = 0.89 >= 0.8 (a changed LAST token instead would give
    # 7/9 = 0.78 and survive)
    near = base + " lambda"
    rows = [
        (10, base), (11, base), (12, base),       # exact clones -> keep 10
        (20, near),                                # near-dup of 10 -> drop
        (30, "completely different text entirely unrelated body here"),
        (40, ""),                                  # empty: kept
        (41, ""),                                  # exact clone of 40
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(
        r.doc_id
        for r in crawl_dedup(
            df, "text", "doc_id", k=16, rows_per_band=1, max_bucket=None
        ).collect()
    )
    assert kept == [10, 30, 40]
