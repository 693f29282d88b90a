"""End-to-end crawl-cycle composition (examples/CRAWL_CYCLE.md): a
crafted two-cycle crawl drives snapshot collapse → recrawl delta →
decontamination → near-dup pair verification, asserting each stage's
output against the construction."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_crawl_cycle_composition(spark):
    from knowledgegraphgenerator_spark.operators.curation import (
        crawl_delta,
        drop_contaminated,
        latest_snapshot_per_url,
    )
    from knowledgegraphgenerator_spark.operators.dedup import (
        lsh_candidate_pairs_from_wide,
        minhash_wide,
        token_shingles,
        verify_jaccard,
    )

    # non-repeating shared body: 40 distinct tokens -> 38 distinct
    # 3-gram shingles, so a 1-2 token tail keeps Jaccard ~0.93
    long_clone = " ".join(f"w{i}" for i in range(40)) + " "
    # 1. raw fetch log for cycle 2: page u1 fetched twice (newest ts
    # must win), u2..u5 once each; u5 is NEW this cycle
    fetch_rows = [
        ("https://a.com/1", 100, 1, "old fetch of one"),
        ("https://a.com/1", 200, 2, "doc one current text"),
        ("https://a.com/2", 150, 3, "doc two stable text"),
        ("https://a.com/3", 160, 4, long_clone + "tail-a"),
        ("https://b.com/4", 170, 5, long_clone + "tail-b longer best"),
        ("https://b.com/5", 180, 6, "the secret benchmark passage here"
         " repeated verbatim many tokens long enough to shingle"),
    ]
    fetches = spark.createDataFrame(
        fetch_rows,
        "canonical_url string, warc_ts long, fetch_id long, text string",
    )
    snap = latest_snapshot_per_url(
        fetches, "canonical_url", "warc_ts", "fetch_id", ("text",)
    )
    got = {r["canonical_url"]: r for r in snap.collect()}
    assert got["https://a.com/1"]["text"] == "doc one current text"
    assert got["https://a.com/1"]["n_snapshots"] == 2

    # 2. recrawl delta vs the previous committed snapshot: /1 changed,
    # /2 unchanged, /0 removed, /3 /4 /5 added
    prev = spark.createDataFrame(
        [
            ("https://a.com/0", "gone page"),
            ("https://a.com/1", "doc one OLD text"),
            ("https://a.com/2", "doc two stable text"),
        ],
        "canonical_url string, text string",
    )
    delta = crawl_delta(
        prev.select("canonical_url", F.md5("text").alias("content_hash")),
        snap.select("canonical_url", F.md5("text").alias("content_hash")),
        key_col="canonical_url",
    )
    statuses = {r["canonical_url"]: r["status"] for r in delta.collect()}
    assert statuses["https://a.com/0"] == "removed"
    assert statuses["https://a.com/1"] == "changed"
    assert statuses["https://a.com/2"] == "unchanged"
    assert statuses["https://b.com/5"] == "added"
    todo = snap.join(
        delta.where(F.col("status").isin("added", "changed")).select(
            "canonical_url"
        ),
        "canonical_url",
        "semi",
    )
    assert todo.count() == 4  # /1 changed + /3 /4 /5 added

    # 3. decontaminate: u5 carries the benchmark passage verbatim
    docs = todo.select(
        F.abs(F.xxhash64("canonical_url")).alias("doc_id"),
        "canonical_url",
        "text",
    )
    bench = token_shingles(
        spark.createDataFrame(
            [(0, "the secret benchmark passage here repeated verbatim"
              " many tokens long enough to shingle")],
            "doc_id long, text string",
        ),
        "text", "doc_id", 8,
    ).select("shingle")
    clean = drop_contaminated(docs, bench, "text", "doc_id", k=8)
    kept_urls = {r["canonical_url"] for r in clean.collect()}
    assert "https://b.com/5" not in kept_urls
    assert len(kept_urls) == 3

    # 4. near-dup verification: /3 and /4 are a clone pair, and the
    # only verified pair
    sh = token_shingles(clean, "text", "doc_id", 3)
    pairs = lsh_candidate_pairs_from_wide(
        minhash_wide(sh, "doc_id", k=16), "doc_id", rows_per_band=1, k=16,
        max_bucket=None,
    )
    verified = verify_jaccard(pairs, sh, "doc_id", 7, 10)
    url_of = {r["doc_id"]: r["canonical_url"] for r in clean.collect()}
    got = {
        frozenset((url_of[r["id_a"]], url_of[r["id_b"]]))
        for r in verified.collect()
    }
    assert got == {frozenset(("https://a.com/3", "https://b.com/4"))}

