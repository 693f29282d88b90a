"""Crawl-cycle operators (operators/curation.py): URL
canonicalization, newest-snapshot-per-URL selection, the snapshot
diff, and benchmark decontamination. Oracle-gated twins live in
queries.py (canonical_urls / latest_crawl / crawl_delta /
benchmark_overlap); these unit tests cover the edge cases the synthetic
corpus can't hit and pin the plan shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from knowledgegraphgenerator_spark.operators.curation import (
    benchmark_overlap,
    canonical_urls,
    crawl_delta,
    drop_contaminated,
    latest_snapshot_per_url,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_canonical_urls_branches(spark):
    rows = [
        (1, "HTTPS://WWW.Foo.Example.COM:443/A/B?utm_source=x&b=2&a=1"),
        (2, "http://shop.co.uk:80/item?fbclid=z"),
        (3, "https://bare.org"),
        (4, "https://a.b.c.example.net/p?z=1&y=2"),
        (5, "https://localhost/x"),
        (6, "https://x.example.org:8443/p"),
        (7, "http://y.example.org:443/p"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r.doc_id: r for r in canonical_urls(df).collect()}

    # only DEFAULT ports strip (scheme-matched): an explicit
    # non-default port is a distinct origin and survives; :443 on
    # plain http is NOT that scheme's default, so it survives too
    assert out[6].host == "x.example.org:8443"
    assert out[7].host == "y.example.org:443"

    # case-fold, www/port strip, tracking removal, param sort
    assert out[1].host == "foo.example.com"
    assert out[1].canonical_url == "https://foo.example.com/A/B?a=1&b=2"
    assert out[1].registered_domain == "example.com"
    # second-level-label heuristic: co.uk keeps three labels
    assert out[2].registered_domain == "shop.co.uk"
    assert out[2].canonical_url == "http://shop.co.uk/item"
    # no path -> '/'
    assert out[3].canonical_url == "https://bare.org/"
    # deep subdomains collapse to the 2-label registrable
    assert out[4].registered_domain == "example.net"
    assert out[4].canonical_url.endswith("/p?y=2&z=1")
    # single-label host falls back to itself
    assert out[5].registered_domain == "localhost"
    assert "Exchange" not in _plan(canonical_urls(df))


def test_benchmark_overlap_crafted(spark):
    """Decontamination semantics on a crafted corpus: a verbatim
    benchmark clone reports full overlap and drops, a partial borrow
    reports the exact integer per-mille, clean docs keep, and docs too
    short to shingle never appear (no shingles -> no row)."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),       # clone of bench
            (2, "the quick brown cat sleeps now"),  # 1 of 4 shingles hit
            (3, "entirely unrelated text body here"),
            (4, "too short"),                       # < 3 tokens: no row
        ],
        "doc_id long, text string",
    )
    sh = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(toks, 1, greatest(size(toks)-2, 0)),"
                    " (x, i) -> concat(x, ' ', toks[i+1], ' ', toks[i+2]))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    bench = sh.where(F.col("doc_id") == 1).select("shingle")
    out = {
        r.doc_id: r
        for r in benchmark_overlap(sh, bench, threshold_permille=200)
        .collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1].contaminated_permille == 1000
    assert out[1].verdict == "drop"
    # doc 2: shingles = 4, exactly one ("the quick brown") in bench
    assert out[2].n_shingles == 4 and out[2].n_hit == 1
    assert out[2].contaminated_permille == 250
    assert out[2].verdict == "drop"
    assert out[3].n_hit == 0 and out[3].verdict == "keep"
    # non-broadcast path is value-identical
    alt = {
        r.doc_id: tuple(r)
        for r in benchmark_overlap(
            sh, bench, threshold_permille=200, use_broadcast=False
        ).collect()
    }
    assert alt == {k: tuple(v) for k, v in out.items()}


def test_benchmark_overlap_plan_single_exchange(spark):
    """100 TB shape pin: with the benchmark broadcast, the only
    Exchange in the plan is the per-doc aggregation — the membership
    probe must pipeline into the shingle scan, not shuffle it."""
    sh = spark.range(2000).select(
        (F.col("id") % 100).alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 700)).alias("shingle"),
    ).distinct()
    bench = spark.range(50).select(
        F.concat(F.lit("s"), F.col("id")).alias("shingle")
    )
    plan = (
        benchmark_overlap(sh, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    base = sh._jdf.queryExecution().executedPlan().toString()
    nb = plan.count("Exchange") - plan.count("BroadcastExchange")
    base_nb = base.count("Exchange") - base.count("BroadcastExchange")
    # beyond the input's own distinct, the operator may add only (a) the
    # dedup of the MB-sized benchmark side — pre-broadcast, never the
    # corpus — and (b) the per-doc aggregation: the corpus stream itself
    # gains exactly ONE shuffle
    assert nb == base_nb + 2, plan
    assert "BroadcastHashJoin" in plan, plan


def test_drop_contaminated_filter(spark):
    """drop_contaminated keeps all input columns, drops only docs at or
    above the threshold, and keeps docs too short to shingle (they
    cannot overlap anything)."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "en"),
            (2, "the quick brown cat sleeps now", "en"),  # 250 permille
            (3, "entirely unrelated text body here", "de"),
            (4, "too short", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    bench = (
        docs.where(F.col("doc_id") == 1)
        .select(F.split("text", " ").alias("toks"))
        .select(
            F.explode(
                F.expr(
                    "transform(slice(toks, 1, greatest(size(toks)-2, 0)),"
                    " (x, i) -> concat(x, ' ', toks[i+1], ' ', toks[i+2]))"
                )
            ).alias("shingle")
        )
    )
    kept = drop_contaminated(docs, bench, threshold_permille=200)
    assert set(kept.columns) == {"doc_id", "text", "lang"}
    assert {r.doc_id for r in kept.collect()} == {3, 4}
    # higher threshold: the partial borrow survives
    kept2 = drop_contaminated(docs, bench, threshold_permille=300)
    assert {r.doc_id for r in kept2.collect()} == {2, 3, 4}


def test_latest_snapshot_per_url_crafted(spark):
    """Recrawl collapse: newest warc_ts wins; a timestamp tie breaks to
    the SMALLEST doc_id; the payload column comes from the kept row;
    singleton urls pass through with n_snapshots=1."""
    rows = [
        # url A: 3 snapshots, max ts unique -> id 12 kept
        ("a", 100, 10, "v1"),
        ("a", 300, 12, "v3"),
        ("a", 200, 11, "v2"),
        # url B: max ts TIED between ids 21 and 20 -> min id 20 kept
        ("b", 500, 21, "x"),
        ("b", 500, 20, "y"),
        ("b", 400, 22, "z"),
        # url C: singleton
        ("c", 7, 30, "solo"),
    ]
    df = spark.createDataFrame(
        rows, "canonical_url string, warc_ts long, doc_id long, body string"
    )
    out = {
        r["canonical_url"]: r
        for r in latest_snapshot_per_url(
            df, "canonical_url", "warc_ts", "doc_id", ("body",)
        ).collect()
    }
    assert out["a"]["doc_id"] == 12 and out["a"]["body"] == "v3"
    assert out["a"]["warc_ts"] == 300 and out["a"]["n_snapshots"] == 3
    assert out["b"]["doc_id"] == 20 and out["b"]["body"] == "y"
    assert out["c"]["doc_id"] == 30 and out["c"]["n_snapshots"] == 1


def test_latest_snapshot_plan_one_exchange_partial_agg(spark):
    """Scale pin: the collapse is ONE shuffle with a map-side partial
    aggregate (hot urls collapse per-mapper), not a row_number window."""
    df = spark.range(100).selectExpr(
        "CAST(id % 10 AS STRING) AS canonical_url",
        "id AS warc_ts",
        "id AS doc_id",
    )
    plan = _plan(latest_snapshot_per_url(df, "canonical_url", "warc_ts",
                                         "doc_id"))
    assert plan.count("Exchange") == 1
    assert "Window" not in plan
    assert "partial_max" in plan or "partial" in plan.lower()


def test_crawl_delta_statuses(spark):
    """Snapshot diff: every status branch on crafted keys."""
    old = spark.createDataFrame(
        [(1, "h1"), (2, "h2"), (3, "h3")],
        "page_id long, content_hash string",
    )
    new = spark.createDataFrame(
        [(2, "h2"), (3, "h3-modified"), (4, "h4")],
        "page_id long, content_hash string",
    )
    got = {
        r["page_id"]: (r["status"], r["old_hash"], r["new_hash"])
        for r in crawl_delta(old, new).collect()
    }
    assert got[1] == ("removed", "h1", None)
    assert got[2] == ("unchanged", "h2", "h2")
    assert got[3] == ("changed", "h3", "h3-modified")
    assert got[4] == ("added", None, "h4")


def test_crawl_delta_null_hashes(spark):
    """Presence is key-based, not hash-based: a NULL content hash still
    counts as present, and NULL-vs-value is 'changed' (null-safe)."""
    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "h3")],
        "page_id long, content_hash string",
    )
    new = spark.createDataFrame(
        [(1, "h1"), (2, None), (3, None)],
        "page_id long, content_hash string",
    )
    got = {
        r["page_id"]: r["status"] for r in crawl_delta(old, new).collect()
    }
    assert got == {1: "changed", 2: "unchanged", 3: "changed"}
