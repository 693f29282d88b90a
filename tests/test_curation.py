"""Corpus-curation operators (operators/curation.py): Gopher-style
repetition signals, URL canonicalization, token chunking, per-domain
caps, deterministic stratified sampling, duplicated-span removal,
benchmark decontamination, mixture rebalancing and crawl snapshots.
Oracle-gated twins live in queries.py (repetition_signals /
domain_cap / stratified_sample and the rest of the curation rows);
these unit tests cover the edge cases the synthetic corpus can't hit
and pin the zero-shuffle plan shapes."""

from __future__ import annotations

from knowledgegraphgenerator_spark.operators.curation import (
    cap_per_key,
    mod_stratified_sample,
    repetition_signals,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_repetition_signals_crafted(spark):
    rows = [
        # 20 tokens, all distinct -> keep
        (1, " ".join(f"w{i}" for i in range(20))),
        # one token repeated 10 of 20 -> top_uni 10 -> drop (500 >= 300)
        (2, " ".join(["spam"] * 10 + [f"w{i}" for i in range(10)])),
        # verbatim 5-gram repetition: the same 5 tokens 4 times
        (3, " ".join(["a b c d e"] * 4)),
        # short doc -> drop on min_tokens
        (4, "tiny doc"),
        # empty text -> excluded entirely (matches the oracle's tokens CTE)
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_signals(df).collect()}

    assert 5 not in out
    assert out[1].verdict == "keep" and out[1].top_uni_cnt == 1
    assert out[2].top_uni_cnt == 10 and out[2].verdict == "drop"
    # doc 3: 20 tokens, 16 5-gram windows, 4 distinct windows appear
    # 4x/3x... -> dup5_mass = 16 - distinct; 'a b c d e' repeated gives
    # every window duplicated: windows cycle with period 5 -> 5 distinct
    # patterns (abcde, bcdea, ...) each hit multiple times
    assert out[3].n_tokens == 20
    assert out[3].dup5_mass == 16 - 5
    assert out[3].verdict == "drop"
    assert out[4].n_tokens == 2 and out[4].verdict == "drop"
    # single-token doc edge: bigram/5-gram arrays empty, counts 0
    one = repetition_signals(
        spark.createDataFrame([(9, "solo")], "doc_id long, text string")
    ).collect()[0]
    assert (one.top_bi_cnt, one.dup5_mass) == (0, 0)
    # zero-shuffle plan: all signals from the row's own token array
    assert "Exchange" not in _plan(repetition_signals(df))


def test_cap_per_key(spark):
    rows = [(i, "d%d" % (i % 3)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = cap_per_key(df, "source", "doc_id", 4).collect()
    assert len(out) == 12
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.doc_id)
    # deterministically the LOWEST ids per key
    assert sorted(by_src["d0"]) == [0, 3, 6, 9]
    assert sorted(by_src["d2"]) == [2, 5, 8, 11]


def test_mod_stratified_sample_deterministic(spark):
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out1 = sorted(
        r.doc_id
        for r in mod_stratified_sample(
            df, "doc_id", "lang", {"en": 100}, default_permille=900
        ).collect()
    )
    out2 = sorted(
        r.doc_id
        for r in mod_stratified_sample(
            df, "doc_id", "lang", {"en": 100}, default_permille=900
        ).collect()
    )
    assert out1 == out2  # no RNG state — identical across runs
    en = sum(1 for i in out1 if i % 2 == 0)
    de = len(out1) - en
    # expected 100/1000 of 1000 en docs and 900/1000 of 1000 de docs,
    # exact-ish under the multiplicative scramble
    assert 60 <= en <= 140
    assert 850 <= de <= 950
    # every kept row satisfies the arithmetic predicate exactly
    for i in out1[:50]:
        rate = 100 if i % 2 == 0 else 900
        assert (i % 1_000_000_007 * 48271) % 1000 < rate
    assert "Exchange" not in _plan(
        mod_stratified_sample(df, "doc_id", "lang", {"en": 100}, 900)
    )


def test_mod_stratified_sample_full_int64_ids(spark):
    """xxhash64(url) doc ids span the FULL int64 range, negatives
    included; the bucketing must neither overflow under ANSI mode nor
    disagree with the pure-Python pmod reference (ADVICE r3 #4 — the
    old ``id * 48271`` threw past |id| ~ 1.9e14)."""
    ids = [
        -(2 ** 63), 2 ** 63 - 1, -1, 0, 1,
        -987_654_321_987_654_321, 123_456_789_123_456_789,
    ]
    df = spark.createDataFrame(
        [(i, "en") for i in ids], "doc_id long, lang string"
    )
    kept = {
        r.doc_id
        for r in mod_stratified_sample(
            df, "doc_id", "lang", {"en": 500}
        ).collect()
    }
    p = 1_000_000_007
    expect = {i for i in ids if (i % p * 48271) % 1000 < 500}
    assert kept == expect
    assert kept  # the predicate keeps ~half; all-drop would hide overflow


def test_chunk_by_tokens_boundaries(spark):
    from knowledgegraphgenerator_spark.operators.curation import (
        chunk_by_tokens,
    )
    import pytest

    rows = [
        (1, " ".join(f"t{i}" for i in range(100))),  # 100 toks -> 3 chunks
        (2, " ".join(f"t{i}" for i in range(40))),   # == max -> 1 chunk
        (3, " ".join(f"t{i}" for i in range(41))),   # max+1 -> 2 chunks
        (4, "one two"),                               # < max -> 1 chunk
        (5, ""),                                      # excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_by_tokens(df, max_tokens=40, overlap=10)
    got = {}
    for r in out.collect():
        got.setdefault(r.doc_id, []).append(r)
    assert 5 not in got
    assert [c.n_chunk_tokens for c in sorted(got[1], key=lambda c: c.chunk_id)] == [40, 40, 40]
    # chunk 1 starts at token 30 (stride 30): 10 tokens of overlap
    c0, c1, c2 = sorted(got[1], key=lambda c: c.chunk_id)
    assert c0.chunk_text.split()[30:] == c1.chunk_text.split()[:10]
    assert c2.chunk_text.split()[-1] == "t99"
    assert len(got[2]) == 1 and got[2][0].n_chunk_tokens == 40
    assert len(got[3]) == 2
    assert got[3][1].n_chunk_tokens == 11  # tokens 31..41: overlap + 1
    assert len(got[4]) == 1 and got[4][0].chunk_text == "one two"
    assert "Exchange" not in _plan(out)
    with pytest.raises(ValueError):
        chunk_by_tokens(df, max_tokens=10, overlap=10)


def test_canonical_urls_branches(spark):
    from knowledgegraphgenerator_spark.operators.curation import (
        canonical_urls,
    )

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


def _seq_remove_dup_spans(docs, k=3, min_repeats=2):
    """Sequential reference for remove_duplicate_spans: dict-and-loop
    implementation with the same one-pass semantics (marks computed
    against the original text; canonical keeper = first (doc_id, pos))."""
    spans = []  # (doc_id, pos, shingle) in doc order
    toks = {d: t.split(" ") for d, t in docs}
    for doc_id, _ in docs:
        t = toks[doc_id]
        for i in range(len(t) - k + 1):
            spans.append((doc_id, i, " ".join(t[i:i + k])))
    occ = {}
    for doc_id, pos, sh in spans:
        occ.setdefault(sh, []).append((doc_id, pos))
    removed = {d: set() for d, _ in docs}
    for sh, occs in occ.items():
        if len(occs) < min_repeats:
            continue
        for doc_id, pos in sorted(occs)[1:]:
            removed[doc_id].update(range(pos, pos + k))
    out = {}
    for doc_id, _ in docs:
        t = toks[doc_id]
        kept = [x for i, x in enumerate(t) if i not in removed[doc_id]]
        clean = " ".join(kept)
        out[doc_id] = (
            clean, len(t) - len(kept), len(" ".join(t)) - len(clean)
        )
    return out


def test_remove_duplicate_spans_differential(spark):
    """Spark operator == sequential reference on a corpus engineered to
    hit: cross-doc dup (keeper in the lowest doc), within-doc dup,
    overlapping marked spans, a fully-removed doc, short docs (< k
    tokens), and unique text."""
    from knowledgegraphgenerator_spark.operators.curation import (
        remove_duplicate_spans,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "intro words the quick brown fox jumps again here"),
        (3, "a b c x y a b c z w"),          # within-doc repeat
        (4, "the quick brown fox"),           # covered by doc-1 spans
        (5, "tiny doc"),                      # < k tokens: untouched
        (6, "completely unique sentence nothing shared at all"),
        (7, "the quick brown"),               # exactly k, dup of doc 1
    ]
    expect = _seq_remove_dup_spans(docs)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["clean_text"], r["tokens_removed"], r["bytes_removed"]
        )
        for r in remove_duplicate_spans(df).collect()
    }
    assert got == expect
    # sanity on the engineered cases themselves
    assert expect[1][1] == 0              # canonical keeper untouched
    assert expect[5] == ("tiny doc", 0, 0)
    assert expect[6][1] == 0
    assert expect[7] == ("", 3, len("the quick brown"))  # fully removed


def test_remove_duplicate_spans_randomized_differential(spark):
    """Randomized corpus (seeded): heavy boilerplate overlap across 40
    docs — the Spark plan and the sequential dict reference must agree
    everywhere."""
    import random

    from knowledgegraphgenerator_spark.operators.curation import (
        remove_duplicate_spans,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    boiler = "subscribe to our newsletter for updates"
    docs = []
    for d in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        if rng.random() < 0.5:
            at = rng.randint(0, max(len(words) - 1, 0))
            words[at:at] = boiler.split(" ")
        docs.append((d, " ".join(words) if words else "x"))
    expect = _seq_remove_dup_spans(docs)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["clean_text"], r["tokens_removed"], r["bytes_removed"]
        )
        for r in remove_duplicate_spans(df).collect()
    }
    assert got == expect
    # the boilerplate must actually have been cut somewhere
    assert sum(v[1] for v in expect.values()) > 0


def test_remove_duplicate_spans_variants_differential(spark):
    """The hot-shingle groupby fallback (VERDICT r4 #3a) must be
    row-identical to the window default and to the sequential
    reference, on a crafted hot-key corpus: one boilerplate shingle
    occurring in all 200 docs (the shape that serializes the window
    form onto one task at 10^9 occurrences), plus cross-doc shingles
    shared among subsets, a unique doc, and a sub-k doc."""
    from knowledgegraphgenerator_spark.operators.curation import (
        remove_duplicate_spans,
    )

    boiler = "all rights reserved"
    docs = [
        (d, f"d{d} body w{d % 7} w{(d * 3) % 11} " + boiler)
        for d in range(200)
    ]
    docs += [(1000, "completely unique sentence here"), (1001, "tiny doc")]
    expect = _seq_remove_dup_spans(docs)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for variant in ("window", "groupby"):
        got = {
            r["doc_id"]: (
                r["clean_text"], r["tokens_removed"], r["bytes_removed"]
            )
            for r in remove_duplicate_spans(df, variant=variant).collect()
        }
        assert got == expect, variant
    # the hot shingle really was cut from every non-canonical doc
    assert sum(1 for v in expect.values() if v[1] > 0) >= 199
    # the fallback replaces the shingle window with agg + join-back
    assert "Window" not in _plan(remove_duplicate_spans(df, variant="groupby"))
    assert "Window" in _plan(remove_duplicate_spans(df, variant="window"))


def test_cap_per_key_salted_differential(spark):
    """The skew-proof salted two-pass cap (VERDICT r4 #3b) == the
    window default on a hot-key corpus (one domain with 5,000 rows vs
    two 3-row domains), across k below/at/above the group sizes; the
    output schema is unchanged."""
    rows = [(i, "hot") for i in range(5000)] + [
        (10_000 + i, "d%d" % (i % 2)) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    for k in (1, 3, 20, 10_000):
        a = sorted(
            (r.source, r.doc_id)
            for r in cap_per_key(df, "source", "doc_id", k).collect()
        )
        b = sorted(
            (r.source, r.doc_id)
            for r in cap_per_key(
                df, "source", "doc_id", k, variant="salted"
            ).collect()
        )
        assert a == b, k
    assert cap_per_key(
        df, "source", "doc_id", 3, variant="salted"
    ).columns == df.columns


def test_cap_per_key_window_group_limit_plan(spark):
    """The window default's 100 TB posture rests on Catalyst's
    rank-limit pushdown: the executed plan must contain a
    ``WindowGroupLimit ... Partial`` node BEFORE the Exchange, which
    caps every map partition at k rows per key so a hot key never
    serializes onto one task (BENCH/SKEW_FALLBACKS.md, round 5)."""
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("source"),
    )
    plan = (
        cap_per_key(df, "source", "doc_id", 20)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan
    partial = plan.index(", Partial")
    assert partial > plan.index("Exchange"), (
        "Partial group limit must appear below (after in text) the "
        "Exchange, i.e. on the map side"
    )


def test_benchmark_overlap_crafted(spark):
    """Decontamination semantics on a crafted corpus: a verbatim
    benchmark clone reports full overlap and drops, a partial borrow
    reports the exact integer per-mille, clean docs keep, and docs too
    short to shingle never appear (no shingles -> no row)."""
    from pyspark.sql import functions as F

    from knowledgegraphgenerator_spark.operators.curation import (
        benchmark_overlap,
    )

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
    from pyspark.sql import functions as F

    from knowledgegraphgenerator_spark.operators.curation import (
        benchmark_overlap,
    )

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


def test_domain_mixture_rebalance_rates(spark):
    """Rate derivation is integer-exact and flattening: with counts
    {a: 800, b: 150, c: 50} and a 500-permille budget, B = 500,
    t = 166 per domain -> a clamps to 207 permille, b and c keep
    everything (rate 1000). The keep set is the MINSTD bucket filter,
    so membership is reproducible and engine-independent."""
    from pyspark.sql import functions as F

    from knowledgegraphgenerator_spark.operators.curation import (
        domain_mixture_rebalance,
    )

    rows = (
        [(i, "a") for i in range(800)]
        + [(10_000 + i, "b") for i in range(150)]
        + [(20_000 + i, "c") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = domain_mixture_rebalance(
        df, id_col="doc_id", domain_col="source", budget_permille=500
    )
    kept = out.groupBy("source").count().collect()
    by = {r.source: r["count"] for r in kept}
    # b and c: rate 1000 -> everything kept
    assert by["b"] == 150 and by["c"] == 50
    # a: rate = min(1000, (1000*500//1000//3)*1000//800) = 207 permille;
    # recompute the exact keep set with the same scramble
    expect_a = sum(
        1
        for i in range(800)
        if ((i % 1_000_000_007) * 48271) % 1000 < 207
    )
    assert by["a"] == expect_a
    # deterministic: second run identical
    again = {
        r.source: r["count"]
        for r in domain_mixture_rebalance(
            df, id_col="doc_id", domain_col="source", budget_permille=500
        ).groupBy("source").count().collect()
    }
    assert again == by
    # output keeps the input columns
    assert set(out.columns) == {"doc_id", "source"}


def test_domain_mixture_rebalance_negative_ids(spark):
    """xxhash64 ids are frequently negative: pmod keeps the bucket in
    [0, 1000) so negative ids are sampled, not silently always-kept or
    always-dropped (same overflow/sign discipline as
    mod_stratified_sample, ADVICE r3 #4)."""
    from knowledgegraphgenerator_spark.operators.curation import (
        domain_mixture_rebalance,
    )

    rows = [(-(2**63) + i * 7_919_099_113, "x") for i in range(400)] + [
        (i, "y") for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = domain_mixture_rebalance(df, budget_permille=500)
    by = {
        r.source: r["count"]
        for r in out.groupBy("source").count().collect()
    }
    # y is under the uniform share -> fully kept; x is clamped to
    # rate = (440*500//1000//2)*1000//400 = 275 permille, and the
    # bucket filter must actually bite on the negative ids
    assert by["y"] == 40
    assert 0 < by["x"] < 400
    expect_x = sum(
        1
        for (i, s) in rows
        if s == "x"
        and ((((i % 1_000_000_007) + 1_000_000_007) % 1_000_000_007)
             * 48271) % 1000 < 275
    )
    assert by["x"] == expect_x


def test_drop_contaminated_filter(spark):
    """drop_contaminated keeps all input columns, drops only docs at or
    above the threshold, and keeps docs too short to shingle (they
    cannot overlap anything)."""
    from pyspark.sql import functions as F

    from knowledgegraphgenerator_spark.operators.curation import (
        drop_contaminated,
    )

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
    from knowledgegraphgenerator_spark.operators.curation import (
        latest_snapshot_per_url,
    )

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
    from knowledgegraphgenerator_spark.operators.curation import (
        latest_snapshot_per_url,
    )

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
    from knowledgegraphgenerator_spark.operators.curation import (
        crawl_delta,
    )

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
    from knowledgegraphgenerator_spark.operators.curation import (
        crawl_delta,
    )

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
