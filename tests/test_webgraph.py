"""Web link-graph construction (operators/webgraph.py): href extraction
from raw HTML (binary or string), host-level edge aggregation and
anchor-text extraction, plus integer HITS over the link graph
(operators/components.integer_hits). Driver-gated twins: the
host_link_graph, anchor_text_profile and host_hits queries (queries.py)
with DuckDB oracles."""

from __future__ import annotations

from knowledgegraphgenerator_spark.operators.webgraph import (
    extract_links,
    host_link_graph,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_links_filters_and_decodes_binary(spark):
    """Absolute http(s) hrefs only — relative, mailto and javascript
    links are not edges; html arrives as BINARY (the input-table shape)
    and must decode via cast."""
    html = (
        '<a href="https://a.com/x">1</a>'
        '<a href="/relative">2</a>'
        '<a href="mailto:x@y.com">3</a>'
        '<a href="HTTP://B.org">4</a>'
        '<a href="javascript:void(0)">5</a>'
    )
    df = spark.createDataFrame(
        [("https://src.com/p", bytearray(html.encode()))],
        "url string, html binary",
    )
    got = sorted(
        r["href"] for r in extract_links(df, "html", "url").collect()
    )
    assert got == ["HTTP://B.org", "https://a.com/x"]


def test_host_link_graph_normalizes_and_weights(spark):
    """Case, default port, and leading www collapse into one host; the
    edge weight counts page-level links."""
    rows = [
        ("https://src.com/1", "https://WWW.Dst.COM:443/a"),
        ("https://src.com/2", "http://dst.com/b"),
        ("http://www.src.com/3", "https://other.net/"),
    ]
    df = spark.createDataFrame(rows, "src_url string, href string")
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_link_graph(df).collect()
    }
    assert got == {
        ("src.com", "dst.com"): 2,
        ("src.com", "other.net"): 1,
    }


def test_webgraph_plan_shapes(spark):
    """Scale pins: extraction is a zero-Exchange narrow projection; the
    whole edge build carries exactly ONE Exchange (the (src,dst) agg)
    with a map-side partial count."""
    df = spark.range(100).selectExpr(
        "CAST(id AS STRING) AS url",
        "'<a href=\"https://x.com/\">l</a>' AS html",
    )
    links = extract_links(df, "html", "url")
    assert "Exchange" not in _plan(links)
    full = _plan(host_link_graph(links))
    assert full.count("Exchange") == 1
    assert "partial_count" in full or "partial" in full.lower()


def test_extract_links_single_quoted(spark):
    """Single-quoted href attributes are valid HTML and must extract."""
    df = spark.createDataFrame(
        [("u", "<a href='https://sq.com/x'>1</a>"
          '<a href="https://dq.com/y">2</a>')],
        "url string, html string",
    )
    got = sorted(
        r["href"] for r in extract_links(df, "html", "url").collect()
    )
    assert got == ["https://dq.com/y", "https://sq.com/x"]


def test_host_keeps_non_default_port(spark):
    """Only DEFAULT ports strip (:80 http / :443 https); an explicit
    non-default port is a distinct origin and must survive."""
    rows = [
        ("https://a.com:8443/x", "http://b.com:8080/y"),
        ("https://a.com:443/x", "http://b.com:80/y"),
        ("http://c.com:443/x", "https://d.com:80/y"),
    ]
    df = spark.createDataFrame(rows, "src_url string, href string")
    got = set(
        (r["src_host"], r["dst_host"]) for r in host_link_graph(df).collect()
    )
    assert got == {
        ("a.com:8443", "b.com:8080"),
        ("a.com", "b.com"),
        ("c.com:443", "d.com:80"),
    }


def test_integer_hits_star_graph(spark):
    """Two pages linking one target: sources are pure hubs (split
    mass), the target is the sole authority — exact integer values."""
    from knowledgegraphgenerator_spark.operators.components import (
        integer_hits,
    )

    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c")], "src string, dst string"
    )
    got = {
        r["entity"]: (r["hub"], r["auth"])
        for r in integer_hits(edges, n_iters=2).collect()
    }
    assert got == {
        "a": (500000, 0),
        "b": (500000, 0),
        "c": (0, 1000000),
    }


def test_integer_hits_empty(spark):
    from knowledgegraphgenerator_spark.operators.components import (
        integer_hits,
    )

    edges = spark.createDataFrame([], "src string, dst string")
    assert integer_hits(edges).count() == 0


def test_integer_hits_zero_iters_returns_seed(spark):
    """n_iters=0 returns the uniform seed state — the same
    degenerate-parameter contract as integer_pagerank."""
    from knowledgegraphgenerator_spark.operators.components import (
        integer_hits,
    )

    edges = spark.createDataFrame(
        [("a", "b")], "src string, dst string"
    )
    got = {
        r["entity"]: (r["hub"], r["auth"])
        for r in integer_hits(edges, n_iters=0).collect()
    }
    assert got == {"a": (500000, 500000), "b": (500000, 500000)}


def test_extract_anchors_quote_styles_and_drops(spark):
    """Double- and single-quoted hrefs both carry their anchor text;
    relative links and anchors with nested markup are dropped (the
    plain-text-anchor contract)."""
    from knowledgegraphgenerator_spark.operators.webgraph import (
        extract_anchors,
    )

    html = (
        '<a href="https://a.com/x">download spark</a>'
        "<a href='https://b.com/y' rel=nofollow>user guide</a>"
        '<a href="/rel">local</a>'
        '<a href="https://c.com/z"><b>bold</b></a>'
    )
    df = spark.createDataFrame(
        [("https://src.com/", html)], "url string, html string"
    )
    got = sorted(
        (r["href"], r["anchor"])
        for r in extract_anchors(df, "html", "url").collect()
    )
    assert got == [
        ("https://a.com/x", "download spark"),
        ("https://b.com/y", "user guide"),
    ]


def test_anchor_text_profile_topk_and_ties(spark):
    """Per-host term ranking: count desc, then term asc on ties; rank
    cut at top_k; host normalization collapses www/port variants."""
    from knowledgegraphgenerator_spark.operators.webgraph import (
        anchor_text_profile,
    )

    rows = [
        ("s", "https://t.com/1", "spark engine"),
        ("s", "https://WWW.T.com:443/2", "spark docs"),
        ("s", "https://t.com/3", "engine"),
        ("s", "https://other.net/", "zz"),
    ]
    df = spark.createDataFrame(rows, "src_url string, href string, anchor string")
    got = [
        (r["dst_host"], r["rnk"], r["term"], r["cnt"])
        for r in anchor_text_profile(df, top_k=2).collect()
    ]
    assert sorted(got) == [
        ("other.net", 1, "zz", 1),
        ("t.com", 1, "engine", 2),
        ("t.com", 2, "spark", 2),
    ]
