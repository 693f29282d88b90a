"""Web link-graph construction: href extraction from raw HTML and
host-level edge aggregation — the link-structure half of KG construction
from a Common-Crawl-style corpus (the reference builds only the
term/document graph from FAQ text, /root/reference/kg_generator.py; a
web corpus additionally carries hyperlink structure, and the host graph
is what PageRank-style authority scoring and crawl prioritization run
on).

Scale shape: extraction is a NARROW regexp projection (zero shuffle —
pipelines into the parquet/WARC scan, one row per page in, exploded
links out); the edge aggregation is ONE combinable groupBy on
(src_host, dst_host) with map-side partial counts. Host cardinality is
~10^8 at web scale vs 10^12 pages, so the aggregated edge table is
orders of magnitude smaller than its input and downstream consumers
(integer_pagerank, operators/components.py:198) can bucket it by
src_host exactly like the triple store (operators/triples.py:133).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# absolute http(s) schemes only: relative links need base-url resolution
# (a per-row string op a caller can add); other schemes (mailto:,
# javascript:) are not edges
_ABS_HTTP_RE = "^[Hh][Tt][Tt][Pp][Ss]?://"


def _host(col: str) -> Column:
    """Lowercased host of an absolute URL, DEFAULT port (:80 for http,
    :443 for https — RFC 3986 normalization; an explicit non-default
    port is a distinct origin and stays) and leading-www stripped — the
    same normalization canonical_urls applies
    (operators/curation.py:canonical_urls), inlined so the edge build stays a
    single narrow projection."""
    scheme = (
        f"lower(regexp_extract({col},"
        " '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    )
    hostport = (
        f"lower(regexp_extract({col},"
        " '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))"
    )
    return F.expr(
        "regexp_replace("
        f"CASE WHEN {scheme} = 'http'"
        f" THEN regexp_replace({hostport}, ':80$', '')"
        f" WHEN {scheme} = 'https'"
        f" THEN regexp_replace({hostport}, ':443$', '')"
        f" ELSE {hostport} END,"
        " '^www\\\\.', '')"
    )


def extract_links(
    df: DataFrame, html_col: str = "html", src_col: str = "url"
) -> DataFrame:
    """(src_url, href) — every absolute http(s) href in the page's HTML.

    ``html_col`` may be BINARY (the input-table shape: raw WARC bytes)
    or STRING; a binary column is decoded as UTF-8 via cast. The
    attribute scan is two regexp_extract_all passes (double- and
    single-quoted attribute values — both are valid HTML and both are
    common in crawl data) concatenated — no parser, no UDF, so it
    stays inside whole-stage codegen; malformed HTML yields whatever
    hrefs its well-formed fragments contain (crawl reality).
    """
    h = F.col(html_col).cast("string")
    hrefs = F.concat(
        F.regexp_extract_all(h, F.lit(r'href="([^"]+)"'), F.lit(1)),
        F.regexp_extract_all(h, F.lit(r"href='([^']+)'"), F.lit(1)),
    )
    return (
        df.select(
            F.col(src_col).alias("src_url"),
            F.explode(hrefs).alias("href"),
        )
        .where(F.col("href").rlike(_ABS_HTTP_RE))
    )


def host_link_graph(
    links: DataFrame, src_col: str = "src_url", href_col: str = "href"
) -> DataFrame:
    """(src_host, dst_host, n_links) weighted host-level edges from
    page-level links. One combinable groupBy; self-loops (intra-host
    navigation) are kept — consumers that want the inter-host graph
    filter ``src_host != dst_host``, which pipelines into this agg."""
    return (
        links.select(
            _host(src_col).alias("src_host"),
            _host(href_col).alias("dst_host"),
        )
        .where((F.col("src_host") != "") & (F.col("dst_host") != ""))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
    )


def extract_anchors(
    df: DataFrame, html_col: str = "html", src_col: str = "url"
) -> DataFrame:
    """(src_url, href, anchor) — every absolute http(s) link together
    with its anchor TEXT.

    Anchor text is the web's crowd-sourced surface-form inventory for
    the target entity (the KG-construction reading: what the rest of
    the web calls the thing this URL denotes — the same role synonym
    rows play for ontology terms, /root/reference/request_type/
    JSONExportParser.py:81-102). Extraction is two regexp passes over
    whole ``<a href=...>text</a>`` elements (double- then single-quoted
    href), then per-element group extraction — no parser, no UDF, one
    narrow whole-stage-codegen projection. Anchors containing nested
    markup (``<b>…``) stop at the first ``<`` by the ``[^<]*`` body —
    plain-text anchors only, by design.
    """
    h = F.col(html_col).cast("string")
    tags = F.concat(
        F.regexp_extract_all(
            h, F.lit(r'<a href="[^"]*"[^>]*>[^<]*</a>'), F.lit(0)
        ),
        F.regexp_extract_all(
            h, F.lit(r"<a href='[^']*'[^>]*>[^<]*</a>"), F.lit(0)
        ),
    )
    tag = F.col("tag")
    href = F.when(
        tag.rlike('^<a href="'),
        F.regexp_extract(tag, 'href="([^"]*)"', 1),
    ).otherwise(F.regexp_extract(tag, "href='([^']*)'", 1))
    return (
        df.select(
            F.col(src_col).alias("src_url"),
            F.explode(tags).alias("tag"),
        )
        .select(
            "src_url",
            href.alias("href"),
            F.regexp_extract(tag, ">([^<]*)<", 1).alias("anchor"),
        )
        .where(F.col("href").rlike(_ABS_HTTP_RE))
    )


def anchor_text_profile(
    anchors: DataFrame, top_k: int = 3
) -> DataFrame:
    """(dst_host, rnk, term, cnt) — the ``top_k`` most frequent anchor
    terms pointing AT each host: per-entity surface-form ranking, the
    web-graph analogue of the reference's frequency-ranked term
    dictionary (/root/reference/strategy/phrase_finder.py:29-45).

    One combinable groupBy on (dst_host, term) then a PER-KEY window —
    partitioned by dst_host, so Catalyst's WindowGroupLimit pushes the
    rank<=k cut below the Exchange (the same skew posture measured for
    cap_per_key, BENCH/SKEW_FALLBACKS.md); no global sort anywhere.
    Ties break on ascending term for cross-engine determinism.
    """
    from pyspark.sql import Window

    counts = (
        anchors.select(
            _host("href").alias("dst_host"),
            F.explode(
                F.split(F.lower(F.col("anchor")), " ")
            ).alias("term"),
        )
        .where((F.col("dst_host") != "") & (F.col("term") != ""))
        .groupBy("dst_host", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.desc("cnt"), F.asc("term")
    )
    return (
        counts.withColumn(
            "rnk", F.row_number().over(w).cast("long")
        )
        .where(F.col("rnk") <= top_k)
        .select("dst_host", "rnk", "term", "cnt")
    )
