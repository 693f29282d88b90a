"""Crawl-cycle operators: the bookkeeping a recrawled corpus runs
before any dedup or extraction, each pure DataFrame SQL (JVM-side,
whole-stage codegen, no Python in the hot path) and, except
drop_contaminated (unit-tested only), each value-gated by a DuckDB
oracle in queries.py:

  * canonical_urls      URL canonicalization and registered domain
  * latest_snapshot_per_url / crawl_delta  snapshot bookkeeping: keep
                        the newest snapshot of each URL, then classify
                        pages between two crawl cycles as added /
                        removed / changed / unchanged
  * benchmark_overlap / drop_contaminated  n-gram overlap with a
                        benchmark set, and the filter on it

examples/CRAWL_CYCLE.md chains them with the production near-dup
chain of operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TRACKING_PARAM_RE = "^(utm_[a-z]+|fbclid|gclid|msclkid|ref)="
_SLD_SET = "('co','com','net','org','gov','ac','edu')"


def canonical_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds host, registered_domain, and canonical_url: lowercase
    scheme/host, default-port (:80 http / :443 https only — an explicit
    non-default port is a distinct origin and MUST survive, or two
    different servers' pages collapse into one dedup key) and
    leading-www strip, tracking params removed, remaining query params
    sorted (order-insensitive dedup key). Narrow projection — zero
    shuffles, pipelines into the scan."""
    u = url_col
    parts = {
        "scheme": f"lower(regexp_extract({u},"
        " '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))",
        "hostport": f"lower(regexp_extract({u},"
        " '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))",
        "rawpath": f"regexp_extract({u},"
        " '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)",
        "rawq": f"regexp_extract({u}, '\\\\?([^#]*)', 1)",
    }
    host = (
        "regexp_replace("
        "CASE WHEN scheme = 'http'"
        " THEN regexp_replace(hostport, ':80$', '')"
        " WHEN scheme = 'https'"
        " THEN regexp_replace(hostport, ':443$', '')"
        " ELSE hostport END,"
        " '^www\\\\.', '')"
    )
    clean_q = (
        "array_join(array_sort(filter(split(rawq, '&'),"
        f" p -> p != '' AND NOT p rlike '{_TRACKING_PARAM_RE}')), '&')"
    )
    reg_dom = (
        "CASE WHEN size(labs) >= 3 AND element_at(labs, -2) IN "
        f"{_SLD_SET} THEN concat_ws('.', element_at(labs, -3),"
        " element_at(labs, -2), element_at(labs, -1)) "
        "WHEN size(labs) >= 2 THEN concat_ws('.',"
        " element_at(labs, -2), element_at(labs, -1)) "
        "ELSE host END"
    )
    return (
        df.withColumns({k: F.expr(v) for k, v in parts.items()})
        .withColumn("host", F.expr(host))
        .withColumn("labs", F.expr("split(host, '\\\\.')"))
        .withColumn("registered_domain", F.expr(reg_dom))
        .withColumn("cq", F.expr(clean_q))
        .withColumn(
            "canonical_url",
            F.expr(
                "concat(scheme, '://', host,"
                " IF(rawpath = '', '/', rawpath),"
                " IF(cq = '', '', concat('?', cq)))"
            ),
        )
        .drop("scheme", "hostport", "rawpath", "rawq", "labs", "cq")
    )


def benchmark_overlap(
    doc_shingles: DataFrame,
    bench_shingles: DataFrame,
    threshold_permille: int = 200,
    use_broadcast: bool = True,
    id_col: str = "doc_id",
) -> DataFrame:
    """Eval-benchmark decontamination (the n-gram-overlap check every
    serious training-data pipeline runs before a training shard ships —
    GPT-3 Appendix C / PaLM §C / Llama-2 §A.6, all public): flag every
    training document whose token shingles collide with a held-out
    benchmark's shingle set.

    ``doc_shingles``: distinct (doc_id, shingle) rows for the corpus;
    ``bench_shingles``: (shingle) rows for the benchmark suite (any
    duplicates are dropped here). Returns one row per document:
    (doc_id, n_shingles, n_hit, contaminated_permille, verdict) with
    verdict = 'drop' iff the integer per-mille overlap reaches
    ``threshold_permille``.

    Scale shape: benchmark suites are MEGABYTES (a few 10^5 questions)
    against a 100 TB corpus, so the membership probe is a BROADCAST
    left join — zero shuffle, pipelined into the corpus scan — and the
    only Exchange in the whole plan is the per-doc aggregation, which
    partial-aggregates map-side. The hit flag rides the same pass that
    counts total shingles (ONE pass over the shingle set, not a
    semi-join plus a second scan). ``use_broadcast=False`` drops the
    hint for a benchmark set too large to broadcast; the plan becomes
    a shingle-keyed equi-join (still never all-pairs).
    """
    bench = bench_shingles.select("shingle").distinct()
    if use_broadcast:
        bench = F.broadcast(bench)
    marked = doc_shingles.join(
        bench.withColumn("hit", F.lit(1)), "shingle", "left"
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long").alias("n_hit"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_hit",
            F.expr("n_hit * 1000 div n_shingles").cast("long")
            .alias("contaminated_permille"),
            F.when(
                F.expr("n_hit * 1000 div n_shingles")
                >= threshold_permille,
                F.lit("drop"),
            ).otherwise(F.lit("keep")).alias("verdict"),
        )
    )


def drop_contaminated(
    df: DataFrame,
    bench_shingles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold_permille: int = 200,
    use_broadcast: bool = True,
) -> DataFrame:
    """Decontamination as a FILTER: remove every document whose k-gram
    shingle overlap with the benchmark set reaches
    ``threshold_permille`` (benchmark_overlap's 'drop' verdict), keep
    everything else — including documents too short to shingle, which
    cannot overlap anything. Keeps all input columns.

    Scale shape: the flag computation is benchmark_overlap (broadcast
    membership probe + one per-doc agg); the resulting drop list is a
    tiny fraction of the corpus (that is the point of shipping clean
    benchmarks), so it comes back as a BROADCAST anti-join — the corpus
    itself is never shuffled by the filter.
    """
    from knowledgegraphgenerator_spark.operators.dedup import (
        token_shingles,
    )

    sh = token_shingles(df.select(id_col, text_col), text_col, id_col, k)
    dropped = (
        benchmark_overlap(
            sh,
            bench_shingles,
            threshold_permille=threshold_permille,
            use_broadcast=use_broadcast,
            id_col=id_col,
        )
        .where(F.col("verdict") == "drop")
        .select(id_col)
    )
    if use_broadcast:
        dropped = F.broadcast(dropped)
    return df.join(dropped, id_col, "left_anti")


def latest_snapshot_per_url(
    df: DataFrame,
    url_col: str = "canonical_url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Recrawl collapse: keep exactly ONE snapshot per URL — the row
    with the newest ``ts_col``, ties broken by the SMALLEST ``id_col``
    (deterministic; a crawl frontier can fetch the same page twice in
    one cycle with identical timestamps). This is the snapshot-selection
    step every Common-Crawl-style corpus needs before dedup/extraction:
    the same url appears once per crawl (the reference's FAQ loaders
    assume last-write-wins per question id the same way —
    /root/reference/faq_json_reader.py:24-33's dict overwrite).

    Output: one row per url with ``n_snapshots`` (how many crawls were
    collapsed) plus the kept row's ``ts_col``/``id_col``/payload.

    Scale shape: a single groupBy(url) with max-over-struct — structs
    compare lexicographically, so max(struct(ts, -id, payload)) selects
    newest-ts-then-lowest-id in ONE combinable aggregate. Unlike a
    row_number window, the partial max runs map-side, so a hot URL
    (a clone-farm page crawled 10^6 times) collapses to one row per
    mapper before the shuffle — no single-task window partition at
    100 TB. The tie-break uses the bitwise-NOT ordering ``-1 - id``
    (ADVICE r5): it reverses int64 order TOTALLY with no overflow, so
    negative ids (e.g. xxhash64-derived) are safe — the old ``-id``
    silently inverted ties for them and overflowed on Long.MIN."""
    w = F.struct(
        F.col(ts_col).alias("ts"),
        (F.lit(-1).cast("long") - F.col(id_col)).alias("neg_id"),
        *[F.col(c).alias(c) for c in payload_cols],
    )
    agg = df.groupBy(url_col).agg(
        F.max(w).alias("w"),
        F.count(F.lit(1)).cast("long").alias("n_snapshots"),
    )
    return agg.select(
        url_col,
        F.col("w.ts").alias(ts_col),
        (F.lit(-1).cast("long") - F.col("w.neg_id")).alias(id_col),
        *[F.col(f"w.{c}").alias(c) for c in payload_cols],
        "n_snapshots",
    )


def crawl_delta(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "page_id",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Snapshot diff between two crawl cycles: full-outer join two
    (key, content_hash) frames and classify every page as
    'added' (new only), 'removed' (old only), 'changed' (both, hash
    differs), or 'unchanged'. This is the incremental-corpus primitive:
    only 'added'+'changed' pages need re-extraction/re-linking, so a
    recrawl costs work proportional to the DELTA, not the corpus (the
    batch twin of streaming admit-only-novel ingestion,
    streaming/incremental.py:220). Inputs must already be one row per
    key (run latest_snapshot_per_url first on raw crawl logs).

    Output: (key, status, old_hash, new_hash); old_hash/new_hash are
    NULL on the missing side. Presence is tracked by explicit side
    markers, NOT hash nullness — a row with a NULL content hash (failed
    fetch, NULL text) still counts as present, and a NULL-vs-value hash
    pair is 'changed' (null-safe comparison), matching the oracle's
    key-based presence + IS DISTINCT FROM.

    Scale shape: ONE equi-shuffle full-outer join on the page key; the
    key is unique per side, so there is no skew to salt."""
    o = old.select(
        F.col(key_col).alias("k"),
        F.col(hash_col).alias("old_hash"),
        F.lit(True).alias("in_old"),
    )
    n = new.select(
        F.col(key_col).alias("k"),
        F.col(hash_col).alias("new_hash"),
        F.lit(True).alias("in_new"),
    )
    return o.join(n, "k", "full_outer").select(
        F.col("k").alias(key_col),
        F.when(F.col("in_old").isNull(), F.lit("added"))
        .when(F.col("in_new").isNull(), F.lit("removed"))
        .when(
            ~F.col("old_hash").eqNullSafe(F.col("new_hash")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged")).alias("status"),
        "old_hash",
        "new_hash",
    )
