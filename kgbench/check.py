"""Output checks: an order-independent digest of a triple multiset, and
the triple-set F1 of the engine against the sequential reference on a
seeded slice."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRIPLE_COLS = ("subj", "pred", "obj")


def triple_digest(df: DataFrame) -> tuple[int, int]:
    """(row count, exact sum of 64-bit row hashes): equal for equal
    multisets whatever the row order or partitioning."""
    h = F.xxhash64(*TRIPLE_COLS).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


def f1(got: set, want: set) -> float:
    if not got and not want:
        return 1.0
    return 2.0 * len(got & want) / (len(got) + len(want))


def reference_f1(slice_df: DataFrame, got: DataFrame, html: bool) -> float:
    """Triple-set F1 of ``got``, the engine's triples for the slice,
    against the sequential reference (``tests/ref_impl``). The reference
    sees the raw text the engine sees: the page text, or for HTML pages
    the package's byte-identical extractor output."""
    from knowledgegraphgenerator_spark.core.html import extract_text
    from knowledgegraphgenerator_spark.core.stopwords import get_stop_words
    from tests.ref_impl.pipeline import run_reference_pipeline

    rows = slice_df.orderBy("doc_id").collect()
    texts = [extract_text(r["html"]) if html else r["text"] for r in rows]
    _, want = run_reference_pipeline(texts, get_stop_words("en"))
    return f1({tuple(r) for r in got.select(*TRIPLE_COLS).collect()}, want)
