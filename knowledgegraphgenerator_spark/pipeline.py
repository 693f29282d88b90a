"""End-to-end KG construction pipeline (SURVEY.md §3.1 re-expressed).

corpus(url/doc_id, html?, text, lang)
  → one Python pass per page: extract HTML,     [no shuffle]
    normalize, chunker features (mapInPandas),
    cached for the two corpus reads
  → term dictionary (agg + threshold; A3 and    [1 shuffle + 1 collect]
    ranking on the driver)
  → broadcast dictionary → link terms           [no shuffle]
  → optimise hierarchy (G1, G2)                 [path-stats probe + join]
  → triples                                     [explode + distinct]

Reference lifecycle: /root/reference/KnowledgeGraphGenerator.py:31-64.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from knowledgegraphgenerator_spark.core import html as html_mod
from knowledgegraphgenerator_spark.core import textnorm
from knowledgegraphgenerator_spark.core.stopwords import resolve_stop_words
from knowledgegraphgenerator_spark.operators import hierarchy, phrases, triples
from knowledgegraphgenerator_spark.operators import linking as linking_ops


@dataclass
class KGResult:
    ontology: DataFrame
    triples: DataFrame
    dictionary_sizes: dict[str, int] = field(default_factory=dict)
    _cleanup: list = field(default_factory=list, repr=False)

    def close(self) -> None:
        """Release caches/broadcasts the pipeline holds for its result
        DataFrames (ADVICE r3 #2). Call after the terminal action; the
        DataFrames stay valid (unpersist only drops the cache). Every
        release blocks until its blocks are gone, so no removal work
        outlives this call and overlaps the next build."""
        for fn in self._cleanup:
            fn()
        self._cleanup.clear()


def _page_source(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    html_col: str | None,
) -> DataFrame:
    """-> (doc_id, lang[, text][, html]): the columns a page pass reads.
    ``text`` is absent only when ``html_col`` is given and the frame has
    no ``text_col``."""
    cols = [F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")]
    if html_col is None or text_col in df.columns:
        cols.append(F.col(text_col).alias("text"))
    if html_col is not None:
        cols.append(F.col(html_col).alias("html"))
    return df.select(*cols)


def _normalize_pages(pdf: pd.DataFrame) -> pd.DataFrame:
    """One batch of ``_page_source`` rows -> (doc_id, lang, question,
    norm_text). question = coalesce(text, extract_text(html)) when there
    is an html column, else text; a null question normalizes to ""."""
    question = pdf["text"] if "text" in pdf else [None] * len(pdf)
    if "html" in pdf:
        question = [
            t if t is not None else html_mod.extract_text(h)
            for t, h in zip(question, pdf["html"])
        ]
    norm = [
        textnorm.normalize_text(q or "", lang)
        for q, lang in zip(question, pdf["lang"])
    ]
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "lang": pdf["lang"],
            "question": question,
            "norm_text": norm,
        }
    )


_PAGES_SCHEMA = (
    "doc_id long, lang string, question string, norm_text string, "
    "phrases array<string>, unigrams array<string>, verbs array<string>"
)


def _page_pass(src: DataFrame, stop_tokens: frozenset[str]) -> DataFrame:
    """The build's single Python pass over the corpus: extract, normalize
    and the chunker features of each page in one ``mapInPandas``, so a
    page crosses the JVM↔Python boundary once before the dictionary
    shuffle. -> ``_PAGES_SCHEMA``."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = _normalize_pages(pdf)
            yield out.assign(
                **phrases.feature_columns(out["norm_text"], stop_tokens)
            )

    return src.mapInPandas(gen, schema=_PAGES_SCHEMA)


def normalize_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    html_col: str | None = None,
) -> DataFrame:
    """-> (doc_id, lang, question, norm_text). When ``html_col`` is given
    and ``text_col`` is absent/null, text is extracted from HTML first
    (byte-identical extractor, core/html.py). The per-page work is the
    build's (``_normalize_pages``) without the features."""
    src = _page_source(df, id_col, text_col, lang_col, html_col)
    schema = StructType(
        [
            StructField("doc_id", src.schema["doc_id"].dataType),
            StructField("lang", src.schema["lang"].dataType),
            StructField("question", StringType()),
            StructField("norm_text", StringType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _normalize_pages(pdf)

    return src.mapInPandas(gen, schema=schema)


def run_faq_pipeline(
    spark,
    file_path: str,
    request_type: str = "csv",
    lang: str = "en",
    synonyms_csv_path: str | None = None,
    output_json_path: str | None = None,
):
    """Reference CLI lifecycle (KnowledgeGraphGenerator.py:31-64):
    parse → extract/link (ALL questions) → optimise (primaries only —
    the reference's path maps iterate altq_map keys, Optmiser.py:25-26)
    → export JSON + triples. Returns (export_df, KGResult)."""
    from knowledgegraphgenerator_spark.operators.export import (
        build_export,
        write_export_json,
    )
    from knowledgegraphgenerator_spark.sources.faq import get_input_parser

    parser = get_input_parser(request_type)
    if request_type == "json_export":
        parsed = parser(file_path, lang, synonyms_csv_path)
    else:
        parsed = parser(file_path, lang)
    faq = parsed.to_df(spark)

    corpus = faq.select(
        F.col("ques_id").alias("doc_id"),
        F.col("question").alias("text"),
        F.lit(lang).alias("lang"),
    )
    primaries = faq.where("is_primary").select(
        F.col("ques_id").alias("doc_id")
    )
    syn_df = None
    if parsed.synonyms:
        syn_df = spark.createDataFrame(
            [(k, v) for k, v in parsed.synonyms.items()],
            "term string, synonyms array<string>",
        )
    altq = faq.where("NOT is_primary").select(
        F.col("question").alias("alt_question"), "primary_id"
    )
    alt_with_primary = altq.join(
        faq.where("is_primary").select(
            F.col("ques_id").alias("primary_id"),
            F.col("question").alias("primary_question"),
        ),
        "primary_id",
    ).select("alt_question", "primary_question")

    result = run_pipeline(
        corpus,
        lang=lang,
        stop_words=sorted(parsed.stop_words),
        primaries=primaries,
        synonyms=syn_df,
        altq=alt_with_primary,
    )
    export = build_export(result.ontology, faq)
    if output_json_path:
        write_export_json(export, parsed.synonyms, output_json_path)
    return export, result


def run_pipeline(
    corpus: DataFrame,
    lang: str = "en",
    stop_words: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    html_col: str | None = None,
    primaries: DataFrame | None = None,
    synonyms: DataFrame | None = None,
    altq: DataFrame | None = None,
    linking: str = "auto",
    broadcast_term_limit: int = 2_000_000,
    blocked_prune: bool = True,
) -> KGResult:
    """``linking``: 'broadcast' collects the thresholded dictionary to
    the driver, dedups (A3) and ranks it there and broadcasts it (zero
    linking shuffles — right while the dictionary is vocabulary-bounded);
    'blocked' keeps the dictionary on the cluster and links via the
    token-block equi-join (operators/linking.py:link_terms_blocked —
    right when the dictionary outgrows broadcast); 'auto' runs the
    broadcast collect capped at broadcast_term_limit + 1 rows and picks
    (<= broadcast_term_limit thresholded rows -> broadcast)."""
    if linking not in ("auto", "broadcast", "blocked"):
        raise ValueError(f"unknown linking strategy: {linking!r}")
    stops = resolve_stop_words(lang, stop_words)
    # Small-file inputs (one parquet footer) arrive as 1 split — fan out
    # to the cluster's parallelism or every Arrow stage runs on one core.
    # Real corpora arrive in thousands of splits and skip this branch.
    target = corpus.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < min(target, 8):
        corpus = corpus.repartition(target)
    # The corpus is read twice (dictionary pass, then match pass): cache
    # the page pass, so each page runs its Python work once. The
    # broadcast build reads the counts ONCE (the thresholded collect), so
    # it does not cache them: that cache would cost a job of its own.
    # Only the blocked build, whose linker reads the three sections,
    # persists the counts.
    cleanup: list = []
    pages = _page_pass(
        _page_source(corpus, id_col, text_col, lang_col, html_col), stops
    ).persist()
    cleanup.append(lambda: pages.unpersist(blocking=True))
    try:
        features = pages.select("doc_id", "phrases", "unigrams", "verbs")
        # ONE explode + ONE shuffle builds all three dictionary sections
        counted = phrases.unified_term_counts(features)

        use_blocked = linking == "blocked"
        rows = None
        if not use_blocked:
            # ONE job delivers the thresholded dictionary rows; under
            # 'auto' it also decides the strategy: collect limit+1 rows —
            # if everything fit, these ARE the dictionary rows; if the
            # limit was exceeded, we learned "too big for broadcast"
            # having moved only limit+1 bounded rows to the driver.
            dict_rows = phrases.thresholded_rows(counted)
            if linking == "auto":
                dict_rows = dict_rows.limit(broadcast_term_limit + 1)
            rows = dict_rows.collect()
            use_blocked = (
                linking == "auto" and len(rows) > broadcast_term_limit
            )

        dictionary_sizes: dict[str, int] = {}
        if use_blocked:
            # the sections, the A3 groups and the linker all read the
            # counts: materialize them once (the auto fallback
            # re-aggregates the cached features its probe counted)
            counted = counted.persist()
            cleanup.append(lambda: counted.unpersist(blocking=True))
            frames = phrases.sections_from_counted(counted)
            frames["phrases"] = phrases.dedup_equal_count_phrases(
                frames["phrases"]
            )
            onto = linking_ops.link_terms_blocked(
                pages, frames, stops,
                id_col="doc_id", raw_col="question", norm_col="norm_text",
                prune_doc_keys=blocked_prune,
                cleanup=cleanup,
            )
            if rows is not None:
                # the truncated probe, before A3: a size estimate
                dictionary_sizes = dict(Counter(r["kind"] for r in rows))
        else:
            dictionary = phrases.ranked_dictionary_from_rows(
                phrases.dedup_equal_count_rows(rows), stops
            )
            dictionary_sizes = {
                "phrases": len(dictionary.phrases),
                "unigrams": len(dictionary.unigrams),
                "verbs": len(dictionary.verbs),
            }
            onto = linking_ops.link_terms(
                pages, dictionary,
                id_col="doc_id", raw_col="question", norm_col="norm_text",
                cleanup=cleanup,
            )
        # persisted: the optimiser's path-stats probe and the triples
        # write both read the linked ontology. The optimised ontology is
        # not cached: triples re-reads it from three plan branches, and
        # each re-read is a scan of this cache plus a broadcast join,
        # cheaper than the jobs a second cache adds to the build.
        linked = onto.persist()
        cleanup.append(lambda: linked.unpersist(blocking=True))
        onto = hierarchy.optimise_graph(linked, primaries)
        trip = triples.build_triples(onto, synonyms=synonyms, altq=altq)
    except BaseException:
        # a failed build owns no result to close: release what it
        # created so far before the error propagates
        for fn in cleanup:
            fn()
        raise
    return KGResult(
        ontology=onto,
        triples=trip,
        dictionary_sizes=dictionary_sizes,
        _cleanup=cleanup,
    )
