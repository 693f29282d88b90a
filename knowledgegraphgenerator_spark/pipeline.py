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
from knowledgegraphgenerator_spark.plans.runner import StageRunner


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
        _release(self._cleanup)


def _release(cleanup: list) -> None:
    for fn in cleanup:
        fn()
    cleanup.clear()


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
    resume_root: str | None = None,
) -> KGResult:
    """``linking``: 'broadcast' collects the thresholded dictionary to
    the driver, dedups (A3) and ranks it there and broadcasts it (zero
    linking shuffles — right while the dictionary is vocabulary-bounded);
    'blocked' keeps the dictionary on the cluster and links via the
    token-block equi-join (operators/linking.py:link_terms_blocked —
    right when the dictionary outgrows broadcast); 'auto' runs the
    broadcast collect capped one row past broadcast_term_limit and picks
    (<= broadcast_term_limit thresholded rows -> broadcast; the one
    decision lives in operators/linking.py:choose_linking).

    ``resume_root``: instead of persisting the page pass (stage
    ``pages``) and the linked ontology (stage ``linked``), commit them
    and the triples (stage ``triples``) through
    ``plans.runner.StageRunner`` under this root. A rerun loads every
    committed stage and builds only the rest. The dictionary decision
    and the linker run inside the ``linked`` build, so a run that loads
    ``linked`` submits no dictionary job, and its ``dictionary_sizes``
    is ``{}``. Each commit releases the caches and broadcasts its build
    created: later stages read the committed parquet."""
    stops = resolve_stop_words(lang, stop_words)
    # Small-file inputs (one parquet footer) arrive as 1 split — fan out
    # to the cluster's parallelism or every Arrow stage runs on one core.
    # Real corpora arrive in thousands of splits and skip this branch.
    spark = corpus.sparkSession
    target = spark.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < min(target, 8):
        corpus = corpus.repartition(target)
    cleanup: list = []
    runner = None if resume_root is None else StageRunner(spark, resume_root)
    dictionary_sizes: dict[str, int] = {}

    def stage(name: str, build, input_df: DataFrame, persist: bool = True):
        """``build(input_df)``, committed as stage ``name`` under the
        resume root, or else persisted (when ``persist``) for the reads
        that follow it."""
        if runner is not None:
            out = runner.run_stage(name, build, input_df=input_df)
            _release(cleanup)
            return out
        out = build(input_df)
        if persist:
            out = out.persist()
            cleanup.append(lambda: out.unpersist(blocking=True))
        return out

    def link(pages: DataFrame) -> DataFrame:
        nonlocal dictionary_sizes
        features = pages.select("doc_id", "phrases", "unigrams", "verbs")
        # ONE explode + ONE shuffle builds all three dictionary sections.
        # The broadcast build reads the counts ONCE (the thresholded
        # collect), so it does not cache them: that cache would cost a
        # job of its own.
        counted = phrases.unified_term_counts(features)
        use_blocked, rows = linking_ops.choose_linking(
            phrases.thresholded_rows(counted), linking, broadcast_term_limit
        )
        if not use_blocked:
            dictionary = phrases.ranked_dictionary_from_rows(
                phrases.dedup_equal_count_rows(rows), stops
            )
            dictionary_sizes = {
                "phrases": len(dictionary.phrases),
                "unigrams": len(dictionary.unigrams),
                "verbs": len(dictionary.verbs),
            }
            return linking_ops.link_terms(
                pages, dictionary,
                id_col="doc_id", raw_col="question", norm_col="norm_text",
                cleanup=cleanup,
            )
        # the sections, the A3 groups and the linker all read the counts:
        # materialize them once (the auto fallback re-aggregates the
        # cached features its probe counted)
        counted = counted.persist()
        cleanup.append(lambda: counted.unpersist(blocking=True))
        frames = phrases.sections_from_counted(counted)
        frames["phrases"] = phrases.dedup_equal_count_phrases(
            frames["phrases"]
        )
        if rows is not None:
            # the truncated probe, before A3: a size estimate
            dictionary_sizes = dict(Counter(r["kind"] for r in rows))
        return linking_ops.link_terms_blocked(
            pages, frames, stops,
            id_col="doc_id", raw_col="question", norm_col="norm_text",
            cleanup=cleanup,
        )

    try:
        # The corpus is read twice (dictionary pass, then match pass):
        # cache (or commit) the page pass, so each page runs its Python
        # work once.
        pages = stage(
            "pages",
            lambda c: _page_pass(
                _page_source(c, id_col, text_col, lang_col, html_col), stops
            ),
            corpus,
        )
        # persisted (or committed): the optimiser's path-stats probe and
        # the triples write both read the linked ontology. The optimised ontology is
        # not cached: triples re-reads it from three plan branches, and
        # each re-read is a scan of this cache plus a broadcast join,
        # cheaper than the jobs a second cache adds to the build.
        linked = stage("linked", link, pages)
        onto = hierarchy.optimise_graph(linked, primaries)
        trip = stage(
            "triples",
            lambda o: triples.build_triples(o, synonyms=synonyms, altq=altq),
            onto,
            persist=False,
        )
    except BaseException:
        # a failed build owns no result to close: release what it
        # created so far before the error propagates
        _release(cleanup)
        raise
    return KGResult(
        ontology=onto,
        triples=trip,
        dictionary_sizes=dictionary_sizes,
        _cleanup=cleanup,
    )
