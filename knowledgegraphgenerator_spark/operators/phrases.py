"""Corpus term-dictionary construction (SURVEY.md §2.3 N4-N6, §2.4 A1-A5).

Stage layout (every boundary a shuffle we either need or eliminate):

  1. features — one chunker pass per document emitting the
     phrase/unigram/verb arrays in in-document emission order
     (``feature_columns``; the reference runs spaCy TWICE per question,
     phrase_finder.py:54,68). ``run_pipeline`` calls it inside its one
     ``mapInPandas`` page pass, after HTML extraction and normalization,
     and caches the result; ``extract_doc_features`` is the standalone
     form over a normalized frame. No shuffle.
  2. ``term_counts`` — posexplode + groupBy(term). Spark's hash aggregate
     does map-side partial aggregation, so head-term skew collapses before
     the exchange — the classic reason NOT to salt a count(): each mapper
     emits at most |vocab| rows per term. min(struct(doc_id, pos)) rides
     the same aggregate and materializes the Counter-insertion-order
     tiebreaker (SURVEY.md Appendix A.4).
  3. thresholds — strict ``>`` filters (phrase_finder.py:33-34).
  4. A3, the equal-count substring drop (phrase_finder.py:35-44): phrase B
     goes when a same-count phrase A != B contains it. One rule,
     ``equal_count_substrings``, decides one count group; the driver runs
     it over the collected rows (``dedup_equal_count_rows``) and the
     cluster runs it per ``groupBy(cnt)`` group
     (``dedup_equal_count_phrases``), both with set-difference semantics
     equal to the reference's remove-first-occurrence loop.
  5. ranking — sort by (cnt desc, first_seen asc) = Counter.most_common
     parity on the driver (``ranked_dictionary_from_rows``). The broadcast
     build collects the thresholded rows in one job (``thresholded_rows``)
     and runs A3 and the ranking there: the dictionary is corpus-derived
     and vocabulary-bounded (≪ corpus). If it ever outgrows broadcast,
     the fallback is the token-block equi-join in operators/linking.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledgegraphgenerator_spark.config import (
    PHRASES_FREQ_THRESHOLD,
    UNIGRAM_FREQ_THRESHOLD,
)
from knowledgegraphgenerator_spark.core.extraction import extract_features
from knowledgegraphgenerator_spark.core.matching import RankedDictionary

_FEATURES_SCHEMA = (
    "doc_id long, phrases array<string>, unigrams array<string>, "
    "verbs array<string>"
)


def feature_columns(
    texts, stop_tokens: frozenset[str]
) -> dict[str, list[list[str]]]:
    """The phrase/unigram/verb arrays of each normalized text (a null
    text has none): one chunker pass per text; arrays preserve emission
    order (trigrams before bigrams per chunk, phrase_finder.py:61-62)."""
    feats = [extract_features(t or "", stop_tokens) for t in texts]
    return {
        kind: [f[i] for f in feats]
        for i, kind in enumerate(("phrases", "unigrams", "verbs"))
    }


def extract_doc_features(
    df: DataFrame,
    stop_tokens: frozenset[str],
    id_col: str = "doc_id",
    text_col: str = "norm_text",
) -> DataFrame:
    """(doc_id, norm_text) -> (doc_id, phrases, unigrams, verbs), one
    ``feature_columns`` call per batch inside mapInPandas."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    **feature_columns(pdf["t"], stop_tokens),
                }
            )

    return src.mapInPandas(gen, schema=_FEATURES_SCHEMA)


def unified_term_counts(features: DataFrame) -> DataFrame:
    """(kind, term, cnt, first_seen) for all three dictionary sections in
    ONE pass: one explode over a kind-tagged concat of the feature
    arrays, one (kind, term) shuffle — instead of three explode+shuffle
    passes over the features (round-2 shape; shuffle bytes are identical
    since the sections are disjoint, the saving is the 2 extra corpus/
    cache passes). The output is vocabulary-bounded — tiny relative to
    the corpus. The broadcast build reads it once, through
    ``thresholded_rows``; a reader of several sections MATERIALIZES it
    once (blocked build: persist; stage runner: its own committed stage)
    and every section/filter/A3 downstream reads the materialization.
    Deriving sections straight from this plan without materializing
    re-explodes per section (Catalyst pushes the kind filter below the
    aggregate — kind is a grouping key), which is why term_counts()
    below is only the convenience form.

    first_seen = lexicographic min of (doc_id, pos) — deterministic
    Counter-insertion-order stand-in (corpus order = doc_id ascending,
    within-doc order = emission position)."""
    tagged = (
        "explode(concat("
        "transform(phrases, (x, i) ->"
        " struct('phrases' AS kind, i AS pos, x AS term)), "
        "transform(unigrams, (x, i) ->"
        " struct('unigrams' AS kind, i AS pos, x AS term)), "
        "transform(verbs, (x, i) ->"
        " struct('verbs' AS kind, i AS pos, x AS term))"
        ")) AS e"
    )
    return (
        features.select("doc_id", F.expr(tagged))
        .select("doc_id", "e.kind", "e.pos", "e.term")
        .groupBy("kind", "term")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.struct("doc_id", "pos")).alias("first_seen"),
        )
    )


_KINDS = ("phrases", "unigrams", "verbs")


def _kept(kind: str) -> F.Column:
    """Strict > thresholds (phrase_finder.py:33-34); verbs unthresholded
    at corpus stage (assignment breaks at cnt==1, so cnt>=2 prefilter is
    applied at collect time — SURVEY.md §2.6 O5)."""
    cnt = F.col("cnt")
    return {
        "phrases": cnt > PHRASES_FREQ_THRESHOLD,
        "unigrams": cnt > UNIGRAM_FREQ_THRESHOLD,
        "verbs": F.lit(True),
    }[kind]


def sections_from_counted(counted: DataFrame) -> dict[str, DataFrame]:
    """Threshold-filtered sections of a (materialized) unified count
    frame — the cluster-side form blocked linking consumes."""
    return {
        kind: counted.where((F.col("kind") == kind) & _kept(kind))
        .drop("kind")
        for kind in _KINDS
    }


def thresholded_rows(counted: DataFrame) -> DataFrame:
    """All three thresholded sections as one (kind, term, cnt, fs_doc,
    fs_pos) projection of a unified count frame, before A3 — the single
    collect the broadcast build and the auto strategy probe run
    (pipeline.run_pipeline). One filter, no union: the count frame is
    read once, so it needs no cache."""
    keep = None
    for kind in _KINDS:
        cond = (F.col("kind") == kind) & _kept(kind)
        keep = cond if keep is None else keep | cond
    return counted.where(keep).select(
        "kind", "term", "cnt",
        F.col("first_seen.doc_id").alias("fs_doc"),
        F.col("first_seen.pos").alias("fs_pos"),
    )


def term_counts(features: DataFrame) -> dict[str, DataFrame]:
    """-> {'phrases': df, 'unigrams': df, 'verbs': df}; convenience form
    of unified_term_counts → sections_from_counted (callers on a hot
    path should materialize the unified frame themselves — see
    unified_term_counts)."""
    return sections_from_counted(unified_term_counts(features))


def equal_count_substrings(terms: list[str]) -> set[str]:
    """The A3 rule for ONE count group of distinct terms: the terms that
    another term of the group contains (phrase_finder.py:35-44)."""
    return {t for t in terms if any(t in o for o in terms if o != t)}


def dedup_equal_count_rows(rows: list) -> list:
    """Driver A3 over collected (kind, term, cnt, ...) rows: drop the
    phrase rows ``equal_count_substrings`` flags within their count
    group; unigram and verb rows pass through."""
    groups: dict[int, list[str]] = {}
    for r in rows:
        if r["kind"] == "phrases":
            groups.setdefault(r["cnt"], []).append(r["term"])
    dropped = {
        (cnt, t)
        for cnt, terms in groups.items()
        for t in equal_count_substrings(terms)
    }
    return [
        r for r in rows
        if r["kind"] != "phrases" or (r["cnt"], r["term"]) not in dropped
    ]


def dedup_equal_count_phrases(phrases: DataFrame) -> DataFrame:
    """Cluster A3 over a (term, cnt, ...) phrase section: each count
    group runs ``equal_count_substrings`` in one task, and the flagged
    (cnt, term) pairs leave through a left_anti join."""

    def dropped(pdf: pd.DataFrame) -> pd.DataFrame:
        terms = pdf["term"]
        return pdf[terms.isin(equal_count_substrings(list(terms)))]

    flagged = (
        phrases.select("cnt", "term")
        .groupBy("cnt")
        .applyInPandas(dropped, schema="cnt long, term string")
    )
    return phrases.join(flagged, ["cnt", "term"], "left_anti").select(
        phrases.columns
    )


def build_dictionary_frames(
    df: DataFrame,
    stop_tokens: frozenset[str],
    id_col: str = "doc_id",
    text_col: str = "norm_text",
) -> dict[str, DataFrame]:
    feats = extract_doc_features(df, stop_tokens, id_col, text_col)
    out = term_counts(feats)
    out["phrases"] = dedup_equal_count_phrases(out["phrases"])
    return out


def collect_ranked_dictionary(
    frames: dict[str, DataFrame], stop_tokens: frozenset[str]
) -> RankedDictionary:
    """Driver-side collect in most_common order → RankedDictionary.

    Verbs stay UNthresholded: cnt==1 verbs can never match (the assignment
    loop breaks at cnt==1, NGramStrategy.py:93-94) but they still
    participate in the merged-count overwrite (NGramStrategy.py:52-55) — a
    cnt-1 verb lemma that collides with a phrase/unigram term rewrites that
    term's sort key.
    """

    # ONE collect job for all three sections (three separate orderBy
    # collects tripled the latency-bound small-stage overhead); the
    # most_common sort runs on the driver over the already-aggregated
    # dictionary (vocabulary-bounded, ≪ corpus).
    rows = union_dictionary_frames(frames).collect()
    return ranked_dictionary_from_rows(rows, stop_tokens)


def union_dictionary_frames(frames: dict[str, DataFrame]) -> DataFrame:
    """All three sections as one (kind, term, cnt, fs_doc, fs_pos) frame
    — the single-job shape of the collect path and of the saved
    dictionary artifact (``save_dictionary``)."""
    unioned = None
    for kind, df in frames.items():
        part = df.select(
            F.lit(kind).alias("kind"), "term", "cnt",
            F.col("first_seen.doc_id").alias("fs_doc"),
            F.col("first_seen.pos").alias("fs_pos"),
        )
        unioned = part if unioned is None else unioned.unionByName(part)
    return unioned


def ranked_dictionary_from_rows(
    rows, stop_tokens: frozenset[str]
) -> RankedDictionary:
    """Driver-side most_common ranking over pre-collected dictionary rows
    (kind, term, cnt, fs_doc, fs_pos)."""
    by_kind: dict[str, list[tuple[str, int, int, int]]] = {
        "phrases": [], "unigrams": [], "verbs": []
    }
    for r in rows:
        by_kind[r["kind"]].append(
            (r["term"], r["cnt"], r["fs_doc"], r["fs_pos"])
        )

    def ranked(rows: list[tuple[str, int, int, int]]) -> list[tuple[str, int]]:
        rows.sort(key=lambda x: (-x[1], x[2], x[3]))
        return [(t, c) for t, c, _, _ in rows]

    return RankedDictionary(
        phrases=ranked(by_kind["phrases"]),
        unigrams=ranked(by_kind["unigrams"]),
        verbs=ranked(by_kind["verbs"]),
        stop_tokens=stop_tokens,
    )


def save_dictionary(frames: dict[str, DataFrame], path: str) -> None:
    """Persist the dictionary sections as one parquet table
    (kind, term, cnt, fs_doc, fs_pos) — the production vocabulary
    artifact: the periodic batch refresh writes it, the enrichment
    stream (streaming/incremental.py:incremental_kg_triples) reads it. The
    ranking keys (cnt + first-seen position) are stored, not the rank,
    so a load reproduces most_common order exactly."""
    union_dictionary_frames(frames).write.mode("overwrite").parquet(path)


def load_ranked_dictionary(
    spark, path: str, stop_tokens: frozenset[str]
) -> "RankedDictionary":
    """Load a save_dictionary() artifact into the broadcastable ranked
    form. The collect is vocabulary-bounded (same regime as the
    broadcast linking path)."""
    return ranked_dictionary_from_rows(
        spark.read.parquet(path).collect(), stop_tokens
    )


def load_dictionary_frames(spark, path: str) -> dict[str, DataFrame]:
    """Load a save_dictionary() artifact back into section DataFrames —
    the CLUSTER-side form the token-block linking fallback consumes
    when the dictionary is beyond broadcast (no driver collect)."""
    df = spark.read.parquet(path)
    out: dict[str, DataFrame] = {}
    for kind in ("phrases", "unigrams", "verbs"):
        out[kind] = df.where(F.col("kind") == kind).select(
            "term",
            "cnt",
            F.struct(
                F.col("fs_doc").alias("doc_id"),
                F.col("fs_pos").alias("pos"),
            ).alias("first_seen"),
        )
    return out
