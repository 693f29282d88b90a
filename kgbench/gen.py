"""Seeded benchmark inputs, generated as pure SQL over ``spark.range``.

Every column is a function of (row id, seed) only, through ``xxhash64``
and fixed pools, so a corpus is identical at any parallelism and on any
executor count. The engine under test receives only the generated rows.

* :func:`web_pages` — HTML-only pages (``text`` is null, so the HTML
  extractor runs) from the package's own template generator.
* :func:`zipf_pages` — text-only pages whose noun slots draw pseudo-words
  from a Zipf(1)-skewed vocabulary: a large dictionary with many distinct
  hierarchy paths.
* :func:`with_clones` — a crawl drop: novel pages plus seeded exact and
  near clones of pages offered in it or earlier.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knowledgegraphgenerator_spark.sources.webpages import (
    TEMPLATES,
    VERBS,
    synthetic_web_pages,
)

# consonant-vowel syllables; four per word -> 16**4 distinct 8-letter
# pseudo-words that are neither function words nor lexicon verbs
SYLLABLES = [
    "ka", "lo", "mi", "nu", "pe", "ri", "sa", "tu",
    "vo", "ze", "bi", "du", "fo", "gi", "ha", "ju",
]
MAX_VOCAB = len(SYLLABLES) ** 4

# doc ids of clones live far above any novel id
CLONE_ID_BASE = 1 << 40


def _unit(*parts) -> F.Column:
    """Uniform double in [0, 1) from a hash of ``parts``."""
    return F.pmod(F.xxhash64(*parts), F.lit(1 << 30)) / float(1 << 30)


def _pick(pool: list[str], u: F.Column) -> F.Column:
    arr = F.array(*[F.lit(x) for x in pool])
    return F.element_at(arr, (F.floor(u * len(pool)) + 1).cast("int"))


def _pseudo_word(k: F.Column) -> F.Column:
    syl = F.array(*[F.lit(s) for s in SYLLABLES])
    n = len(SYLLABLES)
    return F.concat(*[
        F.element_at(syl, (F.pmod(F.floor(k / n ** i), n) + 1).cast("int"))
        for i in range(4)
    ])


def _zipf_rank(u: F.Column, vocab: int) -> F.Column:
    """Rank in [0, vocab) with P(k) ~ 1/(k+1): floor((vocab+1)**u) - 1."""
    return F.floor(F.pow(F.lit(float(vocab + 1)), u)) - 1


def _fill(tmpl: str, slots: dict[str, F.Column]) -> F.Column:
    pieces: list[F.Column] = []
    pos = 0
    for m in re.finditer(r"\{(v|np1|np2)\}", tmpl):
        if m.start() > pos:
            pieces.append(F.lit(tmpl[pos:m.start()]))
        pieces.append(slots[m.group(1)])
        pos = m.end()
    if pos < len(tmpl):
        pieces.append(F.lit(tmpl[pos:]))
    return F.concat(*pieces)


def with_zipf_text(
    df: DataFrame, src: str, seed: int, vocab: int, sentences: int
) -> DataFrame:
    """``df`` plus a ``text`` column for source id column ``src``:
    ``sentences`` template sentences whose two noun slots are two-word
    pseudo-word phrases. Slots are projected as columns first so each
    template branch references them instead of re-inlining the hash
    arithmetic (keeps generated code under the JVM method limit)."""
    if not 0 < vocab <= MAX_VOCAB:
        raise ValueError(f"vocab must be in 1..{MAX_VOCAB}, got {vocab}")
    sid = F.col(src)
    slot_cols = []
    for s in range(sentences):
        def word(slot: int) -> F.Column:
            u = _unit(sid, F.lit(seed), F.lit(s), F.lit(slot))
            return _pseudo_word(_zipf_rank(u, vocab))

        slot_cols += [
            _pick(VERBS, _unit(sid, F.lit(seed), F.lit(s), F.lit(90)))
            .alias(f"_v{s}"),
            F.concat_ws(" ", word(0), word(1)).alias(f"_np1{s}"),
            F.concat_ws(" ", word(2), word(3)).alias(f"_np2{s}"),
            F.floor(_unit(sid, F.lit(seed), F.lit(s), F.lit(91))
                    * len(TEMPLATES)).alias(f"_t{s}"),
        ]
    wide = df.select("*", *slot_cols)
    out = []
    for s in range(sentences):
        slots = {k: F.col(f"_{k}{s}") for k in ("v", "np1", "np2")}
        text = F.lit(None).cast("string")
        for i, tmpl in enumerate(TEMPLATES):
            text = F.when(F.col(f"_t{s}") == i, _fill(tmpl, slots)) \
                .otherwise(text)
        out.append(text)
    return wide.select(*df.columns, F.concat_ws(" ", *out).alias("text"))


def web_pages(
    spark: SparkSession, n_docs: int, seed: int, sentences: int = 4
) -> DataFrame:
    """(doc_id, html, text=null, lang) HTML pages."""
    return synthetic_web_pages(
        spark, n_docs, seed=seed, sentences_per_doc=sentences
    ).select(
        "doc_id", "html", F.lit(None).cast("string").alias("text"), "lang"
    )


def zipf_pages(
    spark: SparkSession,
    n_docs: int,
    seed: int,
    vocab: int,
    sentences: int,
) -> DataFrame:
    """(doc_id, text, lang) text pages for ids 0..n_docs-1."""
    df = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    return with_zipf_text(df, "doc_id", seed, vocab, sentences).withColumn(
        "lang", F.lit("en"))


def with_clones(
    novel: DataFrame, pool: DataFrame, seed: int, share: float
) -> DataFrame:
    """A crawl drop: the ``novel`` pages (doc_id, text, lang) plus a
    clone of each ``pool`` page whose seeded draw falls under ``share``
    — half verbatim (exact clones), half with one extra trailing word
    (near clones, shingle Jaccard ~0.95). A clone takes its source id
    plus ``CLONE_ID_BASE``. Adds a ``kind`` column
    ('novel' | 'exact' | 'near')."""
    u = _unit(F.col("doc_id"), F.lit(seed), F.lit(7))
    exact = u * 2 < share
    clones = pool.where(u < share).select(
        (F.col("doc_id") + CLONE_ID_BASE).alias("doc_id"),
        F.when(exact, F.col("text"))
        .otherwise(F.concat("text", F.lit(" updated"))).alias("text"),
        "lang",
        F.when(exact, "exact").otherwise("near").alias("kind"),
    )
    return novel.select(
        "doc_id", "text", "lang", F.lit("novel").alias("kind")
    ).unionByName(clones)
