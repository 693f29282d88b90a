"""Vectorized Arrow UDFs (the engine's entire Python-on-executor surface).

Everything else in the pipeline is JVM-side DataFrame ops; these are the
operators Spark genuinely cannot express (SURVEY.md §2.3):

  * ``normalize_text_udf`` — P1-P3 chain (lowercase → contraction
    expansion → ``\\W+``-to-space). Kept in Python ``re`` because Java regex
    ``\\W`` is ASCII-only while the reference's Python3 ``\\W`` is
    Unicode-aware (/root/reference/StringProcessor.py:142-155; SURVEY.md
    §7.4 item 1). It maps ``textnorm.normalize_text`` over the batch, a
    null text normalizing to ``""``.
  * ``lemmatize_sentence_udf`` — noun-lemma chain used for match docs
    (/root/reference/strategy/NGramStrategy.py:65).

Scale notes: scalar pandas UDFs ride Arrow batches
(spark.sql.execution.arrow.maxRecordsPerBatch). Each one is a separate
JVM↔Python crossing, so ``run_pipeline`` does not chain them: its corpus
pass calls the per-document functions (HTML extraction, normalize, the
chunker features) inside one ``mapInPandas`` (pipeline.py). These UDFs
serve the streaming and blocked-linking callers.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from knowledgegraphgenerator_spark.core import textnorm
from knowledgegraphgenerator_spark.core.lemmatize import noun_lemma


@pandas_udf(StringType())
def normalize_text_udf(text: pd.Series, lang: pd.Series) -> pd.Series:
    return pd.Series(
        map(textnorm.normalize_text, text.fillna(""), lang), index=text.index
    )


@pandas_udf(StringType())
def lemmatize_sentence_udf(text: pd.Series) -> pd.Series:
    return text.fillna("").map(
        lambda s: " ".join(noun_lemma(t) for t in textnorm.tokenize(s))
    )


@pandas_udf(ArrayType(StringType()))
def lemmatize_tokens_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(
        lambda ts: [noun_lemma(t) for t in ts] if ts is not None else []
    )


@pandas_udf(ArrayType(StringType()))
def lemmatize_lang_udf(text: pd.Series, lang: pd.Series) -> pd.Series:
    """N3 per-language lemma/stem dispatch (reference Lemmatize.py:140-194):
    es/fr/de/pt/it Snowball-style stems, zh char-split, en noun lemmas,
    everything else tokenize-only (core/stemmers.py)."""
    from knowledgegraphgenerator_spark.core.stemmers import lemmatize_for_lang

    return pd.Series(
        [
            lemmatize_for_lang(s or "", g or "en")
            for s, g in zip(text, lang)
        ],
        index=text.index,
    )


@pandas_udf(ArrayType(StringType()))
def match_tokens_udf(text: pd.Series) -> pd.Series:
    """Match-doc token stream: tokenize (whitespace + Treebank splits)
    then per-token noun lemma — the token form of lemmatize_sentence_udf,
    consumed by the token-block linking fallback (operators/linking.py)."""
    return text.fillna("").map(
        lambda s: [noun_lemma(t) for t in textnorm.tokenize(s)]
    )
