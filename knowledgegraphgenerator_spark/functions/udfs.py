"""Vectorized Arrow UDFs for the token-level lemma chain.

Per-page work (HTML extraction, the P1-P3 normalize chain, the chunker
features) runs inside one ``mapInPandas`` over the per-document functions
(pipeline.py: the build's page pass and ``normalize_corpus``, which the
enrichment stream also calls), because each scalar UDF is a separate
JVM↔Python crossing. What is left here:

  * ``match_tokens_udf`` — the match-doc token stream (tokenize, then
    per-token noun lemma) that the token-block linking fallback joins on
    (operators/linking.py:link_terms_blocked);
  * ``lemmatize_sentence_udf`` — the same chain joined back into a
    sentence (the reference's strategy/NGramStrategy.py:65).

Scalar pandas UDFs ride Arrow batches
(spark.sql.execution.arrow.maxRecordsPerBatch).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from knowledgegraphgenerator_spark.core import textnorm
from knowledgegraphgenerator_spark.core.lemmatize import noun_lemma


@pandas_udf(StringType())
def lemmatize_sentence_udf(text: pd.Series) -> pd.Series:
    return text.fillna("").map(
        lambda s: " ".join(noun_lemma(t) for t in textnorm.tokenize(s))
    )


@pandas_udf(ArrayType(StringType()))
def match_tokens_udf(text: pd.Series) -> pd.Series:
    """Match-doc token stream: tokenize (whitespace + Treebank splits)
    then per-token noun lemma — the token form of lemmatize_sentence_udf,
    consumed by the token-block linking fallback (operators/linking.py)."""
    return text.fillna("").map(
        lambda s: [noun_lemma(t) for t in textnorm.tokenize(s)]
    )
