"""Vectorized Arrow UDFs for the token-level lemma chain.

Per-page work (HTML extraction, the P1-P3 normalize chain, the chunker
features) runs inside one ``mapInPandas`` over the per-document functions
(pipeline.py: the build's page pass and ``normalize_corpus``, which the
enrichment stream also calls), because each scalar UDF is a separate
JVM↔Python crossing. What is left here is ``match_tokens_udf``, the
match-doc token stream (tokenize, then per-token noun lemma) that the
token-block linking fallback joins on
(operators/linking.py:link_terms_blocked).

Scalar pandas UDFs ride Arrow batches
(spark.sql.execution.arrow.maxRecordsPerBatch).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from knowledgegraphgenerator_spark.core import textnorm
from knowledgegraphgenerator_spark.core.lemmatize import noun_lemma


@pandas_udf(ArrayType(StringType()))
def match_tokens_udf(text: pd.Series) -> pd.Series:
    """Match-doc token stream: tokenize (whitespace + Treebank splits)
    then per-token noun lemma, consumed by the token-block linking
    fallback (operators/linking.py)."""
    return text.fillna("").map(
        lambda s: [noun_lemma(t) for t in textnorm.tokenize(s)]
    )
