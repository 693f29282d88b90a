"""Byte-identical invariant (BASELINE.json input_hint): the Spark
normalize pass (``normalize_corpus``, the per-page code the build and the
stream run) and the match-token UDF that the blocked linker joins on
must produce byte-for-byte the same strings as the pure-Python reference
chain, including Unicode (Python
``\\W`` is Unicode-aware — the reason this stays in Python re, SURVEY.md
§7.4 item 1)."""

from __future__ import annotations

from knowledgegraphgenerator_spark.core.lemmatize import noun_lemma
from knowledgegraphgenerator_spark.core.textnorm import normalize_text, tokenize
from knowledgegraphgenerator_spark.functions.udfs import match_tokens_udf
from knowledgegraphgenerator_spark.pipeline import normalize_corpus
from tests.fixtures import FAQ_QUESTIONS

UNICODE_CASES = [
    "Café déjà-vu — naïve façade?",
    "I can't pay my café bill",
    "túi tiền ở đâu?",
    "Ħello — ŵorld's end",
    "数字もある 123 テスト",
    "mixed ASCII and 中文 words can't won't",
    "'''", "don't'", "  spaces   and\ttabs ",
    "", "no-apostrophes-here plain words",
]


def test_normalize_udf_byte_identical(spark):
    texts = FAQ_QUESTIONS + UNICODE_CASES
    rows = [(i, t, "en") for i, t in enumerate(texts)] + [
        (1000 + i, t, "fr") for i, t in enumerate(UNICODE_CASES)
    ]
    df = spark.createDataFrame(rows, "i long, text string, lang string")
    got = {
        r["doc_id"]: r["norm_text"]
        for r in normalize_corpus(df, id_col="i").collect()
    }
    for i, t, lang in rows:
        assert got[i] == normalize_text(t, lang), (lang, t)


def test_lemmatize_udf_byte_identical(spark):
    texts = [normalize_text(q) for q in FAQ_QUESTIONS + UNICODE_CASES]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got = {
        r["i"]: r["toks"]
        for r in df.select(
            "i", match_tokens_udf("text").alias("toks")
        ).collect()
    }
    for i, t in enumerate(texts):
        # tokenize = whitespace + Treebank splits (cannot -> can not, ...)
        assert got[i] == [noun_lemma(x) for x in tokenize(t)]


def test_normalize_udf_partitioning_invariant(spark):
    rows = [(i, q, "en") for i, q in enumerate(FAQ_QUESTIONS)]

    def normalized(n_partitions):
        df = spark.createDataFrame(
            rows, "i long, text string, lang string"
        ).repartition(n_partitions)
        return {
            r["doc_id"]: r["norm_text"]
            for r in normalize_corpus(df, id_col="i").collect()
        }

    assert normalized(1) == normalized(13)
