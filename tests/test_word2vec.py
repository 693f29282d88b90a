"""Synonym generator tests (SURVEY.md §3.3 / A10)."""

from __future__ import annotations

import pytest

from knowledgegraphgenerator_spark.operators import word2vec as w2v


@pytest.fixture(scope="module")
def answers(spark):
    rows = [
        (1, "transfer money with the neft service to any bank account"),
        (2, "transfer money with the neft service to any bank account"),
        (3, "{{template answer skipped}}"),
        (4, "check your account balance using the mobile app"),
        (5, "the mobile app can check your account balance quickly"),
        (6, "neft service moves money between bank accounts"),
        (7, "savings account interest rates are reviewed yearly"),
    ]
    return spark.createDataFrame(rows, "faq_idx long, text string")


def test_dedup_answers_keeps_first_and_drops_templates(answers):
    out = w2v.dedup_answers(answers, "text", "faq_idx")
    ids = {r["faq_idx"] for r in out.collect()}
    assert 1 in ids and 2 not in ids  # first occurrence kept
    assert 3 not in ids  # {{ template dropped


def test_clean_vocab_term():
    raws = ["**credit card/cc:trait", "!!org/alt", "plain", "**!!x"]
    got = [w2v.clean_vocab_term(r) for r in raws]
    # one marker is stripped: "**!!x" keeps its "!!"
    assert got == ["credit card", "org", "plain", "!!x"]


def test_train_and_topk(answers):
    corpus = w2v.dedup_answers(answers, "text", "faq_idx")
    model = w2v.train_synonym_model(corpus, max_iter=5)
    vocab = ["neft", "account", "missingword"]
    rows = w2v.topk_synonyms(model, vocab, k=3)
    words = {w for w, _, _ in rows}
    assert "neft" in words and "account" in words
    by_word = {}
    for w, s, sim in rows:
        by_word.setdefault(w, []).append((s, sim))
    assert all(len(v) <= 3 for v in by_word.values())
    # exact DataFrame variant agrees on the set of (word, synonym) pairs
    exact = w2v.topk_synonyms_exact(model, answers.sparkSession, vocab, k=3)
    exact_pairs = {(r["word"], r["synonym"]) for r in exact.collect()}
    loop_pairs = {(w, s) for w, s, _ in rows}
    assert exact_pairs == loop_pairs


def test_topk_auto_default_switch(answers):
    """topk_synonyms_auto routes tiny vocabularies to the findSynonyms
    loop and large ones to the distributed exact twin, with identical
    (word, synonym) rows and preserved vocab casing either way
    (VERDICT r2 'Next round' #7)."""
    corpus = w2v.dedup_answers(answers, "text", "faq_idx")
    model = w2v.train_synonym_model(corpus, max_iter=5)
    spark = answers.sparkSession
    vocab = ["NEFT", "account", "missingword"]  # mixed case on purpose
    via_loop = w2v.topk_synonyms_auto(model, spark, vocab,
                                      k=3, driver_loop_limit=10)
    via_exact = w2v.topk_synonyms_auto(model, spark, vocab,
                                       k=3, driver_loop_limit=0)
    assert {(w, s) for w, s, _ in via_loop} == \
        {(w, s) for w, s, _ in via_exact}
    # casing of the caller's vocabulary survives the distributed path
    assert {w for w, _, _ in via_exact} <= {"NEFT", "account"}
    sims_loop = {(w, s): sim for w, s, sim in via_loop}
    for w, s, sim in via_exact:
        assert abs(sims_loop[(w, s)] - sim) < 1e-5


def test_write_synonyms_csv_roundtrip(tmp_path):
    rows = [("neft", "rtgs", 0.9), ("neft", "imps", 0.8),
            ("card", "debit", 0.7)]
    path = str(tmp_path / "syn.csv")
    w2v.write_synonyms_csv(rows, path)
    from knowledgegraphgenerator_spark.sources.faq import (
        merge_generated_synonyms,
    )

    merged = merge_generated_synonyms({}, path)
    assert merged == {"neft": ["rtgs", "imps"], "card": ["debit"]}


def test_synonym_generation_master_end_to_end(spark, tmp_path):
    export = {
        "faqs": [
            {
                "question": "q1",
                "terms": ["neft service/nst", "**account:trait", "Auto Ontology"],
                "tags": ["transfer"],
                "answer": [
                    {"text": "transfer money with the neft service to any"
                             " bank account today"},
                ],
            },
            {
                "question": "q2",
                "terms": ["account balance", "Auto Ontology"],
                "tags": [],
                "answer": [
                    {"text": "check your account balance using the mobile"
                             " app now"},
                    {"text": "{{template}}"},
                ],
            },
        ]
    }
    path = str(tmp_path / "generated_synonyms.csv")
    rows = w2v.synonym_generation_master(spark, export, path, max_iter=3)
    assert rows, "expected synonyms for vocab words present in answers"
    words = {w for w, _, _ in rows}
    assert "account" in words  # P13-preprocessed '**account:trait'
    # S10 feed-back round trip
    from knowledgegraphgenerator_spark.sources.faq import (
        merge_generated_synonyms,
    )

    merged = merge_generated_synonyms({}, path)
    assert set(merged) == words
