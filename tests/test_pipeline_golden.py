"""Golden end-to-end parity: Spark pipeline == sequential oracle.

The distributed engine (set-semantics dedup joins, token-prefiltered
masked matching, DataFrame optimiser passes) must reproduce the sequential
reference semantics exactly — terms/tags per document and the derived
triple set (P/R == 1.0, stricter than the BASELINE.json >=0.95 gate).
Also asserts repartition-invariance (SURVEY.md §5.2 item 3).
"""

from __future__ import annotations

import pytest

from knowledgegraphgenerator_spark.core.stopwords import get_stop_words
from knowledgegraphgenerator_spark.pipeline import run_pipeline
from tests.fixtures import FAQ_QUESTIONS
from tests.ref_impl.pipeline import run_reference_pipeline


@pytest.fixture(scope="module")
def golden():
    stops = get_stop_words("en")
    ttm, triples = run_reference_pipeline(FAQ_QUESTIONS, stops)
    return ttm, triples


def _corpus_df(spark, n_partitions):
    rows = [
        (10001 + i, q, "en") for i, q in enumerate(FAQ_QUESTIONS)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).repartition(n_partitions)


@pytest.mark.parametrize("n_partitions", [1, 7])
def test_spark_matches_oracle(spark, golden, n_partitions):
    ttm, ref_triples = golden
    result = run_pipeline(_corpus_df(spark, n_partitions))

    got = {
        r["doc_id"]: (list(r["terms"]), list(r["tags"]))
        for r in result.ontology.collect()
    }
    assert set(got) == set(ttm)
    for qid, obj in ttm.items():
        assert got[qid][0] == obj["terms"], (
            f"terms mismatch qid={qid} q={obj['question']!r}: "
            f"{got[qid][0]} != {obj['terms']}"
        )
        assert got[qid][1] == obj["tags"], (
            f"tags mismatch qid={qid}: {got[qid][1]} != {obj['tags']}"
        )

    got_triples = {
        (r["subj"], r["pred"], r["obj"]) for r in result.triples.collect()
    }
    inter = got_triples & ref_triples
    precision = len(inter) / len(got_triples)
    recall = len(inter) / len(ref_triples)
    assert precision == 1.0 and recall == 1.0, (
        f"P={precision} R={recall}; "
        f"ours-only={sorted(got_triples - ref_triples)[:5]} "
        f"ref-only={sorted(ref_triples - got_triples)[:5]}"
    )


def test_dictionary_crosses_thresholds(spark, golden):
    result = run_pipeline(_corpus_df(spark, 4))
    sizes = result.dictionary_sizes
    assert sizes["phrases"] >= 4
    assert sizes["unigrams"] >= 4
    assert sizes["verbs"] >= 5


def test_builds_release_caches_and_broadcasts(spark, monkeypatch):
    """A long-lived driver can run builds forever: once a build's
    terminal action is done, ``close()`` releases every cache and
    broadcast the build created, and a build that raises releases them
    itself."""
    sc = spark.sparkContext
    created = []
    real_broadcast = sc.broadcast

    def recording_broadcast(value):
        bc = real_broadcast(value)
        created.append(bc)
        return bc

    monkeypatch.setattr(sc, "broadcast", recording_broadcast)
    persistent = sc._jsc.sc().getPersistentRDDs
    baseline = persistent().size()
    for _ in range(3):
        result = run_pipeline(_corpus_df(spark, 4))
        result.triples.collect()
        result.close()
        assert persistent().size() == baseline
    assert created

    # the blocked fallback (auto over a zero limit) persists the term
    # counts its sections read; close() releases them too
    result = run_pipeline(_corpus_df(spark, 4), broadcast_term_limit=0)
    result.triples.collect()
    assert persistent().size() > baseline
    result.close()
    assert persistent().size() == baseline
    assert not any(bc._jbroadcast.isValid() for bc in created)

    # a build that fails after its caches and the linking broadcast
    # exist releases them before the error propagates
    from knowledgegraphgenerator_spark.operators import hierarchy

    def failing_optimise(*args, **kwargs):
        raise RuntimeError("optimise failed")

    monkeypatch.setattr(hierarchy, "optimise_graph", failing_optimise)
    created.clear()
    with pytest.raises(RuntimeError, match="optimise failed"):
        run_pipeline(_corpus_df(spark, 4))
    assert created
    assert persistent().size() == baseline
    assert not any(bc._jbroadcast.isValid() for bc in created)


def test_build_job_budget(spark):
    """The broadcast build collects the thresholded dictionary in one job
    and caches neither the features nor the counts: a build plus its
    triples collect submits 11 jobs on the fixture (22 when A3 ran as a
    self-join over cached features and counts)."""
    sc = spark.sparkContext
    corpus = _corpus_df(spark, 4)
    sc.setJobGroup("build_job_budget", "run_pipeline job audit")
    try:
        result = run_pipeline(corpus)
        result.triples.collect()
    finally:
        sc._jsc.clearJobGroup()
    result.close()
    jobs = sc.statusTracker().getJobIdsForGroup("build_job_budget")
    assert len(jobs) <= 11, f"expected at most 11 jobs, got {len(jobs)}"
