"""Optimiser G1/G2 unit tests vs the sequential oracle on constructed
tag_term_maps (SURVEY.md §2.9 / Appendix A.9 edge cases). Every case
runs both producers of the decision table: the driver form (the default
at these sizes) and the distributed form, forced by a driver path limit
of 0."""

from __future__ import annotations

import copy

import pytest

from knowledgegraphgenerator_spark.operators import hierarchy
from tests.ref_impl.pipeline import optimise_graph as ref_optimise

ROOT = "Auto Ontology"


def _onto(spark, ttm):
    return spark.createDataFrame(
        [
            (qid, o["question"], list(o["terms"]), list(o["tags"]))
            for qid, o in ttm.items()
        ],
        "doc_id long, question string, terms array<string>, "
        "tags array<string>",
    )


def _optimise_both_forms(monkeypatch, onto, primaries=None):
    """optimise_graph's rows keyed by doc_id, after checking that the
    driver form and the distributed form return the same rows."""

    def run():
        return {
            r["doc_id"]: (list(r["terms"]), list(r["tags"]))
            for r in hierarchy.optimise_graph(onto, primaries).collect()
        }

    driver = run()
    with monkeypatch.context() as m:
        m.setattr(hierarchy, "OPTIMISER_DRIVER_PATH_LIMIT", 0)
        distributed = run()
    assert driver == distributed
    return driver


def _ref_rows(ttm, primary_ids):
    expected = ref_optimise(copy.deepcopy(ttm), primary_ids)
    return {qid: (o["terms"], o["tags"]) for qid, o in expected.items()}


@pytest.fixture
def run_both(spark, monkeypatch):
    """(Spark rows in both forms, sequential reference rows)."""

    def run(ttm, primary_ids):
        primaries = spark.createDataFrame(
            [(q,) for q in primary_ids], "doc_id long"
        )
        got = _optimise_both_forms(monkeypatch, _onto(spark, ttm), primaries)
        return got, _ref_rows(ttm, primary_ids)

    return run


def test_g1_demotes_empty_ancestor(run_both):
    # path (ROOT, b, a): prefix (ROOT, b) has no questions -> demote b
    ttm = {
        1: {"question": "q1", "terms": ["a", "b", ROOT], "tags": []},
        2: {"question": "q2", "terms": ["c", ROOT], "tags": ["t"]},
        3: {"question": "q3", "terms": ["d", "c", ROOT], "tags": []},
    }
    got, exp = run_both(ttm, [1, 2, 3])
    assert got == exp
    # G1 demotes b -> path (ROOT, a) now has 1 question -> G2 collapses
    # it too: terms [ROOT], tags pick up b then a (recompute ordering,
    # Optmiser.py:56-62)
    assert got[1] == ([ROOT], ["b", "a"])
    # (ROOT, c) IS populated (q2) -> no demotion for q3
    assert got[3][0] == ["d", "c", ROOT]


def test_g2_collapses_sparse_level1_node(run_both):
    # exactly-one-question path of length 2 -> collapse to root
    ttm = {
        1: {"question": "q1", "terms": ["only", ROOT], "tags": []},
        2: {"question": "q2", "terms": ["shared", ROOT], "tags": []},
        3: {"question": "q3", "terms": ["shared", ROOT], "tags": ["x"]},
    }
    got, exp = run_both(ttm, [1, 2, 3])
    assert got == exp
    assert got[1] == ([ROOT], ["only"])          # collapsed
    assert got[2][0] == ["shared", ROOT]          # 2 questions -> kept
    assert got[3][0] == ["shared", ROOT]


def test_g1_feeds_g2_recomputed_paths(run_both):
    # After G1 demotes 'mid', qid 1's path becomes length 2 with a single
    # question -> G2 collapses it too (Optmiser.py:56-62 ordering).
    ttm = {
        1: {"question": "q1", "terms": ["leaf", "mid", ROOT], "tags": []},
        2: {"question": "q2", "terms": ["other", ROOT], "tags": []},
        3: {"question": "q3", "terms": ["other", ROOT], "tags": []},
    }
    got, exp = run_both(ttm, [1, 2, 3])
    assert got == exp
    assert got[1] == ([ROOT], ["mid", "leaf"])


def test_alternates_not_optimised(run_both):
    ttm = {
        1: {"question": "p", "terms": ["x", "y", ROOT], "tags": []},
        2: {"question": "alt", "terms": ["x", "y", ROOT], "tags": []},
    }
    got, exp = run_both(ttm, [1])  # qid 2 is an alternate
    assert got == exp
    # primary demoted+collapsed; alternate untouched
    assert got[2] == (["x", "y", ROOT], [])


def test_root_only_paths_pass_through(run_both):
    ttm = {
        1: {"question": "q", "terms": [ROOT], "tags": ["t"]},
        2: {"question": "q2", "terms": [ROOT], "tags": []},
    }
    got, exp = run_both(ttm, [1, 2])
    assert got == exp
    assert got[1] == ([ROOT], ["t"])


@pytest.mark.parametrize("n_partitions", [1, 5])
def test_partitioning_invariance(spark, monkeypatch, n_partitions):
    ttm = {
        i: {
            "question": f"q{i}",
            "terms": [f"leaf{i % 4}", f"mid{i % 2}", ROOT],
            "tags": [],
        }
        for i in range(1, 21)
    }
    onto = _onto(spark, ttm).repartition(n_partitions)
    got = _optimise_both_forms(monkeypatch, onto)
    assert got == _ref_rows(ttm, list(ttm.keys()))


def _mixed_ttm():
    """Populated and empty level-1 nodes, a sparse level-1 node with a
    tag, and a root-only question."""
    ttm = {}
    qid = 1
    for leaf in ("l1", "l2", "l3"):
        for mid in ("m1", "m2"):
            ttm[qid] = {"question": f"q{qid}",
                        "terms": [leaf, mid, ROOT], "tags": []}
            qid += 1
    ttm[qid] = {"question": "solo", "terms": ["only", ROOT], "tags": ["t"]}
    qid += 1
    ttm[qid] = {"question": "rooty", "terms": [ROOT], "tags": []}
    return ttm


def test_driver_equals_distributed(spark, monkeypatch):
    """Differential: the driver-built and the cluster-built decision
    tables give the same rows on a mixed workload, and both equal the
    sequential reference."""
    ttm = _mixed_ttm()
    got = _optimise_both_forms(monkeypatch, _onto(spark, ttm))
    assert got == _ref_rows(ttm, list(ttm.keys()))


def test_optimise_job_budget(spark):
    """Below the driver path limit the optimiser runs the path-stats
    probe and one join back: 4 jobs on a persisted, materialized
    ontology (the distributed decision table took 14)."""
    ttm = _mixed_ttm()
    onto = _onto(spark, ttm).repartition(4).persist()
    sc = spark.sparkContext
    try:
        onto.count()
        sc.setJobGroup("optimise_job_budget", "optimise_graph job audit")
        try:
            got = hierarchy.optimise_graph(onto).collect()
        finally:
            sc._jsc.clearJobGroup()
        jobs = sc.statusTracker().getJobIdsForGroup("optimise_job_budget")
        assert len(got) == len(ttm)
        assert len(jobs) <= 4, f"expected at most 4 jobs, got {len(jobs)}"
    finally:
        onto.unpersist(blocking=True)
