"""A3 equal-count substring dedup: the one rule
(``phrases.equal_count_substrings``) against the reference's literal
remove-first-occurrence loop, and its two runners — the driver
(``dedup_equal_count_rows``) and the cluster
(``dedup_equal_count_phrases``) — against each other."""

from __future__ import annotations

import random

from knowledgegraphgenerator_spark.operators import phrases
from tests.ref_impl.pipeline import dedup_equal_count

FIXED_CASES = {
    # character substrings that cross token boundaries
    "cross_token": [["art", 4], ["start page", 4], ["page", 4],
                    ["t p", 4]],
    # A ⊃ B ⊃ C: both inner links go, the outer one stays
    "chain": [["reset my password", 5], ["my password", 5],
              ["password", 5]],
    # containment across different counts keeps both; the same text
    # twice keeps the copy whose count group has no container
    "counts_differ": [["reset password", 7], ["reset", 3],
                      ["password reset", 3], ["reset", 6]],
    "singleton": [["lonely phrase", 9]],
}


def _driver(pairs):
    rows = [{"kind": "phrases", "term": t, "cnt": c} for t, c in pairs]
    return {(r["term"], r["cnt"])
            for r in phrases.dedup_equal_count_rows(rows)}


def _reference(pairs):
    return {(t, c) for t, c in dedup_equal_count(pairs)}


def test_rule_matches_reference_loop_on_random_groups():
    rng = random.Random(20240611)
    alphabet = "ab "
    for _ in range(2000):
        terms = {
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(1, 8))
        }
        pairs = [[t, rng.choice((3, 4))] for t in sorted(terms)]
        assert _driver(pairs) == _reference(pairs), pairs
        group = [t for t, c in pairs if c == 3]
        want = {t for t, c in pairs if c == 3} - {
            t for t, c in _reference(pairs)}
        assert phrases.equal_count_substrings(group) == want, group


def test_fixed_cases_driver_equals_reference():
    assert _driver(FIXED_CASES["cross_token"]) == {("start page", 4)}
    assert _driver(FIXED_CASES["chain"]) == {("reset my password", 5)}
    assert _driver(FIXED_CASES["counts_differ"]) == {
        ("reset password", 7), ("password reset", 3), ("reset", 6)}
    assert _driver(FIXED_CASES["singleton"]) == {("lonely phrase", 9)}
    for pairs in FIXED_CASES.values():
        assert _driver(pairs) == _reference(pairs), pairs


def test_cluster_equals_driver(spark):
    # one frame for all cases: each case's counts are offset by its own
    # hundred, so no two cases share a count group
    rows, want = [], set()
    for i, pairs in enumerate(FIXED_CASES.values()):
        shifted = [[t, c + 100 * i] for t, c in pairs]
        rows += [(t, c) for t, c in shifted]
        want |= _driver(shifted)
    df = spark.createDataFrame(rows, "term string, cnt long")
    got = {(r["term"], r["cnt"])
           for r in phrases.dedup_equal_count_phrases(df).collect()}
    assert got == want
