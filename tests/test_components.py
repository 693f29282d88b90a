"""Iterative graph operators: transitive ancestor closure and integer
PageRank, each checked for exact output and for leaving only its
returned frame cached."""

from __future__ import annotations


def _persistent_ids(spark):
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _checkpoint_rdd_id(df):
    return df._jdf.logicalPlan().rdd().id()


def test_ancestor_closure_crafted(spark):
    """Closure of a forest with a diamond (two paths, different lengths,
    same pair -> MIN depth) and a deep chain; plus the cycle cap."""
    from knowledgegraphgenerator_spark.operators.components import (
        ancestor_closure,
    )

    edges = [
        # chain a -> b -> c -> d
        ("a", "b"), ("b", "c"), ("c", "d"),
        # diamond: x -> y -> t and x -> t directly (min depth 1 wins)
        ("x", "y"), ("y", "t"), ("x", "t"),
        # isolated edge
        ("p", "q"),
    ]
    df = spark.createDataFrame(edges, "subj string, obj string")
    baseline = _persistent_ids(spark)
    out = ancestor_closure(df)
    got = {(r.descendant, r.ancestor): r.depth for r in out.collect()}
    assert got == {
        ("a", "b"): 1, ("b", "c"): 1, ("c", "d"): 1,
        ("a", "c"): 2, ("b", "d"): 2, ("a", "d"): 3,
        ("x", "y"): 1, ("y", "t"): 1, ("x", "t"): 1,
        ("p", "q"): 1,
    }
    # every superseded closure/frontier checkpoint is released; only
    # the returned frame's stays registered
    assert _persistent_ids(spark) - baseline == {_checkpoint_rdd_id(out)}


def test_ancestor_closure_cycle_cap(spark):
    """A 2-cycle must terminate and produce exactly the pairs a
    depth-capped recursive CTE would: both orientations plus the
    self-pairs reached at depth 2."""
    from knowledgegraphgenerator_spark.operators.components import (
        ancestor_closure,
    )

    df = spark.createDataFrame(
        [("u", "v"), ("v", "u")], "subj string, obj string"
    )
    got = {
        (r.descendant, r.ancestor): r.depth
        for r in ancestor_closure(df, max_depth=25).collect()
    }
    assert got == {
        ("u", "v"): 1, ("v", "u"): 1, ("u", "u"): 2, ("v", "v"): 2,
    }


def test_ancestor_closure_empty(spark):
    from knowledgegraphgenerator_spark.operators.components import (
        ancestor_closure,
    )

    df = spark.createDataFrame([], "subj string, obj string")
    out = ancestor_closure(df)
    assert out.columns == ["descendant", "ancestor", "depth"]
    assert out.count() == 0


def _pagerank_reference(edges, n_iters=3):
    """Plain-Python integer PageRank with the operator's formula:
    uniform seed ``10^6 // n``, then per iteration
    ``150000 // n + 85 * sum(pr[src] div outdeg[src]) div 100``."""
    from collections import Counter, defaultdict

    nodes = sorted({v for e in edges for v in e})
    n = len(nodes)
    outdeg = Counter(src for src, _ in edges)
    pr = {v: 1_000_000 // n for v in nodes}
    for _ in range(n_iters):
        contrib = defaultdict(int)
        for src, dst in edges:
            contrib[dst] += pr[src] // outdeg[src]
        pr = {v: 150_000 // n + 85 * contrib[v] // 100 for v in nodes}
    return pr


def test_integer_pagerank_crafted(spark):
    """Exact integer ranks on a 4-node graph whose a->b edge appears
    twice: the duplicate counts once. ``n_iters=0`` returns the uniform
    seed, and the call releases the edge and node caches and the
    superseded iterates it made."""
    from pyspark import StorageLevel

    from knowledgegraphgenerator_spark.operators.components import (
        integer_pagerank,
    )

    edges = [("a", "b"), ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
             ("d", "c")]
    want = _pagerank_reference(sorted(set(edges)))
    # counting the duplicate twice would give different ranks
    assert want != _pagerank_reference(edges)
    df = spark.createDataFrame(edges, "src string, dst string")

    baseline = _persistent_ids(spark)
    out = integer_pagerank(df, n_iters=3)
    got = {r["entity"]: r["pr"] for r in out.collect()}
    assert got == want
    # only the returned iterate stays registered as a persistent RDD
    assert _persistent_ids(spark) - baseline == {_checkpoint_rdd_id(out)}

    seed = {
        r["entity"]: r["pr"]
        for r in integer_pagerank(df, n_iters=0).collect()
    }
    assert seed == {v: 250_000 for v in "abcd"}

    empty = spark.createDataFrame([], "src string, dst string")
    assert integer_pagerank(empty).count() == 0
    assert (
        empty.select("src", "dst").distinct().storageLevel
        == StorageLevel.NONE
    )
