"""Connected-components (large-star/small-star) tests."""

from __future__ import annotations

from knowledgegraphgenerator_spark.operators.components import (
    connected_components,
)


def _labels(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["id"]: r["component"]
        for r in connected_components(df).collect()
    }


def test_two_components(spark):
    labels = _labels(spark, [(1, 2), (2, 3), (10, 11)])
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == 10


def test_chain_converges_to_min(spark):
    edges = [(i, i + 1) for i in range(1, 30)]
    labels = _labels(spark, edges)
    assert set(labels.values()) == {1}
    assert len(labels) == 30


def test_star_and_cycle(spark):
    edges = [(100, i) for i in range(101, 106)] + [(7, 8), (8, 9), (9, 7)]
    labels = _labels(spark, edges)
    assert all(labels[i] == 100 for i in range(100, 106))
    assert labels[7] == labels[8] == labels[9] == 7


def test_random_graphs_match_union_find(spark):
    """Randomized differential: large-star/small-star labels must equal
    a pure-python union-find (union-by-min keeps every root the
    component minimum, the same label convention) on Erdos-Renyi-ish
    graphs spanning sparse fragments to near-connected."""
    import random

    for seed, n, m in ((1, 60, 30), (7, 60, 80), (42, 40, 120)):
        rnd = random.Random(seed)
        edges = [
            (rnd.randrange(n), rnd.randrange(n)) for _ in range(m)
        ]
        edges = [e for e in edges if e[0] != e[1]]

        parent = list(range(n))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = sorted({x for e in edges for x in e})
        expected = {v: find(v) for v in nodes}

        assert _labels(spark, edges) == expected, f"seed={seed}"


def test_deterministic_under_partitioning(spark):
    edges = [(i, (i * 7) % 40 + 40) for i in range(40)]
    df1 = spark.createDataFrame(edges, "id_a long, id_b long").repartition(1)
    df2 = spark.createDataFrame(edges, "id_a long, id_b long").repartition(7)
    l1 = {r["id"]: r["component"] for r in connected_components(df1).collect()}
    l2 = {r["id"]: r["component"] for r in connected_components(df2).collect()}
    assert l1 == l2


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
    got = {
        (r.descendant, r.ancestor): r.depth
        for r in ancestor_closure(df).collect()
    }
    assert got == {
        ("a", "b"): 1, ("b", "c"): 1, ("c", "d"): 1,
        ("a", "c"): 2, ("b", "d"): 2, ("a", "d"): 3,
        ("x", "y"): 1, ("y", "t"): 1, ("x", "t"): 1,
        ("p", "q"): 1,
    }


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


def test_keep_best_per_cluster_crafted(spark):
    """Retention policy: per cluster keep max score, ties min id."""
    from knowledgegraphgenerator_spark.operators.components import (
        keep_best_per_cluster,
    )

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "id long, component long",
    )
    scores = spark.createDataFrame(
        # cluster 1: id 2 has the max score; cluster 10: tie -> min id 10
        [(1, 5), (2, 9), (3, 7), (10, 4), (11, 4)],
        "id long, score long",
    )
    out = {
        r["component"]: r
        for r in keep_best_per_cluster(labels, scores).collect()
    }
    assert out[1]["kept_id"] == 2 and out[1]["best_score"] == 9
    assert out[1]["n_members"] == 3
    assert out[10]["kept_id"] == 10 and out[10]["best_score"] == 4
    assert out[10]["n_members"] == 2


def test_keep_best_per_cluster_negative_ids(spark):
    """ADVICE r5: xxhash64-derived ids are signed — ties must still
    break toward the SMALLEST id for negative ids, and Long.MIN must
    not overflow (the bitwise-NOT ordering, not arithmetic negation)."""
    from knowledgegraphgenerator_spark.operators.components import (
        keep_best_per_cluster,
    )

    long_min = -(2**63)
    labels = spark.createDataFrame(
        [(-5, 1), (-9, 1), (long_min, 2), (7, 2)],
        "id long, component long",
    )
    scores = spark.createDataFrame(
        # cluster 1: tie at 4 -> keep min id (-9); cluster 2: tie ->
        # keep Long.MIN (the smallest possible id)
        [(-5, 4), (-9, 4), (long_min, 3), (7, 3)],
        "id long, score long",
    )
    out = {
        r["component"]: r
        for r in keep_best_per_cluster(labels, scores).collect()
    }
    assert out[1]["kept_id"] == -9
    assert out[2]["kept_id"] == long_min


def test_keep_best_per_cluster_window_differential(spark):
    """Randomized differential: the combinable max-over-struct agg must
    equal the obvious row_number-window implementation."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from knowledgegraphgenerator_spark.operators.components import (
        keep_best_per_cluster,
    )

    rng = random.Random(42)
    rows = [
        (i, rng.randrange(12), rng.randrange(6)) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, component long, score long")
    got = sorted(
        tuple(r)
        for r in keep_best_per_cluster(
            df.select("id", "component"), df.select("id", "score")
        ).collect()
    )
    w = Window.partitionBy("component").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    want = sorted(
        (r["component"], r["id"], r["score"], r["n_members"])
        for r in df.withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("component")),
        )
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    )
    assert got == want


def test_keep_best_per_cluster_unscored_members(spark):
    """Unscored members still count in n_members (left join); a fully
    unscored cluster keeps its row with NULL kept_id/best_score."""
    from knowledgegraphgenerator_spark.operators.components import (
        keep_best_per_cluster,
    )

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10)], "id long, component long"
    )
    scores = spark.createDataFrame([(2, 5)], "id long, score long")
    out = {
        r["component"]: r
        for r in keep_best_per_cluster(labels, scores).collect()
    }
    assert out[1]["n_members"] == 2 and out[1]["kept_id"] == 2
    assert out[10]["n_members"] == 2
    assert out[10]["kept_id"] is None and out[10]["best_score"] is None


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
    seed, and the call releases the edge and node caches it made."""
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

    jsc = spark.sparkContext._jsc.sc()

    def persistent_ids():
        it = jsc.getPersistentRDDs().keys().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    baseline = persistent_ids()
    got = {r["entity"]: r["pr"] for r in integer_pagerank(df).collect()}
    assert got == want
    # the localCheckpoint-ed iterates stay registered as persistent
    # RDDs; everything else the call persisted must be released
    rdds = jsc.getPersistentRDDs()
    left = {
        i for i in persistent_ids() - baseline
        if not rdds.apply(i).isLocallyCheckpointed()
    }
    assert left == set()

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
