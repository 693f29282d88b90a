"""Iterative graph operators over KG edge DataFrames.

``ancestor_closure`` (transitive closure of the child→parent hierarchy,
behind ``kg_ancestor_closure``) and ``integer_pagerank`` (entity
importance, behind ``kg_pagerank``) are driver loops of DataFrame rounds.
Each round's iterate is ``localCheckpoint``-ed to cut lineage — THE
known failure mode of iterative DataFrame jobs at scale (SURVEY.md §7.4
item 6) — and the superseded iterate's checkpoint is released once its
successor is materialized, so a call leaves only its result cached.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _release_checkpoint(df: DataFrame) -> None:
    """Drop a ``localCheckpoint``-ed frame's blocks. ``df.unpersist()``
    does not: the blocks belong to the RDD inside the frame's
    ``LogicalRDD`` plan."""
    df._jdf.logicalPlan().rdd().unpersist(True)


def ancestor_closure(edges: DataFrame, max_depth: int = 25) -> DataFrame:
    """Transitive ancestor closure of a child→parent edge set — the
    graph-scale generalization of the reference's in-memory tree walk
    (`/root/reference/analyzer/ontology_analyzer.py:175-188`, which
    follows anytree parent pointers per node).

    ``edges``: (subj, obj) rows, child → parent. Returns
    (descendant, ancestor, depth) with depth = MINIMUM hop count —
    frontier BFS discovers each pair exactly once, at its shortest
    distance, because every round's frontier is anti-joined against the
    accumulated closure before expanding.

    Scale shape (same discipline as kg_pagerank):
      * the edges are deduplicated once, then one equi-join on the
        subject key per round;
      * one anti-join on the (descendant, ancestor) pair key per round,
        bounded by the closure size (paths in a hierarchy, not pairs of
        nodes²: the closure of a forest has |V|·avg_depth rows);
      * rounds = graph diameter (hierarchy depth, single digits for KG
        term trees), each round ``localCheckpoint``-ed so lineage stays
        flat at 10^12-node scale and the superseded closure and
        frontier released;
      * ``max_depth`` caps pathological cycles — the DuckDB oracle
        carries the identical cap, so both engines agree even on
        non-DAG input.
    """
    nt = edges.select(
        F.col("subj").alias("descendant"), F.col("obj").alias("ancestor")
    ).distinct()
    closure = nt.withColumn(
        "depth", F.lit(1).cast("long")
    ).localCheckpoint()
    frontier = closure
    hop = nt.select(
        F.col("descendant").alias("mid"), F.col("ancestor").alias("nxt")
    )
    depth = 1
    while depth < max_depth:
        step = (
            frontier.join(hop, frontier["ancestor"] == hop["mid"])
            .select("descendant", F.col("nxt").alias("ancestor"))
            .distinct()
        )
        new = (
            step.join(
                closure.select("descendant", "ancestor"),
                ["descendant", "ancestor"],
                "left_anti",
            )
            .withColumn("depth", F.lit(depth + 1).cast("long"))
            .localCheckpoint()
        )
        if frontier is not closure:
            _release_checkpoint(frontier)
        frontier = new
        if new.isEmpty():
            break
        grown = closure.unionByName(new).localCheckpoint()
        _release_checkpoint(closure)
        closure = grown
        depth += 1
    if frontier is not closure:
        _release_checkpoint(frontier)
    return closure


def integer_pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    total_mass: int = 1_000_000,
    teleport_mass: int = 150_000,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-k integer power-iteration PageRank over a (src, dst) edge
    set — entity importance for KG consumers (the graph-scale
    generalization of ranking reference ontology nodes by degree).

    All arithmetic is INTEGER (micro-units of ``total_mass``; dangling
    mass dropped): both engines use only nonnegative integer division,
    so the DuckDB oracle (the same ``n_iters`` iterations unrolled as
    CTEs, oracles_kg.kg_pagerank_oracle_sql) matches bit-for-bit — no
    float-summation-order hazard.

    Scale shape (same discipline as ancestor_closure):
      * the edges are deduplicated once (a duplicate edge counts once)
        and the edge and node sets are persisted for the iterations,
        then released before returning;
      * each iteration is one equi-join on src + one aggregation on
        dst; the iterate is ``localCheckpoint``-ed so lineage stays
        flat at 10^12-node scale, and the previous iterate is released.
    """
    spark = edges.sparkSession
    nt = edges.select("src", "dst").distinct().persist()
    nodes = (
        nt.select(F.col("src").alias("entity"))
        .union(nt.select(F.col("dst").alias("entity")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        nt.unpersist()
        nodes.unpersist()
        return spark.createDataFrame([], "entity string, pr long")
    outdeg = nt.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    pr = nodes.withColumn("pr", F.lit(total_mass // n).cast("long"))
    tele = teleport_mass // n
    for i in range(n_iters):
        contrib = (
            nt.join(pr, nt["src"] == pr["entity"])
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("entity"),
                F.expr("pr div outdeg").alias("c"),
            )
            .groupBy("entity")
            .agg(F.sum("c").alias("contrib"))
        )
        nxt = (
            nodes.join(contrib, "entity", "left")
            .select(
                "entity",
                (
                    F.lit(tele)
                    + F.expr(
                        f"{damping_pct} * coalesce(contrib, 0L) div 100"
                    )
                ).cast("long").alias("pr"),
            )
            .localCheckpoint()
        )
        if i:
            _release_checkpoint(pr)
        pr = nxt
    # the result is checkpoint-backed (and the n_iters=0 seed
    # recomputes from source) — drop the edge/node caches so repeated
    # calls in one session (full gate, bench repeats) don't accumulate
    # dead cached partitions
    nt.unpersist()
    nodes.unpersist()
    return pr

