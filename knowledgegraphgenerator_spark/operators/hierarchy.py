"""Graph optimiser: G1 terms→tags demotion + G2 sparse-node collapse.

DataFrame re-expression of /root/reference/graph_optmiser/Optmiser.py:

  * path = reverse(terms) — root→leaf (Optmiser.py:27); keyed by a
    delimiter-joined string (terms are ``\\w``+space, so ``\\x01`` is safe)
    because string equi-join keys hash/broadcast cheaper than array keys;
  * only PRIMARY questions participate in the path maps — the reference
    iterates ``alt_ques_map`` keys (Optmiser.py:25-26), and alternates are
    never optimised;
  * G1 (Optmiser.py:30-42): for each distinct path, every proper prefix
    of length 2..len-1 that is not itself a populated path demotes its
    last element (the root-only prefix never demotes and the walk starts
    at path[:-1]); terms/tags are rewritten with array ops — demoted
    terms keep their terms-list order when appended to tags
    (convert_terms_to_tags appends in terms order, Optmiser.py:8-19);
  * G2 (Optmiser.py:44-54): on RE-computed paths (Optmiser.py:56-62),
    paths of length node_level+1 with fewer than max_ques questions keep
    only the first node_level path elements as terms (reversed back to
    leaf→root), the rest demoted to tags in path order.

Both rewrites depend only on a question's OLD path and on the multiset
of distinct paths, so the corpus is aggregated ONCE into path stats and
a per-path decision table is joined back in one projection. Who builds
the table depends on the size of the distinct-path set:

  * at most OPTIMISER_DRIVER_PATH_LIMIT paths (FAQ corpora, both
    benchmark workloads): the stats are collected, the table is computed
    in Python on the driver (``path_decisions``) and broadcast-joined
    back — one corpus aggregation, no other shuffle;
  * above the limit (long multi-topic documents, where the path set
    approaches |docs|): the table is built on the cluster with a prefix
    anti-join, a demoted-term aggregation and a G2 count, and the join
    strategy is LEFT TO AQE — forcing broadcast was a measured 10x
    regression at 400k distinct paths.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledgegraphgenerator_spark.config import (
    OPTIMISER_DRIVER_PATH_LIMIT,
    OPTIMISER_MAX_QUES,
    OPTIMISER_NODE_LEVEL,
)

_SEP = "\x01"
_DECISION_SCHEMA = (
    "path_key string, demoted array<string>, new_path array<string>, "
    "collapse boolean"
)


def _with_path(df: DataFrame) -> DataFrame:
    return df.withColumn("path", F.reverse("terms")).withColumn(
        "path_key", F.concat_ws(_SEP, F.reverse("terms"))
    )


def path_decisions(
    stats: dict[tuple[str, ...], int],
    node_level: int = OPTIMISER_NODE_LEVEL,
    max_ques: int = OPTIMISER_MAX_QUES,
) -> list[tuple[str, list[str] | None, list[str], bool]]:
    """G1/G2 decisions over ``{path: question count}``, one
    ``(path_key, demoted, new_path, collapse)`` row per path that
    changes. ``demoted`` is None when G1 keeps every term; the same rule
    as tests/ref_impl/pipeline.py:optimise_graph."""
    post_g1 = {}
    for path in stats:
        demoted = {
            path[i - 1] for i in range(2, len(path)) if path[:i] not in stats
        }
        post_g1[path] = (demoted, tuple(t for t in path if t not in demoted))
    totals: Counter = Counter()
    for path, (_, new_path) in post_g1.items():
        totals[new_path] += stats[path]
    rows = []
    for path, (demoted, new_path) in post_g1.items():
        collapse = (
            len(new_path) == node_level + 1 and totals[new_path] < max_ques
        )
        if demoted or collapse:
            rows.append((
                _SEP.join(path), sorted(demoted) or None, list(new_path),
                collapse,
            ))
    return rows


def _driver_table(spark, probe, node_level: int, max_ques: int) -> DataFrame:
    rows = path_decisions(
        {tuple(r["path"]): r["n_ques"] for r in probe}, node_level, max_ques
    )
    # from pandas (Arrow), not from a list: a list is parallelized
    # through the Python workers, which costs a job per build
    pdf = pd.DataFrame(
        rows, columns=["path_key", "demoted", "new_path", "collapse"]
    )
    return F.broadcast(spark.createDataFrame(pdf, _DECISION_SCHEMA))


def _distributed_table(
    stats: DataFrame, node_level: int, max_ques: int
) -> DataFrame:
    path_stats = stats.withColumn("path_key", F.concat_ws(_SEP, "path"))
    prefixes = (
        path_stats.filter(F.size("path") >= 3)
        .select(
            "path_key",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(path) - 1),"
                    " i -> slice(path, 1, i))"
                )
            ).alias("prefix"),
        )
        .withColumn("prefix_key", F.concat_ws(_SEP, "prefix"))
    )
    missing = prefixes.join(
        path_stats.select(F.col("path_key").alias("prefix_key")),
        "prefix_key",
        "left_anti",
    )
    demoted = missing.groupBy("path_key").agg(
        F.collect_set(F.element_at("prefix", -1)).alias("demoted")
    )
    post_g1 = (
        path_stats.join(demoted, "path_key", "left")
        .withColumn(
            "new_path",
            F.when(F.col("demoted").isNull(), F.col("path")).otherwise(
                F.expr("filter(path, t -> NOT array_contains(demoted, t))")
            ),
        )
        .withColumn("new_path_key", F.concat_ws(_SEP, "new_path"))
    )
    g2_counts = post_g1.groupBy("new_path_key").agg(
        F.sum("n_ques").alias("total_ques")
    )
    return post_g1.join(g2_counts, "new_path_key").select(
        "path_key",
        "demoted",
        "new_path",
        (
            (F.size("new_path") == F.lit(node_level + 1))
            & (F.col("total_ques") < F.lit(max_ques))
        ).alias("collapse"),
    )


def optimise_graph(
    onto: DataFrame,
    primaries: DataFrame | None = None,
    node_level: int = OPTIMISER_NODE_LEVEL,
    max_ques: int = OPTIMISER_MAX_QUES,
) -> DataFrame:
    """G1 then G2 (G2 sees G1's rewritten paths — Optmiser.py:56-62):

      1. path stats: groupBy(path) over the corpus — the only
         corpus-wide aggregation; one job collects at most limit+1 rows
         of it, which decides who builds the decision table;
      2. the decision table per distinct path: demoted terms (G1),
         post-G1 path = filter(path, ¬demoted), and collapse (G2 on the
         question count summed per post-G1 path);
      3. one left join back on path_key applying demote+collapse in a
         single projection (a null decision leaves the row unchanged;
         tag append order preserved: demoted in terms order, then
         collapsed remainder in path order — Optmiser.py:8-19,44-54).

    The probe runs when this is called and the join back reads ``onto``
    again, so a caller whose ``onto`` is expensive to recompute (the
    linker's Python pass) persists it and owns its release.
    """
    w = _with_path(onto)
    scoped = w if primaries is None else w.join(primaries, "doc_id", "semi")

    # grouping on the array itself avoids first(path), which forces a
    # SortAggregate
    stats = scoped.groupBy("path").agg(F.count(F.lit(1)).alias("n_ques"))
    probe = stats.limit(OPTIMISER_DRIVER_PATH_LIMIT + 1).collect()
    if len(probe) <= OPTIMISER_DRIVER_PATH_LIMIT:
        decisions = _driver_table(
            onto.sparkSession, probe, node_level, max_ques
        )
    else:
        decisions = _distributed_table(stats, node_level, max_ques)

    applied = (
        scoped.join(decisions, "path_key", "left")
        .withColumn(
            "terms1",
            F.when(F.col("demoted").isNull(), F.col("terms")).otherwise(
                F.expr("filter(terms, t -> NOT array_contains(demoted, t))")
            ),
        )
        .withColumn(
            "tags1",
            F.when(F.col("demoted").isNull(), F.col("tags")).otherwise(
                F.concat(
                    "tags",
                    F.expr("filter(terms, t -> array_contains(demoted, t))"),
                )
            ),
        )
        .withColumn(
            "final_terms",
            F.when(
                F.col("collapse"),
                F.reverse(F.slice("new_path", 1, node_level)),
            ).otherwise(F.col("terms1")),
        )
        .withColumn(
            "final_tags",
            F.when(
                F.col("collapse"),
                F.concat(
                    "tags1",
                    F.expr(
                        f"slice(new_path, {node_level + 1},"
                        f" greatest(size(new_path) - {node_level}, 0))"
                    ),
                ),
            ).otherwise(F.col("tags1")),
        )
        .select(
            "doc_id",
            "question",
            F.col("final_terms").alias("terms"),
            F.col("final_tags").alias("tags"),
        )
    )
    if primaries is None:
        return applied
    rest = w.join(primaries, "doc_id", "anti").select(
        "doc_id", "question", "terms", "tags"
    )
    return applied.unionByName(rest)

