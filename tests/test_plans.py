"""Physical-plan assertions: pushdown, pruning, broadcast, codegen.

Plans are part of the product at 100 TB — these tests pin the plan
properties that keep the scale story true (a regression that silently
reads all columns or shuffles a broadcastable dim would pass value
tests and still be wrong)."""

from __future__ import annotations

import pytest

from knowledgegraphgenerator_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _explain(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_column_pruning_documents_scan(spark):
    df = QUERIES["term_count_threshold"](spark, SF)
    plan = _explain(df)
    # only doc_id+text may be read; n_chars/source/lang must be pruned
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" in read_schema
    assert "n_chars" not in read_schema and "source" not in read_schema


def test_anti_join_strategy(spark):
    plan = _explain(QUERIES["path_prefix_antijoin"](spark, SF))
    assert "LeftAnti" in plan


def test_wholestage_codegen_in_agg_path(spark):
    import contextlib
    import io

    df = QUERIES["quality_score"](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen subtrees" in buf.getvalue()
    plan = _explain(df)
    # pure-SQL query: no Python evaluation anywhere in the plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partial_aggregation_before_exchange(spark):
    plan = _explain(QUERIES["term_count_threshold"](spark, SF))
    # map-side partial agg (the reason groupBy-count needs no salting):
    # two HashAggregate nodes around one Exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


@pytest.mark.parametrize("name", ["minhash_signatures", "dedup_chain",
                                  "neardup_pairs_scale",
                                  "incremental_neardup"])
def test_hash_sketches_are_jvm_only(spark, name):
    plan = _explain(QUERIES[name](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_triple_sink_partition_pruning(spark, tmp_path):
    """Subject-hash bucketed layout: reading one bucket must prune the
    others at the scan (the point of bucketing by pmod(xxhash64(subj)))."""
    from pyspark.sql import functions as F

    from knowledgegraphgenerator_spark.operators.triples import write_triples

    triples = spark.createDataFrame(
        [(f"subj{i}", "has_term", f"obj{i}") for i in range(200)],
        "subj string, pred string, obj string",
    )
    path = str(tmp_path / "triples")
    write_triples(triples, path, n_buckets=8)
    read = spark.read.parquet(path).where(F.col("subj_bucket") == 3)
    plan = _explain(read)
    assert "PartitionFilters" in plan
    assert "subj_bucket" in plan.split("PartitionFilters")[1].splitlines()[0]
    full = spark.read.parquet(path)
    assert read.count() < full.count()
    assert full.count() == 200


def test_blocked_linking_join_is_equi_not_theta(spark):
    """link_terms_blocked's candidate join must stay an equi-join on the
    block key (hash-partitionable, AQE skew-eligible) — a regression to
    BroadcastNestedLoopJoin would re-introduce the O(docs x dict) scan
    the blocking exists to avoid."""
    from knowledgegraphgenerator_spark.core.stopwords import resolve_stop_words
    from knowledgegraphgenerator_spark.operators import linking, phrases
    from knowledgegraphgenerator_spark.pipeline import normalize_corpus

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(50).select("doc_id", "text", "lang")
    stops = resolve_stop_words("en", None)
    normalized = normalize_corpus(docs)
    frames = phrases.build_dictionary_frames(
        normalized, stops, "doc_id", "norm_text"
    )
    out = linking.link_terms_blocked(normalized, frames, stops)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the REPLAY runs as one Arrow pass (the other MapInPandas nodes are
    # the chunker feature pass feeding the dictionary branches)
    replay_nodes = [
        ln for ln in plan.splitlines()
        if "MapInPandas" in ln and "cands" in ln
    ]
    assert len(replay_nodes) == 1, plan


def test_bucketed_triple_table_joins_without_exchange(spark, tmp_path):
    """write_triples_bucketed_table: two tables bucketed bucket(8, subj)
    must equi-join on subj with ZERO Exchange on either side (the
    co-located-join posture the 100 TB triple store relies on), and the
    join result must equal the plain shuffle join's."""
    import pyspark.sql.functions as F

    from knowledgegraphgenerator_spark.operators.triples import (
        write_triples_bucketed_table,
    )

    trip = spark.createDataFrame(
        [(f"s{i % 40}", "has_term", f"o{i}") for i in range(400)],
        "subj string, pred string, obj string",
    )
    ent = spark.createDataFrame(
        [(f"s{i}", i) for i in range(40)], "subj string, rank long"
    )
    write_triples_bucketed_table(trip, "t_trip_bucketed", n_buckets=8)
    write_triples_bucketed_table(
        ent.withColumn("pred", F.lit("x")).withColumn("obj", F.lit("y"))
        .select("subj", "pred", "obj", "rank"),
        "t_ent_bucketed",
        n_buckets=8,
    )
    try:
        a = spark.table("t_trip_bucketed")
        b = spark.table("t_ent_bucketed").select("subj", "rank")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, "subj")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan, plan
            # values identical to the un-bucketed shuffle join
            expect = sorted(
                tuple(r) for r in trip.join(
                    ent.select("subj", "rank"), "subj"
                ).collect()
            )
            got = sorted(tuple(r) for r in joined.collect())
            assert got == expect
            # and a groupBy on the bucket key also plans shuffle-free
            agg_plan = (
                a.groupBy("subj").count()
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "Exchange" not in agg_plan, agg_plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_trip_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_ent_bucketed")


def test_two_hop_on_bucketed_table_single_exchange(spark):
    """The kg_two_hop self-join shape off the bucketed triple table
    (queries.py:q_kg_two_hop docstring claim): side b joins on subj
    (the bucket key → NO Exchange); side a joins on obj (not the bucket
    key → exactly one Exchange). One shuffle instead of two is the
    bucketing payoff for every-query graph traversal."""
    from knowledgegraphgenerator_spark.operators.triples import (
        write_triples_bucketed_table,
    )

    trip = spark.createDataFrame(
        [(f"n{i}", "narrower_than", f"n{i // 3}") for i in range(1, 300)],
        "subj string, pred string, obj string",
    )
    write_triples_bucketed_table(trip, "t_twohop_bucketed", n_buckets=8)
    try:
        nt = spark.table("t_twohop_bucketed").where(
            "pred = 'narrower_than'"
        ).select("subj", "obj")
        a = nt.select(
            nt["subj"].alias("descendant"), nt["obj"].alias("mid")
        )
        b = nt.select(
            nt["subj"].alias("mid"), nt["obj"].alias("ancestor")
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, "mid").select(
                "descendant", "mid", "ancestor"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Exchange") == 1, plan
            # values equal the un-bucketed two-hop
            base = trip.select("subj", "obj")
            expect = sorted(
                tuple(r)
                for r in base.select(
                    base["subj"].alias("descendant"),
                    base["obj"].alias("mid"),
                ).join(
                    base.select(
                        base["subj"].alias("mid"),
                        base["obj"].alias("ancestor"),
                    ),
                    "mid",
                ).select("descendant", "mid", "ancestor").collect()
            )
            got = sorted(tuple(r) for r in joined.collect())
            assert got == expect
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_twohop_bucketed")


def test_dup_span_removal_plan_shape(spark):
    """Span removal must stay join-bounded: equi-joins only (no
    cartesian/nested-loop), and the final doc rebuild is an array
    filter, not an explode-and-regroup of every token."""
    df = QUERIES["dup_span_removal"](spark, SF)
    plan = _explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one explode — the span generation, derived once via the
    # count-over-window form (the groupBy+join-back form re-derives the
    # explode per branch: 2 Generate nodes); the token rebuild is a
    # narrow array filter. explain("formatted") lists each node in the
    # tree AND the details section — count the numbered detail entries.
    import re

    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan


def test_ancestor_closure_joins_are_equi(spark):
    """Each BFS round of the closure is an equi-join + anti-join — a
    plan with a nested-loop join would be quadratic in |closure|."""
    from knowledgegraphgenerator_spark.operators.components import (
        ancestor_closure,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "b")],
        "subj string, obj string",
    )
    out = ancestor_closure(edges)
    plan = _explain(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_closure_hop_join_bucketed_no_exchange(spark):
    """The closure's per-round hop join keys on the edge table's subj:
    served off the bucketed triple table with assume_distinct=True, the
    hop (build) side must plan with NO Exchange — the frontier side pays
    the single per-round shuffle. A defensive .distinct() on the edges
    would insert an Exchange and defeat the bucket layout."""
    import pyspark.sql.functions as F

    from knowledgegraphgenerator_spark.operators.components import (
        ancestor_closure,
    )
    from knowledgegraphgenerator_spark.operators.triples import (
        write_triples_bucketed_table,
    )

    edges = spark.createDataFrame(
        [(f"n{i}", "narrower_than", f"n{i // 2}") for i in range(1, 64)],
        "subj string, pred string, obj string",
    )
    write_triples_bucketed_table(edges, "t_closure_edges", n_buckets=8)
    try:
        nt = spark.table("t_closure_edges").where(
            F.col("pred") == "narrower_than"
        ).select("subj", "obj")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            # the exact per-round join shape the operator builds
            frontier = nt.select(
                F.col("subj").alias("descendant"),
                F.col("obj").alias("ancestor"),
            )
            hop = nt.select(
                F.col("subj").alias("mid"), F.col("obj").alias("nxt")
            )
            step = frontier.join(hop, frontier["ancestor"] == hop["mid"])
            plan = step._jdf.queryExecution().executedPlan().toString()
            # exactly ONE Exchange: the frontier side (keys on ancestor,
            # not the bucket key); the hop side reads bucket-aligned
            assert plan.count("Exchange") == 1, plan
            # and the full operator is value-identical with or without
            # the bucketed serve path
            bucketed = {
                tuple(r)
                for r in ancestor_closure(nt, assume_distinct=True)
                .collect()
            }
            plain = {
                tuple(r)
                for r in ancestor_closure(
                    edges.select("subj", "obj")
                ).collect()
            }
            assert bucketed == plain and len(plain) > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_closure_edges")


def test_bucketed_table_writer_guards(spark, tmp_path):
    """Deletion-safety guards (ADVICE r4 #3 + code-review r5 #2): a
    qualified or uppercase name is rejected before anything is
    touched, and an EXTERNAL table is refused outright — its shared
    location must survive untouched (DROP TABLE semantics)."""
    import pytest
    from pyspark.sql import functions as F

    from knowledgegraphgenerator_spark.operators.triples import (
        write_triples_bucketed_table,
    )

    trip = spark.createDataFrame(
        [("a", "narrower_than", "b"), ("b", "narrower_than", "c")],
        "subj string, pred string, obj string",
    )
    with pytest.raises(ValueError, match="unqualified"):
        write_triples_bucketed_table(trip, "db.tbl")
    with pytest.raises(ValueError, match="unqualified"):
        write_triples_bucketed_table(trip, "BadCase")

    loc = str(tmp_path / "ext_data")
    trip.write.mode("overwrite").parquet(loc)
    spark.sql("DROP TABLE IF EXISTS ext_guard_tbl")
    spark.sql(
        "CREATE TABLE ext_guard_tbl (subj string, pred string, "
        f"obj string) USING parquet LOCATION '{loc}'"
    )
    try:
        with pytest.raises(ValueError, match="EXTERNAL"):
            write_triples_bucketed_table(trip, "ext_guard_tbl")
        # the external data survived untouched
        assert spark.read.parquet(loc).count() == 2
        assert spark.catalog.tableExists("ext_guard_tbl")
    finally:
        spark.sql("DROP TABLE IF EXISTS ext_guard_tbl")


def test_pagerank_contrib_bucketed_two_exchanges(spark):
    """integer_pagerank served off the bucketed triple table: in the
    per-iteration contrib plan the edge scan and the out-degree
    aggregation must ride the bucket layout — with broadcast disabled,
    exactly TWO shuffles remain (the rank iterate keyed on entity and
    the final dst aggregation). A defensive .distinct() or a persist on
    the edges would add a third and defeat the store's layout."""
    import pyspark.sql.functions as F

    from knowledgegraphgenerator_spark.operators.components import (
        integer_pagerank,
    )
    from knowledgegraphgenerator_spark.operators.triples import (
        write_triples_bucketed_table,
    )

    edges = spark.createDataFrame(
        [(f"n{i}", "narrower_than", f"n{i // 2}") for i in range(1, 64)],
        "subj string, pred string, obj string",
    )
    write_triples_bucketed_table(edges, "t_pr_edges", n_buckets=8)
    try:
        nt = (
            spark.table("t_pr_edges")
            .where(F.col("pred") == "narrower_than")
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            # the exact per-iteration contrib shape the operator builds
            pr = (
                nt.select(F.col("src").alias("entity"))
                .union(nt.select(F.col("dst").alias("entity")))
                .distinct()
                .localCheckpoint()
                .withColumn("pr", F.lit(1000).cast("long"))
            )
            outdeg = nt.groupBy("src").agg(
                F.count(F.lit(1)).alias("outdeg")
            )
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
            plan = (
                contrib._jdf.queryExecution().executedPlan().toString()
            )
            nb = plan.count("Exchange") - plan.count("BroadcastExchange")
            assert nb == 2, plan
            # and the full served configuration is value-identical to
            # the in-memory operator on the same edges
            served = {
                tuple(r)
                for r in integer_pagerank(
                    nt, assume_distinct=True, persist=False
                ).collect()
            }
            plain = {
                tuple(r)
                for r in integer_pagerank(
                    edges.select(
                        F.col("subj").alias("src"),
                        F.col("obj").alias("dst"),
                    )
                ).collect()
            }
            assert served == plain and len(plain) > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pr_edges")


def test_build_runs_one_python_pass_over_the_corpus(spark, monkeypatch):
    """The build's dictionary collect reads the corpus through ONE Python
    node: HTML extraction, normalize and the chunker features run in one
    cached ``mapInPandas``, with no scalar Arrow UDF beside it (each
    Python node is another JVM↔Python crossing of every page)."""
    from knowledgegraphgenerator_spark.operators import phrases
    from knowledgegraphgenerator_spark.pipeline import run_pipeline

    collected = []
    real = phrases.thresholded_rows

    def recording(counted):
        out = real(counted)
        collected.append(out)
        return out

    monkeypatch.setattr(phrases, "thresholded_rows", recording)
    pages = spark.createDataFrame(
        [
            (1, None, b"<p>How can't I pay the bill?</p>", "en"),
            (2, "How do I pay the bill?", None, "en"),
        ],
        "doc_id long, text string, html binary, lang string",
    )
    result = run_pipeline(pages, html_col="html")
    try:
        assert len(collected) == 1
        plan = collected[0]._jdf.queryExecution().executedPlan().toString()
    finally:
        result.close()
    assert "InMemoryRelation" in plan, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
