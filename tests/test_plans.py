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
