"""Triple materialization (SURVEY.md Appendix A.10).

Canonical (subj, pred, obj) derivation applied identically to the
reference's output and the rebuild's output for P/R scoring:

  * (question, 'has_term', term)          per term except the root
  * (question, 'has_tag', tag)            per tag
  * (path[i+1], 'narrower_than', path[i]) per adjacent root→leaf pair,
                                          deduplicated
  * (term, 'has_synonym', syn)            per synonyms-map entry
  * (alt_question, 'alternate_of', primary_question) per altq edge

Scale notes: the narrower_than set is bounded by the hierarchy (tiny);
has_term/has_tag dominate and stay embarrassingly parallel (explode, no
shuffle until the final distinct). The output is written partitioned by
``pmod(xxhash64(subj), N)`` buckets — subject-hash bucketing per the north
rule, so downstream per-subject joins co-locate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledgegraphgenerator_spark.config import BOT_NAME

TRIPLE_SCHEMA = "subj string, pred string, obj string"


def ontology_triples(
    onto: DataFrame, row_local_dedup: bool = False
) -> DataFrame:
    """(doc_id, question, terms, tags) -> has_term/has_tag/narrower_than.

    ``row_local_dedup`` (ADVICE r3 #3): the default corpus-global
    ``.distinct()`` on the narrower_than branch is correct for batch but
    becomes a stateful ``Deduplicate`` with UNBOUNDED cross-batch state
    inside a streaming query. Streaming callers set True, and so does
    ``build_triples``, whose own final distinct is global: edges are
    deduplicated WITHIN each row via ``array_distinct`` (zero state, the
    plan stays map-only), and the cross-document dedup is deferred to the
    consumer / the periodic batch vocabulary refresh, which rewrites the
    graph anyway. The emitted triple SET is identical; only the
    narrower_than multiplicity differs."""
    has_term = onto.select(
        F.col("question").alias("subj"),
        F.lit("has_term").alias("pred"),
        F.explode(
            F.filter("terms", lambda t: t != F.lit(BOT_NAME))
        ).alias("obj"),
    )
    has_tag = onto.select(
        F.col("question").alias("subj"),
        F.lit("has_tag").alias("pred"),
        F.explode("tags").alias("obj"),
    )
    # sequence(1, 0) counts DOWN in Spark — guard the single-node (root
    # only) path explicitly.
    edges = F.expr(
        "transform(sequence(1, size(terms) - 1), i -> "
        "struct(reverse(terms)[i] as child,"
        " reverse(terms)[i - 1] as parent))"
    )
    if row_local_dedup:
        edges = F.array_distinct(edges)
    narrower = (
        onto.filter(F.size("terms") >= 2)
        .select(F.explode(edges).alias("e"))
        .select(
            F.col("e.child").alias("subj"),
            F.lit("narrower_than").alias("pred"),
            F.col("e.parent").alias("obj"),
        )
    )
    if not row_local_dedup:
        narrower = narrower.distinct()
    return has_term.unionByName(has_tag).unionByName(narrower)


def synonym_triples(synonyms: DataFrame) -> DataFrame:
    """(term, synonyms:array<string>) or (term, synonym) -> has_synonym."""
    if "synonyms" in synonyms.columns:
        synonyms = synonyms.select(
            "term", F.explode("synonyms").alias("synonym")
        )
    return synonyms.select(
        F.col("term").alias("subj"),
        F.lit("has_synonym").alias("pred"),
        F.col("synonym").alias("obj"),
    )


def altq_triples(altq: DataFrame) -> DataFrame:
    """(primary_question, alt_question) -> alternate_of."""
    return altq.select(
        F.col("alt_question").alias("subj"),
        F.lit("alternate_of").alias("pred"),
        F.col("primary_question").alias("obj"),
    )


def build_triples(
    onto: DataFrame,
    synonyms: DataFrame | None = None,
    altq: DataFrame | None = None,
) -> DataFrame:
    # row-local: the distinct below is global, and a second one on
    # narrower_than would be one more shuffle job
    out = ontology_triples(onto, row_local_dedup=True)
    if synonyms is not None:
        out = out.unionByName(synonym_triples(synonyms))
    if altq is not None:
        out = out.unionByName(altq_triples(altq))
    return out.distinct()


def write_triples(
    triples: DataFrame, path: str, n_buckets: int = 32
) -> None:
    """Materialize with subject-hash bucketing (north rule): physical
    layout co-locates all facts of one subject. On an Iceberg catalog this
    is ``bucket(N, subj)`` partitioning; on plain parquet we persist the
    bucket id as a partition column with identical layout semantics."""
    (
        triples.withColumn(
            "subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(n_buckets))
        )
        .repartition("subj_bucket")
        .write.mode("overwrite")
        .partitionBy("subj_bucket")
        .parquet(path)
    )


def write_triples_bucketed_table(
    triples: DataFrame, table: str, n_buckets: int = 32
) -> None:
    """The triple store: ``write_bucketed_table`` on the ``subj`` key.
    At 100 TB the triple store is joined against itself (path
    expansion) and against entity tables keyed by subj every query —
    pre-bucketing converts those from full shuffles into local
    sort-merge joins (zero-Exchange subj joins pinned in
    ``test_plans``). See ``write_bucketed_table`` for the layout and
    deletion-safety contract."""
    write_bucketed_table(triples, table, "subj", n_buckets)


def _managed_table_info(spark, table: str) -> dict:
    """Validated catalog info for an unqualified managed-table name:
    the preamble of the destructive overwrite below — the name rule
    and the DESCRIBE EXTENDED fetch. Empty when the catalog does not
    know the table."""
    import re

    if not re.fullmatch(r"[a-z_][a-z0-9_]*", table):
        raise ValueError(
            "bucketed-table operations require an unqualified "
            f"lowercase table name, got {table!r}"
        )
    if not spark.catalog.tableExists(table):
        return {}
    return {
        row.col_name: row.data_type
        for row in spark.sql(
            f"DESCRIBE TABLE EXTENDED {table}"
        ).collect()
    }


def managed_table_location(spark, table: str) -> str:
    """The warehouse path a managed table named ``table`` lives at in
    the CURRENT database — the single place the layout rule
    (``<warehouse>/<tbl>`` vs ``<warehouse>/<db>.db/<tbl>``) is
    encoded; the bucketed-table writer's orphan cleanup uses it."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    db = spark.catalog.currentDatabase()
    return (
        f"{warehouse.rstrip('/')}/{table}"
        if db == "default"
        else f"{warehouse.rstrip('/')}/{db}.db/{table}"
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
) -> None:
    """Spark-NATIVE bucketed table (``bucketBy(N, bucket_col)
    .sortBy(bucket_col)`` + ``saveAsTable``): unlike a partition-column
    layout, the bucket spec lives in the catalog, so every downstream
    equi-join or aggregation on ``bucket_col`` between tables bucketed
    with the same N plans with ZERO Exchange on the bucketed sides,
    and filters on the bucket key push to the scan. This is the
    parquet twin of the Iceberg ``bucket(N, col)`` table spec
    (SURVEY.md §7.4). Serving stores built on it: the triple store
    (``write_triples_bucketed_table``, subj) and the host link graph
    that ``host_hits_served`` runs HITS over (src).

    Idempotent across SESSIONS, not just runs: a fresh metastore does
    not know about a previous session's managed-table directory, and
    ``mode("overwrite")`` then fails with LOCATION_ALREADY_EXISTS — so
    any orphaned location is removed (via the Hadoop FileSystem API,
    which also covers non-local warehouses) after the DROP.

    Deletion safety (ADVICE r4 #3): the helper accepts only
    UNQUALIFIED lowercase table names in the CURRENT database — a
    qualified ``db.tbl`` would make the guessed ``<warehouse>/<name>``
    path wrong (the real layout is ``<warehouse>/<db>.db/<tbl>``) and
    could delete an unrelated directory sharing the name. When the
    table is still registered, its type and REAL location are
    resolved from the catalog (``DESCRIBE TABLE EXTENDED``) before the
    drop: an EXTERNAL table is REFUSED outright — DROP deliberately
    preserves external data and this helper must never recursively
    delete a shared location — while a managed table's resolved
    location is deleted. The warehouse-derived path (current-database
    aware) is only the fallback for the orphaned-directory case where
    no catalog entry exists to consult."""
    from knowledgegraphgenerator_spark.plans.runner import hadoop_fs

    spark = df.sparkSession
    info = _managed_table_info(spark, table)
    location = None
    if info:
        if info.get("Type", "").upper() == "EXTERNAL":
            raise ValueError(
                f"refusing to overwrite EXTERNAL table {table!r}: its "
                "location may be shared data that DROP TABLE "
                "deliberately preserves — drop/relocate it explicitly "
                "or pass a different table name"
            )
        location = info.get("Location")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if location is None:
        location = managed_table_location(spark, table)
    fs, loc = hadoop_fs(spark, location)
    if fs.exists(loc):
        fs.delete(loc, True)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )
