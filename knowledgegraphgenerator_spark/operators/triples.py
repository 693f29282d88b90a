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

