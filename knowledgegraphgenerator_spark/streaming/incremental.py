"""The crawl loop's two streams (Structured Streaming,
Trigger.AvailableNow), each exactly-once through Spark's checkpoint (the
processed-file ledger) and an idempotent ``batch_id=N`` overwrite per
micro-batch:

  * ``incremental_ingest_dedup`` admits only novel pages into the
    corpus (exact, then MinHash, within the batch and against the
    admitted corpus's signature store);
  * ``incremental_kg_triples`` links each new page against a frozen
    dictionary artifact and writes its ontology triples.

The corpus-global stages (dictionary, hierarchy) stay in the batch build
(``pipeline.run_pipeline``, resumable through ``resume_root``): term and
path statistics are global aggregates, so recomputing them per
micro-batch would change history. ``availableNow`` drains everything
currently in the source and stops — idempotent catch-up runs, cron-able.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WEB_PAGES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def incremental_kg_triples(
    spark: SparkSession,
    source_dir: str,
    dictionary_path: str,
    stop_tokens: frozenset[str],
    target_dir: str,
    checkpoint_dir: str,
    *,
    linking: str = "auto",
    broadcast_term_limit: int = 2_000_000,
) -> str:
    """Streaming KG ENRICHMENT: new web-page files → normalize → link
    against the FROZEN dictionary artifact at ``dictionary_path``
    (``phrases.save_dictionary``) → per-doc ontology triples in
    ``target_dir/batch_id=N``. Returns the linker it chose
    ('broadcast' | 'blocked').

    Production KG maintenance splits vocabulary REFRESH (the periodic
    batch build over the accumulated corpus, see module docstring) from
    document enrichment (this): a doc's triples depend only on the doc
    and the frozen dictionary. The dictionary is frozen for the stream's
    lifetime, so the linker is chosen once per start, by the build's
    probe (``choose_linking``) run on the artifact itself; under 'auto'
    a dictionary past the limit never reaches the driver. Each page is
    normalized by the build's per-page code (``normalize_corpus``).

    One sink serves both linkers: ``foreachBatch`` links the batch
    (persisting the linked frame, so each page's Python work runs once
    for the three triple branches), OVERWRITES its own ``batch_id=N``
    directory (a retried batch rewrites it instead of appending
    duplicates) and then releases that cache and the caches and
    broadcasts the batch's linker created, so a long-lived stream holds
    O(one batch) of them. narrower_than edges are deduplicated
    ROW-LOCALLY (``ontology_triples(row_local_dedup=True)``): a
    corpus-global ``.distinct()`` would need cross-batch state. The
    emitted triple SET equals the batch path's; duplicate narrower_than
    rows may appear across documents, and the periodic batch refresh
    rewrites the exact graph. The hierarchy optimiser (G1/G2) reads
    corpus-wide path statistics, so it also belongs to the batch
    refresh."""
    from knowledgegraphgenerator_spark.operators import phrases
    from knowledgegraphgenerator_spark.operators.linking import (
        choose_linking,
        link_terms,
        link_terms_blocked,
    )
    from knowledgegraphgenerator_spark.operators.triples import (
        ontology_triples,
    )
    from knowledgegraphgenerator_spark.pipeline import normalize_corpus

    use_blocked, rows = choose_linking(
        spark.read.parquet(dictionary_path), linking, broadcast_term_limit
    )
    if use_blocked:
        frames = phrases.load_dictionary_frames(spark, dictionary_path)

        def link(pages, cleanup):
            return link_terms_blocked(pages, frames, stop_tokens,
                                      cleanup=cleanup)
    else:
        dictionary = phrases.ranked_dictionary_from_rows(rows, stop_tokens)

        def link(pages, cleanup):
            return link_terms(pages, dictionary, cleanup=cleanup)

    stream = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(source_dir)
    )
    # rows with no identity or no text cannot be enriched; dropping them
    # here also makes a source dir containing foreign parquet
    # (schema-mismatched files project to all-NULL rows) a no-op instead
    # of a stream of null docs
    docs = stream.where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select("doc_id", "text", "lang")

    def enrich_batch(batch_df, batch_id: int) -> None:
        cleanup: list = []
        try:
            # persisted: ontology_triples reads the linked frame from three
            # union branches, and each would otherwise rerun the batch's
            # normalize and link Python work
            onto = link(normalize_corpus(batch_df), cleanup).persist()
            cleanup.append(lambda: onto.unpersist(blocking=True))
            (
                ontology_triples(onto, row_local_dedup=True)
                .write.mode("overwrite")
                .parquet(f"{target_dir}/batch_id={batch_id}")
            )
        finally:
            for fn in cleanup:
                fn()

    q = (
        docs.writeStream.foreachBatch(enrich_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return "blocked" if use_blocked else "broadcast"


# the stream's former 'auto' entry point: the same function
incremental_kg_triples_auto = incremental_kg_triples


def _check_signature_store_family(spark, store_dir: str) -> None:
    """Refuse to serve a signature store written under a DIFFERENT
    MinHash permutation family (r6 review finding): bands from another
    family never collide with this one's, so admitting against them
    silently treats every near-duplicate as novel. New/empty stores are
    stamped with the current ``dedup.SIGNATURE_FAMILY``; a store with
    data but no stamp predates the marker (or was written by an older
    family) and must be rebuilt — deleting ``shingles/`` and ``bands/``
    is enough, the stream's backfill loop re-derives them from corpus
    text under the current family."""
    from knowledgegraphgenerator_spark.operators.dedup import (
        SIGNATURE_FAMILY,
    )
    from knowledgegraphgenerator_spark.plans.runner import (
        fs_exists,
        hadoop_fs,
        list_subdirs,
    )

    marker = f"{store_dir}/_SIG_FAMILY"
    rebuild_hint = (
        f"delete {store_dir}/shingles, {store_dir}/bands and "
        f"{marker}; the stream backfills the store from corpus text "
        "under the current family"
    )
    if fs_exists(spark, marker):
        # NOT spark.read.text: Spark's file index skips _-prefixed
        # files (the same hidden-file rule that protects _SUCCESS), so
        # the marker must be read through the FileSystem API directly
        jvm = spark.sparkContext._jvm
        fs, hpath = hadoop_fs(spark, marker)
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(fs.open(hpath), "UTF-8")
        )
        try:
            found = (reader.readLine() or "").strip()
        finally:
            reader.close()
        if found != SIGNATURE_FAMILY:
            raise ValueError(
                f"signature store {store_dir} was written under MinHash "
                f"family {found!r}; this build uses "
                f"{SIGNATURE_FAMILY!r} — their band signatures never "
                f"match, so serving it would silently admit every "
                f"near-duplicate. To rebuild: {rebuild_hint}"
            )
        return
    has_data = bool(list_subdirs(spark, f"{store_dir}/shingles")) or bool(
        list_subdirs(spark, f"{store_dir}/bands")
    )
    if has_data:
        raise ValueError(
            f"signature store {store_dir} has data but no _SIG_FAMILY "
            f"marker — it predates the family stamp (or was written by "
            f"an older build) and its sketches are not comparable to "
            f"{SIGNATURE_FAMILY!r}. To rebuild: {rebuild_hint}"
        )
    fs, hpath = hadoop_fs(spark, marker)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(SIGNATURE_FAMILY.encode("utf-8")))
    finally:
        out.close()


def incremental_ingest_dedup(
    spark: SparkSession,
    source_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    store_dir: str,
) -> None:
    """Streaming crawl ingestion that ADMITS ONLY NOVEL documents: each
    micro-batch is deduped (a) within itself in crawl order
    (operators/dedup.py:crawl_dedup — exact hash first, then MinHash)
    and (b) against the ACCUMULATED admitted corpus via the asymmetric
    batch-vs-corpus band join over the signature store
    (``admit_batch_against_store`` — new×new and old×old pairs never
    materialize, work tracks |batch|); survivors append to the corpus
    and their sketches to the store, so the next batch dedups against
    them.

    The signature store: each admitted batch persists its shingles and
    banded minhash signatures (``<store_dir>/shingles/batch_id=N``,
    ``<store_dir>/bands/batch_id=N``), and later batches admit against
    those stored sketches — the corpus TEXT is never re-read or
    re-shingled, so per-batch admit cost tracks |batch| + one scan of
    the compact sketch store instead of growing with the full corpus.
    The CORPUS is the source of truth and the store a derived cache: any
    prior corpus batch missing from either store frame (a corpus
    bootstrapped by hand, a partial restore, pruned bands) is BACKFILLED
    from corpus text before the admit join, so cross-batch dedup is
    never silently skipped. A store stamped by another MinHash family is
    refused (``_check_signature_store_family``).

    Exactly-once AND replay-safe: survivors land in
    ``corpus_dir/batch_id=N`` (and the store's ``batch_id=N``) via
    overwrite — a retried batch rewrites its own partition, never
    appends duplicates — and the prior-batch read EXCLUDES the current
    batch's own partition: on a foreachBatch retry (crash after the
    ``batch_id=N`` write but before the checkpoint offset commit) the
    corpus already contains this batch's output, and reading it back
    would make every survivor an exact duplicate of itself, emptying the
    partition permanently. Prior partitions are enumerated explicitly
    through the Hadoop FileSystem API (cluster-FS-safe); a missing
    corpus dir is the legitimate first-batch case, while any OTHER read
    failure propagates and fails the batch so the stream retries. A
    corpus dir containing anything other than ``batch_id=N`` partitions
    fails loudly instead of deduping against nothing. Rows without
    identity or text are dropped at the source (no stable doc_id → no
    dedup key).
    """
    from knowledgegraphgenerator_spark.operators.dedup import (
        admit_batch_against_store,
        batch_signature_parts,
        crawl_dedup,
    )
    from knowledgegraphgenerator_spark.plans.runner import (
        list_children,
        list_subdirs,
    )

    _check_signature_store_family(spark, store_dir)

    stream = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(source_dir)
    )
    incoming = stream.where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )

    def _corpus_batches(batch_id: int) -> list[str]:
        """Prior ``batch_id=K`` partition names of the corpus — the
        SOURCE OF TRUTH for what has been admitted. Fails loudly on
        any other layout: a foreign-layout corpus must not silently
        dedup against NOTHING."""
        entries = list_children(spark, corpus_dir)
        foreign = [
            n for n, is_dir in entries
            if not (is_dir and n.startswith("batch_id="))
            and not n.startswith(("_", "."))
        ]
        if foreign:
            raise ValueError(
                f"corpus dir {corpus_dir} contains non-batch_id "
                f"entries {foreign[:5]}: incremental_ingest_dedup "
                "manages only batch_id=N partitions it wrote itself — "
                "bootstrap an existing corpus by placing it under "
                f"{corpus_dir}/batch_id=-1 (the stream numbers its own "
                "batches from 0)"
            )
        return [
            n for n, is_dir in entries
            if is_dir
            and n.startswith("batch_id=")
            and n != f"batch_id={batch_id}"
        ]

    def _admit(batch_df, batch_id: int) -> None:
        # persist=False: each micro-batch is a NEW plan, so the
        # operator's internal persists could never be deduped or
        # released — a long-lived stream would leak one cache entry
        # per batch
        batch = crawl_dedup(batch_df, "text", "doc_id", persist=False)
        prior = _corpus_batches(batch_id)
        # the store is a derived CACHE of the corpus: any corpus batch
        # missing from either store frame is backfilled from corpus
        # text once, so a hand-bootstrapped corpus or a damaged store
        # never silently skips dedup
        have_sh = set(list_subdirs(spark, f"{store_dir}/shingles"))
        have_bands = set(list_subdirs(spark, f"{store_dir}/bands"))
        for d in prior:
            if d in have_sh and d in have_bands:
                continue
            rows = spark.read.parquet(f"{corpus_dir}/{d}")
            sh_b, band_b = batch_signature_parts(
                rows.select("doc_id", "text"), "text", "doc_id"
            )
            sh_b.write.mode("overwrite").parquet(f"{store_dir}/shingles/{d}")
            band_b.write.mode("overwrite").parquet(f"{store_dir}/bands/{d}")
        if prior:
            batch = admit_batch_against_store(
                batch,
                spark.read.parquet(
                    *[f"{store_dir}/shingles/{d}" for d in prior]
                ),
                spark.read.parquet(*[f"{store_dir}/bands/{d}" for d in prior]),
                "text", "doc_id",
            )
        # survivors feed three writes (corpus and the 2 store frames):
        # persist once so the admit join chain runs once, not per
        # consumer
        batch = batch.persist()
        try:
            (
                batch.write.mode("overwrite")
                .parquet(f"{corpus_dir}/batch_id={batch_id}")
            )
            sh, bands = batch_signature_parts(batch, "text", "doc_id")
            sh.write.mode("overwrite").parquet(
                f"{store_dir}/shingles/batch_id={batch_id}"
            )
            bands.write.mode("overwrite").parquet(
                f"{store_dir}/bands/batch_id={batch_id}"
            )
        finally:
            batch.unpersist()

    q = (
        incoming.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
