"""End-to-end CLI workflow — the reference's three executables chained
(generate → synonyms → feed-back → analyze), SURVEY.md §3."""

from __future__ import annotations

import json
import os

import pytest

from knowledgegraphgenerator_spark.__main__ import main

FILES = os.path.join(os.path.dirname(__file__), "fixtures", "files")


def test_cli_full_workflow(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    out_json = str(tmp_path / "ao_output.json")

    # 1. generate from CSV FAQ input (entry point 1)
    rc = main(
        ["faq", "--file_path", f"{FILES}/faq.csv", "--type", "csv",
         "--output_file_path", out_json], spark=spark,
    )
    assert rc == 0
    with open(out_json) as f:
        export = json.load(f)
    assert export["faqs"] and all("terms" in x for x in export["faqs"])
    assert os.path.exists(tmp_path / "analyzer_report.csv")

    # 2. synonym mining over the generated export (entry point 3)
    syn_csv = str(tmp_path / "generated_synonyms.csv")
    rc = main(
        ["synonyms", "--file_path", out_json, "--output_path", syn_csv],
        spark=spark,
    )
    assert rc == 0 and os.path.exists(syn_csv)

    # 3. regenerate from json_export WITH the generated synonyms (S10)
    out2 = str(tmp_path / "ao_output2.json")
    rc = main(
        ["faq", "--file_path", f"{FILES}/faq_export.json", "--type",
         "json_export", "--synonyms_file_path", syn_csv,
         "--output_file_path", out2], spark=spark,
    )
    assert rc == 0
    with open(out2) as f:
        export2 = json.load(f)
    # merged synonyms include both export-level and generated entries
    assert "rtgs" in export2["synonyms"]
    assert any(k for k in export2["synonyms"] if k not in ("rtgs",))

    # 4. standalone analyzer (entry point 2)
    report = str(tmp_path / "report.csv")
    rc = main(
        ["analyze", "--file_path", out2, "--report_path", report],
        spark=spark,
    )
    assert rc == 0 and os.path.exists(report)


def test_cli_corpus_with_resume(spark, tmp_path):
    from knowledgegraphgenerator_spark.sources.webpages import (
        synthetic_web_pages,
    )

    src = str(tmp_path / "pages")
    synthetic_web_pages(spark, 200, n_partitions=4).select(
        "doc_id", "url", "warc_ts", "text", "lang"
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "kg_out")
    rc = main(
        ["corpus", "--input", src, "--output", out,
         "--resume-root", str(tmp_path / "stages")], spark=spark,
    )
    assert rc == 0
    triples = spark.read.parquet(out)
    assert triples.count() > 0
    assert "subj_bucket" in triples.columns
    # resume: second run loads committed stages (fast) and succeeds
    rc = main(
        ["corpus", "--input", src, "--output", out,
         "--resume-root", str(tmp_path / "stages")], spark=spark,
    )
    assert rc == 0


def _triple_multiset(spark, path):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(path).select("subj", "pred", "obj")
        .collect()
    )


def _write_pages(spark, path, n):
    from knowledgegraphgenerator_spark.sources.webpages import (
        synthetic_web_pages,
    )

    synthetic_web_pages(spark, n, n_partitions=4).select(
        "doc_id", "url", "warc_ts", "text", "lang"
    ).write.mode("overwrite").parquet(path)


@pytest.mark.parametrize("linking", ["auto", "blocked"])
def test_cli_corpus_resume_matches_corpus(spark, tmp_path, monkeypatch,
                                          linking):
    """``corpus --resume-root`` writes the same triple multiset as
    ``corpus``, and a rerun that finds only the triples stage
    uncommitted loads the committed page pass and linked ontology: it
    runs neither the page pass nor the dictionary probe nor a linker."""
    from knowledgegraphgenerator_spark import pipeline
    from knowledgegraphgenerator_spark.operators import linking as link_ops

    src = str(tmp_path / "pages")
    _write_pages(spark, src, 400)
    stages = str(tmp_path / "stages")
    args = ["corpus", "--input", src, "--linking", linking]

    def run(out, *extra):
        assert main([*args, "--output", str(tmp_path / out), *extra],
                    spark=spark) == 0
        return _triple_multiset(spark, str(tmp_path / out))

    want = run("plain")
    assert want
    assert run("resumed", "--resume-root", stages) == want

    os.remove(os.path.join(stages, "triples", "_SUCCESS_STAGE"))

    def recomputed(*args, **kwargs):
        raise AssertionError("a committed stage was recomputed")

    monkeypatch.setattr(pipeline, "_page_pass", recomputed)
    for name in ("choose_linking", "link_terms", "link_terms_blocked"):
        monkeypatch.setattr(link_ops, name, recomputed)
    assert run("rerun", "--resume-root", stages) == want


def test_cli_stream_linkers_agree_and_release(spark, tmp_path,
                                              monkeypatch):
    """``stream --linking auto|broadcast|blocked`` write the same triple
    multiset, and every run leaves the persistent-RDD count and the
    valid broadcasts at their baseline: each micro-batch releases what
    its linker created."""
    src = str(tmp_path / "pages")
    _write_pages(spark, src, 200)
    dict_path = str(tmp_path / "dict")
    assert main(["dictionary", "--input", src, "--output", dict_path],
                spark=spark) == 0

    sc = spark.sparkContext
    created = []
    real_broadcast = sc.broadcast

    def recording_broadcast(value):
        bc = real_broadcast(value)
        created.append(bc)
        return bc

    monkeypatch.setattr(sc, "broadcast", recording_broadcast)
    persistent = sc._jsc.sc().getPersistentRDDs
    baseline = persistent().size()
    got = {}
    for linking in ("auto", "broadcast", "blocked"):
        out = str(tmp_path / f"triples_{linking}")
        assert main(
            ["stream", "--source", src, "--dictionary", dict_path,
             "--output", out, "--checkpoint", str(tmp_path / linking),
             "--linking", linking],
            spark=spark,
        ) == 0
        assert persistent().size() == baseline, linking
        assert created and not any(
            bc._jbroadcast.isValid() for bc in created
        ), linking
        got[linking] = _triple_multiset(spark, out)
    assert got["auto"]
    assert got["auto"] == got["broadcast"] == got["blocked"]


def test_cli_dictionary_and_stream(spark, tmp_path):
    """Production maintenance loop through the CLI: vocabulary refresh
    writes the dictionary artifact; the stream subcommand enriches new
    files against it; a save/load round trip reproduces the directly
    collected ranking exactly."""
    from knowledgegraphgenerator_spark.core.stopwords import (
        resolve_stop_words,
    )
    from knowledgegraphgenerator_spark.operators import phrases
    from knowledgegraphgenerator_spark.pipeline import normalize_corpus
    from knowledgegraphgenerator_spark.sources.webpages import (
        synthetic_web_pages,
    )

    src = str(tmp_path / "pages")
    corpus = synthetic_web_pages(spark, 200, n_partitions=4).select(
        "doc_id", "url", "warc_ts", "text", "lang"
    )
    corpus.write.mode("overwrite").parquet(src)
    dict_path = str(tmp_path / "dict")

    rc = main(
        ["dictionary", "--input", src, "--output", dict_path],
        spark=spark,
    )
    assert rc == 0

    # round trip == direct collect (ranking keys stored, not ranks)
    stops = resolve_stop_words("en", None)
    frames = phrases.build_dictionary_frames(
        normalize_corpus(spark.read.parquet(src)), stops,
        "doc_id", "norm_text",
    )
    direct = phrases.collect_ranked_dictionary(dict(frames), stops)
    loaded = phrases.load_ranked_dictionary(spark, dict_path, stops)
    assert loaded.phrases == direct.phrases
    assert loaded.unigrams == direct.unigrams
    assert loaded.verbs == direct.verbs

    out = str(tmp_path / "trip_out")
    rc = main(
        ["stream", "--source", src, "--dictionary", dict_path,
         "--output", out, "--checkpoint", str(tmp_path / "ckpt")],
        spark=spark,
    )
    assert rc == 0
    assert spark.read.parquet(out).count() > 0


def test_cli_corpus_dedup_chain(spark, tmp_path):
    """corpus --dedup chain runs exact-then-fuzzy dedup before the
    pipeline: a corpus where half the docs are exact clones must yield
    the same triples as running on the pre-deduped corpus directly."""
    import pyspark.sql.functions as F

    from knowledgegraphgenerator_spark.sources.webpages import (
        synthetic_web_pages,
    )

    pages = synthetic_web_pages(spark, 120, n_partitions=4).select(
        "doc_id", "url", "warc_ts", "text", "lang"
    )
    # duplicate every doc under a higher id — exact clones
    clones = pages.withColumn("doc_id", F.col("doc_id") + 1000)
    src = str(tmp_path / "pages_dup")
    pages.unionByName(clones).write.mode("overwrite").parquet(src)

    out_d = str(tmp_path / "kg_dedup")
    rc = main(
        ["corpus", "--input", src, "--output", out_d, "--dedup", "chain"],
        spark=spark,
    )
    assert rc == 0

    src_clean = str(tmp_path / "pages_clean")
    pages.write.mode("overwrite").parquet(src_clean)
    out_c = str(tmp_path / "kg_clean")
    rc = main(
        ["corpus", "--input", src_clean, "--output", out_c],
        spark=spark,
    )
    assert rc == 0

    def tset(path):
        return {
            tuple(r) for r in spark.read.parquet(path)
            .select("subj", "pred", "obj").collect()
        }

    deduped = tset(out_d)
    assert deduped == tset(out_c)
    assert len(deduped) > 0


def test_ingest_dictionary_stream_composition(spark, tmp_path):
    """examples/INGEST_ENRICH.md end-to-end through the CLI: two crawl
    drops with cross-batch exact duplicates → ingest (admit-only-novel
    with the signature store) → dictionary refresh over the admitted
    corpus → streaming enrichment reading the INGEST CORPUS as its
    source. The streamed triples must equal a batch link of exactly
    the admitted documents against the same frozen dictionary."""
    import pyspark.sql.functions as F

    from knowledgegraphgenerator_spark.core.stopwords import (
        resolve_stop_words,
    )
    from knowledgegraphgenerator_spark.operators import linking, phrases
    from knowledgegraphgenerator_spark.operators.triples import (
        ontology_triples,
    )
    from knowledgegraphgenerator_spark.pipeline import normalize_corpus
    from knowledgegraphgenerator_spark.sources.webpages import (
        synthetic_web_pages,
    )

    pages = synthetic_web_pages(spark, 160, n_partitions=4).select(
        "doc_id", "url", "warc_ts", "text", "lang"
    )
    drop1 = pages.where("doc_id % 2 = 0")
    # drop 2 = the odd docs (novel) + exact clones of admitted docs
    clones = drop1.limit(20).withColumn(
        "doc_id", F.col("doc_id") + 100_000
    )
    drop2 = pages.where("doc_id % 2 = 1").unionByName(clones)

    src = str(tmp_path / "crawl")
    corpus_dir = str(tmp_path / "corpus")
    store = str(tmp_path / "sketches")
    ing = ["ingest", "--source", src, "--corpus", corpus_dir,
           "--checkpoint", str(tmp_path / "ck_ing"), "--store", store]

    drop1.write.mode("overwrite").parquet(src)
    assert main(ing, spark=spark) == 0
    drop2.write.mode("append").parquet(src)
    assert main(ing, spark=spark) == 0

    admitted = spark.read.parquet(corpus_dir)
    adm_ids = {r.doc_id for r in admitted.select("doc_id").collect()}
    # every clone rejected against the stored sketches
    assert not any(i >= 100_000 for i in adm_ids)

    dict_path = str(tmp_path / "dict")
    assert main(
        ["dictionary", "--input", corpus_dir, "--output", dict_path],
        spark=spark,
    ) == 0

    out = str(tmp_path / "triples")
    assert main(
        ["stream", "--source", corpus_dir, "--dictionary", dict_path,
         "--output", out, "--checkpoint", str(tmp_path / "ck_str")],
        spark=spark,
    ) == 0

    stops = resolve_stop_words("en", None)
    dictionary = phrases.load_ranked_dictionary(spark, dict_path, stops)
    batch = ontology_triples(
        linking.link_terms(
            normalize_corpus(admitted.select("doc_id", "text", "lang")),
            dictionary,
        ),
        row_local_dedup=True,
    )

    def multiset(df):
        return sorted(
            tuple(r) for r in df.select("subj", "pred", "obj").collect()
        )

    streamed = multiset(spark.read.parquet(out))
    assert streamed == multiset(batch)
    assert len(streamed) > 0
