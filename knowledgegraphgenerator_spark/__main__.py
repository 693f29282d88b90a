"""CLI — reference command-line parity (KnowledgeGraphGenerator.py:67-93)
plus the web-corpus subcommand.

  python -m knowledgegraphgenerator_spark faq \\
      --file_path faqs.json --type json_export [--language en] \\
      [--synonyms_file_path generated_synonyms.csv] \\
      [--output_file_path ao_output.json] [--triples_path /path/triples]

  python -m knowledgegraphgenerator_spark corpus \\
      --input /path/web_pages_parquet --output /path/kg_out \\
      [--language en] [--resume-root /path/stages] \\
      [--linking auto|broadcast|blocked] [--dedup none|exact|chain]

  python -m knowledgegraphgenerator_spark analyze \\
      --file_path ao_output.json [--language en] \\
      [--report_path analyzer_report.csv]

  python -m knowledgegraphgenerator_spark synonyms \\
      --file_path ao_output.json [--output_path generated_synonyms.csv]

  python -m knowledgegraphgenerator_spark dictionary \\
      --input /path/web_pages_parquet --output /path/dict_parquet

  python -m knowledgegraphgenerator_spark stream \\
      --source /path/incoming --dictionary /path/dict_parquet \\
      --output /path/triples --checkpoint /path/ckpt \\
      [--linking auto|broadcast|blocked]

  python -m knowledgegraphgenerator_spark ingest \\
      --source /path/incoming --corpus /path/corpus \\
      --checkpoint /path/ckpt --store /path/signature_store

For cluster runs: zip the package (scripts/package.sh) and
``spark-submit --py-files kg_spark.zip examples/run_kg.py ...``, which
builds its cluster session and calls ``main(["corpus", ...], spark=...)``.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(prog="knowledgegraphgenerator_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    faq = sub.add_parser("faq", help="FAQ input → ao_output.json + triples")
    faq.add_argument("--file_path", required=True)
    faq.add_argument("--type", dest="request_type", required=True,
                     choices=["csv", "json_export", "csv_export"])
    faq.add_argument("--language", default="en")
    faq.add_argument("--synonyms_file_path", default=None)
    # reference hard-codes 'ao_output.json' (KnowledgeGraphGenerator.py:85)
    faq.add_argument("--output_file_path", default="ao_output.json")
    faq.add_argument("--triples_path", default=None)

    corpus = sub.add_parser("corpus", help="web_pages parquet → KG tables")
    corpus.add_argument("--input", required=True)
    corpus.add_argument("--output", required=True)
    corpus.add_argument("--language", default="en")
    corpus.add_argument("--resume-root", default=None)
    corpus.add_argument("--linking", default="auto",
                        choices=["auto", "broadcast", "blocked"])
    corpus.add_argument(
        "--dedup", default="none",
        choices=["none", "exact", "chain"],
        help="pre-pipeline corpus dedup: 'exact' = hash dedup; "
             "'chain' = exact then MinHash near-dedup (crawl order — "
             "exact MUST precede fuzzy, operators/dedup.py:crawl_dedup)",
    )

    an = sub.add_parser("analyze", help="diagnostics over an export JSON")
    an.add_argument("--file_path", required=True)
    an.add_argument("--language", default="en")
    an.add_argument("--report_path", default="analyzer_report.csv")

    syn = sub.add_parser(
        "synonyms",
        help="mine synonyms from KG answers (reference entry point 3, "
             "synonym_generator.py:55-72)",
    )
    syn.add_argument("--file_path", required=True)
    syn.add_argument("--output_path", default="generated_synonyms.csv")

    dd = sub.add_parser(
        "dictionary",
        help="vocabulary refresh: corpus parquet → dictionary parquet "
             "(the frozen artifact stream enrichment links against)",
    )
    dd.add_argument("--input", required=True)
    dd.add_argument("--output", required=True)
    dd.add_argument("--language", default="en")

    st = sub.add_parser(
        "stream",
        help="streaming KG enrichment: new web-page files → triples, "
             "linked against a frozen dictionary parquet, exactly-once",
    )
    st.add_argument("--source", required=True)
    st.add_argument("--dictionary", required=True)
    st.add_argument("--output", required=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--language", default="en")
    st.add_argument("--linking", default="auto",
                    choices=["auto", "broadcast", "blocked"])

    ing = sub.add_parser(
        "ingest",
        help="streaming admit-only-novel ingestion: new web-page files "
             "are deduped within batch (exact then MinHash) and against "
             "the accumulated corpus; survivors append, exactly-once",
    )
    ing.add_argument("--source", required=True)
    ing.add_argument("--corpus", required=True)
    ing.add_argument("--checkpoint", required=True)
    ing.add_argument(
        "--store", required=True,
        help="signature-store dir: each admitted batch persists its "
             "shingle/band sketches here and later batches admit "
             "against them, never re-reading the corpus text",
    )
    for p in (faq, corpus, an, syn, dd, st, ing):
        p.add_argument("--v", action="store_true", help="verbose")

    args = ap.parse_args(argv)
    owns_session = spark is None
    if owns_session:
        from knowledgegraphgenerator_spark.session import get_spark

        spark = get_spark(app_name=f"kg-{args.cmd}")
    try:
        if args.cmd == "faq":
            from knowledgegraphgenerator_spark.pipeline import run_faq_pipeline

            _, result = run_faq_pipeline(
                spark, args.file_path, args.request_type, args.language,
                synonyms_csv_path=args.synonyms_file_path,
                output_json_path=args.output_file_path,
            )
            if args.triples_path:
                from knowledgegraphgenerator_spark.operators.triples import (
                    write_triples,
                )

                write_triples(result.triples, args.triples_path)
            # post-hoc diagnostics, as the reference does in-process
            # (KnowledgeGraphGenerator.py:54-61)
            from knowledgegraphgenerator_spark.operators.analyzer import (
                run_diagnostics,
            )

            with open(args.output_file_path) as f:
                export = json.load(f)
            run_diagnostics(spark, export, args.language,
                            report_csv_path="analyzer_report.csv")
        elif args.cmd == "corpus":
            df = spark.read.parquet(args.input)
            if args.dedup == "exact":
                from knowledgegraphgenerator_spark.operators.dedup import (
                    exact_dedup,
                )

                df = exact_dedup(df, "text", "doc_id")
            elif args.dedup == "chain":
                from knowledgegraphgenerator_spark.operators.dedup import (
                    crawl_dedup,
                )

                df = crawl_dedup(df, "text", "doc_id")
            from knowledgegraphgenerator_spark.operators.triples import (
                write_triples,
            )
            from knowledgegraphgenerator_spark.pipeline import run_pipeline

            result = run_pipeline(
                df, lang=args.language, linking=args.linking,
                resume_root=args.resume_root,
            )
            write_triples(result.triples, args.output)
            result.close()
        elif args.cmd == "dictionary":
            from knowledgegraphgenerator_spark.core.stopwords import (
                resolve_stop_words,
            )
            from knowledgegraphgenerator_spark.operators import phrases
            from knowledgegraphgenerator_spark.pipeline import normalize_corpus

            stops = resolve_stop_words(args.language, None)
            normalized = normalize_corpus(spark.read.parquet(args.input))
            frames = phrases.build_dictionary_frames(
                normalized, stops, "doc_id", "norm_text"
            )
            phrases.save_dictionary(dict(frames), args.output)
        elif args.cmd == "stream":
            from knowledgegraphgenerator_spark.core.stopwords import (
                resolve_stop_words,
            )
            from knowledgegraphgenerator_spark.streaming.incremental import (
                incremental_kg_triples,
            )

            chosen = incremental_kg_triples(
                spark, args.source, args.dictionary,
                resolve_stop_words(args.language, None),
                args.output, args.checkpoint, linking=args.linking,
            )
            if args.v:
                print(f"stream linking strategy: {chosen}")
        elif args.cmd == "ingest":
            from knowledgegraphgenerator_spark.streaming.incremental import (
                incremental_ingest_dedup,
            )

            incremental_ingest_dedup(
                spark, args.source, args.corpus, args.checkpoint,
                store_dir=args.store,
            )
        elif args.cmd == "synonyms":
            from knowledgegraphgenerator_spark.operators.word2vec import (
                synonym_generation_master,
            )

            with open(args.file_path) as f:
                export = json.load(f)
            rows = synonym_generation_master(spark, export, args.output_path)
            if args.v:
                print(f"{len(rows)} synonym rows -> {args.output_path}")
        else:
            from knowledgegraphgenerator_spark.operators.analyzer import (
                run_diagnostics,
            )

            with open(args.file_path) as f:
                export = json.load(f)
            resp = run_diagnostics(spark, export, args.language,
                                   report_csv_path=args.report_path)
            print(json.dumps(
                {k: resp[k] for k in
                 ("no_of_errors", "no_of_suggestions", "total_no_of_issues")}
            ))
    finally:
        if owns_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
