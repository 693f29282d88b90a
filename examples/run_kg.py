"""Cluster submission example (north rule: spark-submit --py-files).

    scripts/package.sh
    spark-submit --master yarn --deploy-mode cluster \
        --py-files dist/kg_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.execution.arrow.pyspark.enabled=true \
        examples/run_kg.py \
        --input s3://bucket/web_pages/ --output s3://bucket/kg/ \
        --resume-root s3://bucket/kg_stages/

The script builds its own SparkSession from the cluster config (no
local-mode assumptions) and runs the CLI's ``corpus`` subcommand on it,
so spark-submit and ``python -m knowledgegraphgenerator_spark corpus``
share one path and take the same flags (``--language``, ``--linking``,
``--dedup``, ``--resume-root``). With ``--resume-root``, rerunning after
a failure resumes from the last committed stage. The resume root may be
a CLUSTER filesystem path (s3a://, hdfs://) — stage markers go through
the Hadoop FileSystem API and per-partition lineage counts fall back to
a one-job readback there (plans/runner.py). ``--dedup chain`` runs
crawl-order dedup (exact hash, then MinHash near-dedup) before the
pipeline — the order is structural; see operators/dedup.py:crawl_dedup.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def main() -> None:
    spark = (
        SparkSession.builder.appName("kg-construct")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    from knowledgegraphgenerator_spark.__main__ import main as cli

    try:
        cli(["corpus", *sys.argv[1:]], spark=spark)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
