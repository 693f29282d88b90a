"""PySpark-native knowledge-graph construction engine.

From-scratch re-expression (NOT a port) of the query/data-processing
capabilities of Koredotcom/KnowledgeGraphGenerator (reference at
/root/reference, cited by file:line in docstrings) as idiomatic Spark
DataFrame pipelines:

- ``core``       pure-Python deterministic text/NLP primitives shared by
                 the Arrow UDFs and the sequential oracle in tests/ref_impl
- ``functions``  Spark column expressions + vectorized pandas/Arrow UDFs
- ``sources``    input parsers (FAQ CSV/JSON-export/CSV-export, synonyms,
                 synthetic web_pages corpus) -> canonical DataFrames
- ``operators``  the KG pipeline stages (term dictionary, mention linking,
                 hierarchy optimiser, triples, crawl dedup, analyzer)
- ``plans``      stage runner with lineage + checkpoint/resume
- ``streaming``  incremental (Trigger.AvailableNow-style) wrappers
"""

__version__ = "0.1.0"
