"""etl_file_sync_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference repo nineking424/etl-file-sync (a Kafka->FTP file-sync ETL
service), re-expressed Spark-first:

- ``pipeline/``  — reference-parity face: job-message parse/validate/enrich
  (Structured Streaming or batch manifest), pluggable transfer handlers
  (local/FTP) with per-executor connection pooling, DLQ routing.
- ``queries/``   — the relational/analytics face: a registry of named
  queries (DataFrame builders + ANSI-SQL oracles) spanning scans, joins,
  aggregations, windows, set ops, scalar functions and streaming windows.
- ``operators/`` — LLM-data-pipeline operators: dedup (exact, MinHash-LSH,
  SimHash, n-gram Jaccard, embedding-cosine), similarity search, text
  analysis, multimodal binary columns, as-of/range joins.
- ``streaming/`` — the scoped event replay that streaming queries run
  over, and the restart-idempotent foreachBatch upsert.
- ``sources/``   — the ``events_replay`` streaming Python Data Source.
- ``functions/`` — reusable Column-expression builders, including the
  numeric-string cast grammar shared with the oracles.

Everything is built on public Apache Spark APIs, apart from the one
private JVM handle that operators/bpe.py reads (pinned by
tests/test_private_api.py).
"""

__version__ = "0.1.0"
