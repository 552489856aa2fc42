"""pdf_parser_spark — a from-scratch PySpark-native document-extraction engine.

Re-expresses the capabilities of the reference PDF extraction service
(Quotus-dev/pdf-parser, surveyed in /root/repo/SURVEY.md) as an idiomatic
Spark DataFrame job:

- ``kernels/``   pure per-document Python/numpy kernels (no Spark imports).
  These are the single source of truth for extraction semantics; only the
  single-process oracle (``oracle.py``) routes between them.
- ``operators/`` the fused mapInPandas stage over Arrow record batches
  (never per-row Python UDFs). It calls ``oracle.extract_document``, not
  the kernels, so byte-identity between oracle and pipeline is by
  construction and tests guard against batching drift.
- ``sources/``   IO facade (Iceberg-when-available, parquet fallback),
  lineage sidecar, checkpoint-resume.
- ``functions/`` training-data-pipeline operators: dedup (exact / MinHash-LSH
  / SimHash / n-gram Jaccard), similarity search, text quality/lang-id,
  multimodal column plumbing.
- ``synth.py``   deterministic Common-Crawl-style corpus generator
  (FIXTURES.md schemas).
"""

__version__ = "0.1.0"
