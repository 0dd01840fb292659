"""isimip_qa_spark — a from-scratch PySpark-native web-text QA engine.

Recasts the per-dataset check/assessment pattern of ISI-MIP/isimip-qa
(reference at /root/reference: extractions = incremental aggregations,
regions/periods = scopes, artifacts = cached results, plots = second-stage
rollups) as a partition-parallel quality-filter DAG over Common-Crawl-style
page tables, built on the DataFrame API only (no RDDs, no custom Catalyst
rules).

Layout:
  session     — tuned SparkSession factory (AQE, Arrow, UTC)
  catalog     — table IO with explicit schemas (Iceberg-swappable)
  functions/  — column-expression + pandas-UDF building blocks
  operators/  — reference-operator twins, dedup, ANN, multimodal
  queries/    — registry of (Spark query, DuckDB oracle SQL) pairs
  plans/      — QA stage DAG, checkpointing, skew salting, lineage
  sources/    — deterministic synthetic pages generator
  streaming/  — Structured Streaming variant of the metrics stage
"""

import os

__version__ = "0.1.0"

# Inside a PySpark Python worker (its env carries the factory secret; the
# driver's does not), the package's first import, which unpickling any of
# its UDFs does, installs the zip directory keeper for the rest of the
# worker process: see session.keep_unchanged_zip_dirs.
if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
    from .session import keep_unchanged_zip_dirs

    keep_unchanged_zip_dirs()
