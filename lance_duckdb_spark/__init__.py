"""lance_duckdb_spark — a PySpark-native analytics engine with the
capabilities of the lancedb/lance-duckdb DuckDB extension.

The reference (/root/reference) exposes the Lance versioned dataset
format to DuckDB via a ``lance_scan`` table function plus a writer
(rust/lib.rs, src/lance_scan.cpp); the query surface on top is full
SQL. This package re-expresses both Spark-first:

- ``sources/`` — a Spark Python DataSource ("lance") implementing
  the Lance dataset model (versioned manifests + immutable
  fragments) with pushdown, pruning, fragment-parallel scans,
  append/overwrite writes and time travel.
- ``operators/`` — the SQL analytics surface (SURVEY.md §2.B) and
  the training-data-pipeline operators (§2.C) as declarative
  DataFrame builders that Catalyst can optimize.
- ``streaming/`` — Structured Streaming jobs (§2.D).
"""

from . import pyworker  # noqa: F401  (first: patches zipimport in workers)

__version__ = "0.1.0"
