"""PySpark-native analytics engine with the query and data-processing
capabilities of maisonhai3/MIT-6-5840-MapReduce-with-Go.

The reference is a MapReduce engine (reference: src/mr/coordinator.go,
src/mr/worker.go) with pluggable Map/Reduce query apps (src/mrapps/) plus a
declared versioned-KV / sharding surface (src/kvsrv1/, src/shardkv1/).
This package re-expresses that surface Spark-first:

- ``mapreduce/``  — the generic gather-all Map/Reduce API (reference parity)
- ``operators/``  — DataFrame-native relational, dedup, similarity, text ops
- ``sources/``    — parquet table loaders for the driver testdata
- ``functions/``  — shared column expressions (hashing, vectors, tokenize)
- ``streaming/``  — Structured Streaming twins (windowed aggs, KV state)
- ``plans/``      — plan-inspection helpers (pushdown / broadcast asserts)

Everything is public PySpark API; no custom Catalyst extensions are needed
(reference has no optimizer at all — SURVEY.md §4.1).
"""

from . import _pyworker  # noqa: F401  (per-task zipimport cost; see module)

__version__ = "0.1.0"
