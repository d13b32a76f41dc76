"""Central query registry: the contract between operator modules and the
driver entrypoint (``__spark_entry__.py``).

Every operator registers a ``(spark, sf_dir) -> DataFrame`` callable and,
when SQL-expressible, a DuckDB oracle SQL string over the pre-registered
views (region nation customer supplier part orders lineitem events
documents embeddings). Column names/aliases MUST match between the two —
the driver sorts columns by name and hash-compares values.

Every registered query has an oracle, and ``tests/test_oracles.py``
checks each one against it, so no query's place in the registry
matters: ``QUERIES`` keeps the order in which ``load_all`` imports the
operator modules.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name`` with its DuckDB ``oracle`` SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module for its registration side effects;
    the registry keeps import order."""
    from .mapreduce import apps  # noqa: F401
    from .operators import (  # noqa: F401
        avro_container,
        behavior,
        bloom,
        clusters,
        crawl,
        curation,
        curation2,
        curation3,
        curation4,
        curation5,
        dedup,
        dedup2,
        dispatch2,
        dispatch3,
        evaluation,
        graphs2,
        ingest_csv,
        ivm,
        kv,
        lakehouse,
        layout,
        market,
        multimodal,
        multimodal2,
        multimodal3,
        multimodal4,
        multimodal5,
        multimodal6,
        multimodal7,
        multimodal8,
        multimodal9,
        multimodal10,
        multimodal11,
        multimodal12,
        multimodal13,
        multimodal14,
        parquet_footer,
        pipelines,
        privacy,
        projection,
        relational,
        relational2,
        relational3,
        relational4,
        retrieval,
        scaleops,
        sessions,
        similarity,
        sketches2,
        stats2,
        stream_projections,
        tensors,
        tfrecord,
        text,
        timeseries,
        udafs,
        vocab,
        warc_ingest,
    )
