"""Crawl ingest through the ``warcfile`` Data Source (sources/
warcfiles.py): WARC records read from real ``.warc.gz`` shard FILES,
then aggregated with plain JVM-side DataFrame code.

``mm_decode_warc_stats`` (multimodal10) proves the record walk over a
payload column; this module proves the FILE leg a Common-Crawl-shaped
pipeline actually starts from.  The shard fixtures are materialized
once per scale factor under ``<repo>/.warc_shards/<sf>/`` from the same
planted-crawl formula (`_warc_crawl`), doc_id % N_SHARDS per shard,
written atomically by ``fixtures.materialize``.  The oracle is
byte-for-byte the ``mm_decode_warc_stats`` oracle — the two queries
must agree with DuckDB *and therefore with each other*, pinning
source-vs-column parity.

Everything after the source is declarative: doc_id recovered with a
JVM regexp from the record id, token statistics via
``aggregate(transform(split(...)))`` — no Python in the aggregation
path, so Catalyst/WSCG own the hot loop and the one shuffle is the
final per-doc groupBy.

Scale shape: one input partition per shard (the CC-MAIN unit, ~1 GB in
the wild), record parsing executor-side, a single hash aggregation on
doc_id.  At 1000 executors this is the canonical crawl-ingest DAG.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import materialize
from ..registry import query
from .multimodal10 import _warc_crawl

_N_SHARDS = 8


def _doc_ids(sf_dir: str) -> list[int]:
    import pyarrow.parquet as pq

    return sorted(
        int(d)
        for d in pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
        )["doc_id"].to_pylist()
    )


def _shard_dir(
    sf_dir: str, variant: str = "", builder=None, ext: str = ".warc.gz"
) -> str:
    """Materialize (once, atomically) the shard fixtures for ``sf_dir``
    and return their directory.  ``variant`` namespaces alternate
    corpora (e.g. the WET or TFRecord shards); ``builder(doc_id) ->
    bytes`` defaults to the response-crawl builder."""
    if builder is None:
        builder = _warc_crawl

    def build(tmp: str) -> None:
        doc_ids = _doc_ids(sf_dir)
        for s in range(_N_SHARDS):
            with open(os.path.join(tmp, f"shard-{s:03d}{ext}"), "wb") as fh:
                for d in doc_ids:
                    if d % _N_SHARDS == s:
                        fh.write(builder(d))

    tag = os.path.basename(os.path.normpath(sf_dir)) + variant
    return materialize(tag, build)


# Token-sum over a planted space-joined-int body, entirely JVM-side.
_TOKEN_SUM = (
    "aggregate(transform(split(cast(content as string), ' '), "
    "x -> cast(x as bigint)), cast(0 as bigint), (a, x) -> a + x)"
)


@query(
    "mm_warc_source_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 1 + doc_id % 3 AS k FROM documents),
    fet AS (
      SELECT doc_id, k, t.i - 1 AS s,
             10 + (doc_id + t.i - 1) % 7 AS n
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS t(i)),
    tok AS (
      SELECT doc_id, s, n,
             (doc_id * 7 + s * 3 + (u.j - 1) * 13) % 1000 AS v
      FROM fet, unnest(generate_series(1, CAST(n AS INT))) AS u(j)),
    resp AS (
      SELECT doc_id, s, n,
             sum(v) AS tok_sum,
             sum(length(CAST(v AS VARCHAR))) + n - 1 AS body_bytes
      FROM tok GROUP BY doc_id, s, n),
    agg AS (
      SELECT doc_id,
             sum(n) AS resp_n_tokens,
             sum(tok_sum) AS resp_token_sum,
             sum(body_bytes) AS resp_bytes,
             sum(length('http://ex.com/d' || CAST(doc_id AS VARCHAR)
                        || '/' || CAST(s AS VARCHAR))) AS uri_len_sum,
             sum(length('GET /d' || CAST(doc_id AS VARCHAR)
                        || '/' || CAST(s AS VARCHAR))) AS req_bytes
      FROM resp GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(1 + 2 * d.k AS BIGINT) AS n_records,
           CAST(d.k AS BIGINT) AS n_responses,
           CAST(agg.resp_n_tokens AS BIGINT) AS resp_n_tokens,
           CAST(agg.resp_token_sum AS BIGINT) AS resp_token_sum,
           CAST(agg.resp_bytes AS BIGINT) AS resp_bytes,
           CAST(agg.req_bytes AS BIGINT) AS req_bytes,
           CAST(agg.uri_len_sum AS BIGINT) AS uri_len_sum,
           CAST(length('software: sparkgraft/'
                       || CAST(d.doc_id AS VARCHAR)) AS BIGINT) AS info_bytes
    FROM d JOIN agg ON agg.doc_id = d.doc_id
    """,
)
def mm_warc_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl-shaped FILE ingest end-to-end: the planted crawls
    live in real multi-member ``.warc.gz`` shard files, read through the
    ``warcfile`` Python Data Source (one partition per shard, record
    rows with binary bodies), then aggregated per document with pure
    JVM expressions — regexp doc-id recovery, ``octet_length`` byte
    counts, ``aggregate(transform(split(...)))`` token sums.  The
    DuckDB oracle is identical to ``mm_decode_warc_stats``'s, pinning
    file-source-vs-payload-column parity."""
    from ..sources.warcfiles import read_warc_source

    shards = os.path.join(_shard_dir(sf_dir), "*.warc.gz")
    recs = read_warc_source(spark, shards)
    doc_id = F.regexp_extract("record_id", r"urn:uuid:(\d+)-", 1).cast("long")
    is_resp = F.col("warc_type") == "response"
    is_req = F.col("warc_type") == "request"
    is_info = F.col("warc_type") == "warcinfo"
    zero = F.lit(0).cast("long")
    return (
        recs.withColumn("doc_id", doc_id)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_records"),
            F.sum(F.when(is_resp, 1).otherwise(0)).alias("n_responses"),
            F.sum(
                F.when(
                    is_resp, F.size(F.split(F.col("content").cast("string"), " "))
                ).otherwise(0)
            ).alias("resp_n_tokens"),
            F.sum(F.when(is_resp, F.expr(_TOKEN_SUM)).otherwise(zero)).alias(
                "resp_token_sum"
            ),
            F.sum(
                F.when(is_resp, F.octet_length("content")).otherwise(0)
            ).alias("resp_bytes"),
            F.sum(
                F.when(is_req, F.octet_length("content")).otherwise(0)
            ).alias("req_bytes"),
            F.sum(F.when(is_resp, F.length("uri")).otherwise(0)).alias(
                "uri_len_sum"
            ),
            F.max(F.when(is_info, F.octet_length("content"))).alias(
                "info_bytes"
            ),
        )
        .select(
            "doc_id",
            F.col("n_records").cast("long").alias("n_records"),
            F.col("n_responses").cast("long").alias("n_responses"),
            F.col("resp_n_tokens").cast("long").alias("resp_n_tokens"),
            F.col("resp_token_sum").cast("long").alias("resp_token_sum"),
            F.col("resp_bytes").cast("long").alias("resp_bytes"),
            F.col("req_bytes").cast("long").alias("req_bytes"),
            F.col("uri_len_sum").cast("long").alias("uri_len_sum"),
            F.col("info_bytes").cast("long").alias("info_bytes"),
        )
    )


# --------------------------------------------------------------------------
# WET (extracted-text) shards through the same file source.  A WET file
# is a WARC whose records are ``conversion`` records: extracted plain
# text, WARC-Target-URI naming the page, WARC-Refers-To linking back to
# the source response record (the Common-Crawl *.warc.wet.gz layout).
# This is the corpus an LLM text pipeline actually ingests first.
# --------------------------------------------------------------------------


def _wet_tokens(doc_id: int, s: int) -> list[int]:
    n = 8 + (doc_id + 2 * s) % 9
    return [(doc_id * 11 + s * 5 + i * 7) % 1000 for i in range(n)]


def _wet_crawl(doc_id: int) -> bytes:
    """One .warc.wet.gz mini-shard for ``doc_id``: warcinfo + one
    conversion record per fetched page, one gzip member per record."""
    from .multimodal9 import encode_gzip_member
    from .multimodal10 import encode_warc_record

    k = 1 + doc_id % 4
    members = [
        encode_gzip_member(
            encode_warc_record(
                "warcinfo",
                f"software: sparkgraft-wet/{doc_id}".encode(),
                record_id=f"{doc_id}-wetinfo",
                content_type="application/warc-fields",
            )
        )
    ]
    for s in range(k):
        text = " ".join(str(v) for v in _wet_tokens(doc_id, s)).encode()
        members.append(
            encode_gzip_member(
                encode_warc_record(
                    "conversion",
                    text,
                    record_id=f"{doc_id}-{s}-conv",
                    target_uri=f"http://ex.com/d{doc_id}/{s}",
                    refers_to=f"{doc_id}-{s}-resp",
                    content_type="text/plain",
                )
            )
        )
    return b"".join(members)


@query(
    "mm_wet_source_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 1 + doc_id % 4 AS k FROM documents),
    conv AS (
      SELECT doc_id, k, t.i - 1 AS s,
             8 + (doc_id + 2 * (t.i - 1)) % 9 AS n
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS t(i)),
    tok AS (
      SELECT doc_id, s, n,
             (doc_id * 11 + s * 5 + (u.j - 1) * 7) % 1000 AS v
      FROM conv, unnest(generate_series(1, CAST(n AS INT))) AS u(j)),
    body AS (
      SELECT doc_id, s, n,
             sum(v) AS tok_sum,
             sum(length(CAST(v AS VARCHAR))) + n - 1 AS text_bytes
      FROM tok GROUP BY doc_id, s, n),
    agg AS (
      SELECT doc_id,
             sum(n) AS n_tokens,
             sum(tok_sum) AS token_sum,
             sum(text_bytes) AS text_bytes,
             sum(length('http://ex.com/d' || CAST(doc_id AS VARCHAR)
                        || '/' || CAST(s AS VARCHAR))) AS uri_len_sum,
             sum(length('<urn:uuid:' || CAST(doc_id AS VARCHAR) || '-'
                        || CAST(s AS VARCHAR) || '-resp>')) AS refers_len_sum
      FROM body GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(1 + d.k AS BIGINT) AS n_records,
           CAST(d.k AS BIGINT) AS n_conversions,
           CAST(agg.n_tokens AS BIGINT) AS n_tokens,
           CAST(agg.token_sum AS BIGINT) AS token_sum,
           CAST(agg.text_bytes AS BIGINT) AS text_bytes,
           CAST(agg.uri_len_sum AS BIGINT) AS uri_len_sum,
           CAST(agg.refers_len_sum AS BIGINT) AS refers_len_sum
    FROM d JOIN agg ON agg.doc_id = d.doc_id
    """,
)
def mm_wet_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET (extracted-text) FILE ingest through the ``warcfile`` source:
    conversion records with WARC-Refers-To provenance links, read from
    real multi-member ``.warc.wet.gz`` shards (one partition per shard)
    and aggregated per document entirely JVM-side — token counts/sums
    via ``aggregate(transform(split(...)))`` over the extracted text,
    byte and URI/provenance-length totals, record-type census.  The
    oracle re-derives everything from the planting formulas; a
    refers-to mis-parse or conversion-record mis-walk breaks the hash.

    Scale shape: identical to ``mm_warc_source_stats`` — the WET sweep
    at 100 TB is this exact DAG over ~100k one-partition shards."""
    from ..sources.warcfiles import read_warc_source

    shards = os.path.join(
        _shard_dir(sf_dir, variant="-wet", builder=_wet_crawl), "*.warc.gz"
    )
    recs = read_warc_source(spark, shards)
    doc_id = F.regexp_extract("record_id", r"urn:uuid:(\d+)-", 1).cast("long")
    is_conv = F.col("warc_type") == "conversion"
    zero = F.lit(0).cast("long")
    return (
        recs.withColumn("doc_id", doc_id)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_records"),
            F.sum(F.when(is_conv, 1).otherwise(0)).alias("n_conversions"),
            F.sum(
                F.when(
                    is_conv, F.size(F.split(F.col("content").cast("string"), " "))
                ).otherwise(0)
            ).alias("n_tokens"),
            F.sum(F.when(is_conv, F.expr(_TOKEN_SUM)).otherwise(zero)).alias(
                "token_sum"
            ),
            F.sum(
                F.when(is_conv, F.octet_length("content")).otherwise(0)
            ).alias("text_bytes"),
            F.sum(F.when(is_conv, F.length("uri")).otherwise(0)).alias(
                "uri_len_sum"
            ),
            F.sum(F.when(is_conv, F.length("refers_to")).otherwise(0)).alias(
                "refers_len_sum"
            ),
        )
        .select(
            "doc_id",
            F.col("n_records").cast("long").alias("n_records"),
            F.col("n_conversions").cast("long").alias("n_conversions"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("token_sum").cast("long").alias("token_sum"),
            F.col("text_bytes").cast("long").alias("text_bytes"),
            F.col("uri_len_sum").cast("long").alias("uri_len_sum"),
            F.col("refers_len_sum").cast("long").alias("refers_len_sum"),
        )
    )
