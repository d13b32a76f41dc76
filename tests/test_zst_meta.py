"""Seek-table-ONLY zstfile scan (VERDICT r11 #1): ``mode=meta`` reads
each shard's seek table via tail seeks and never touches frame bodies.

Proofs: (1) shards whose EVERY frame payload is corrupted (magic
zeroed) under intact seek tables scan fine in meta mode with
table-true sizes, while any full/decoding read raises; (2) meta mode
on a table-less shard is a loud error, never a silent full decode;
(3) content_len pushdown prunes table entries in meta mode too; (4)
the registered census query matches the full-decode census of the
uncorrupted twin fixtures (its DuckDB oracle compare is
test_oracles.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mit_6_5840_mapreduce_with_go_spark.operators import multimodal14 as M14
from mit_6_5840_mapreduce_with_go_spark.sources.zstfiles import (
    parse_seek_table,
    read_zst_meta,
    read_zst_source,
    write_seekable_shard,
)


def _corrupt_shard(tmp_path, docs=(3, 123, 7)):
    """Seekable shard whose every frame magic is zeroed: decodable by
    nothing, meta-scannable by construction."""
    frames, contents = zip(*(M14._zstd_entropy_frame_and_content(d) for d in docs))
    payload = bytearray(write_seekable_shard(list(frames), list(contents)))
    for en in parse_seek_table(bytes(payload)):
        payload[en["c_off"] : en["c_off"] + 4] = b"\x00\x00\x00\x00"
    p = tmp_path / "shard.zst"
    p.write_bytes(bytes(payload))
    return p, list(frames), list(contents)


def test_meta_scan_never_decodes_corrupt_payload_proof(spark, tmp_path):
    p, frames, contents = _corrupt_shard(tmp_path)
    rows = sorted(
        read_zst_meta(spark, str(p)).collect(), key=lambda r: r["frame_index"]
    )
    assert [(r["frame_index"], r["content_len"], r["compressed_len"]) for r in rows] == [
        (i, len(c), len(f)) for i, (f, c) in enumerate(zip(frames, contents))
    ]
    # frame_offset is the cumulative compressed offset
    offs = [r["frame_offset"] for r in rows]
    assert offs == [sum(len(f) for f in frames[:i]) for i in range(len(frames))]
    # the same shard is NOT decodable: any full read raises
    with pytest.raises(Exception):
        read_zst_source(spark, str(p)).collect()


def test_meta_mode_requires_seek_table(spark, tmp_path):
    frames, _ = zip(*(M14._zstd_entropy_frame_and_content(d) for d in (3, 123)))
    p = tmp_path / "plain.zst"
    p.write_bytes(b"".join(frames))  # no seek table
    with pytest.raises(Exception, match="seek table"):
        read_zst_meta(spark, str(p)).collect()


def test_meta_scan_pushdown_band(spark, tmp_path):
    """content_len comparisons prune the TABLE in meta mode (the
    corrupt payloads guarantee nothing is ever decoded either way)."""
    p, _, contents = _corrupt_shard(tmp_path)
    sizes = sorted(len(c) for c in contents)
    lo, hi = sizes[0] + 1, sizes[2] - 1  # keep only the middle frame
    df = read_zst_meta(spark, str(p)).where(
        F.col("content_len").between(lo, hi)
    )
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not [
        ln for ln in plan.splitlines() if re.match(r"^[\s+:*()\-\d]*Filter\b", ln)
    ], plan
    got = df.collect()
    assert [r["content_len"] for r in got] == [sizes[1]]


def test_meta_census_query_matches_full_decode_census(spark, sf_dir):
    """The registered census over the corrupt-payload fixture equals
    the groupBy-file census of the FULL-decode source over the
    uncorrupted twin corpus — table-derived metadata == decode-derived
    metadata."""
    from mit_6_5840_mapreduce_with_go_spark.operators.multimodal14 import (
        mm_zst_meta_census,
        mm_zst_source_stats,
    )

    got = {
        r["file"]: (
            r["n_frames"],
            r["total_content_len"],
            r["min_content_len"],
            r["max_content_len"],
        )
        for r in mm_zst_meta_census(spark, sf_dir).collect()
    }
    want = {
        r["file"]: (
            r["n_frames"],
            r["total_content_len"],
            r["min_content_len"],
            r["max_content_len"],
        )
        for r in mm_zst_source_stats(spark, sf_dir)
        .groupBy("file")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("content_len").alias("total_content_len"),
            F.min("content_len").alias("min_content_len"),
            F.max("content_len").alias("max_content_len"),
        )
        .collect()
    }
    assert got == want and got


def test_meta_census_fixture_is_undecodable(spark, sf_dir):
    """The census fixture itself (not just a synthetic shard) must
    raise under any decoding read — this is what makes the driver-green
    census row an adversarial proof."""
    import os

    from mit_6_5840_mapreduce_with_go_spark.operators.multimodal14 import (
        _meta_census_dir,
    )

    shards = os.path.join(_meta_census_dir(sf_dir), "*.zst")
    with pytest.raises(Exception):
        read_zst_source(spark, shards).collect()


def test_tail_reader_never_touches_the_frame_area(tmp_path):
    """I/O proof without Spark: a file object that RAISES on any read
    below the seek-table region still satisfies read_seek_table_tail —
    the reader's I/O is footer + table, proportional to the frame
    count, not the corpus."""
    import io

    from mit_6_5840_mapreduce_with_go_spark.sources.zstfiles import (
        read_seek_table_tail,
    )

    frames, contents = zip(
        *(M14._zstd_entropy_frame_and_content(d) for d in (3, 123, 7))
    )
    payload = write_seekable_shard(list(frames), list(contents))
    entries = parse_seek_table(payload)
    frame_area_end = entries[-1]["c_off"] + entries[-1]["c_size"]

    class TailOnly(io.BytesIO):
        def read(self, n=-1):
            if self.tell() < frame_area_end:
                raise AssertionError(
                    f"read at {self.tell()} inside the frame area "
                    f"(< {frame_area_end})"
                )
            return super().read(n)

    got = read_seek_table_tail(TailOnly(payload))
    assert got == entries
