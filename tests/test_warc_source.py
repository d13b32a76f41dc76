"""Tests for the warcfile Python Data Source (sources/warcfiles.py):
per-record rows, per-shard task granularity, record parity with the
direct walk, and the ingest query's fixture materialization."""

from __future__ import annotations

import os

from mit_6_5840_mapreduce_with_go_spark.operators import warc_ingest as W
from mit_6_5840_mapreduce_with_go_spark.operators.multimodal10 import (
    _warc_crawl,
    decode_warc_gz,
    decode_warc,
    encode_warc_record,
)
from mit_6_5840_mapreduce_with_go_spark.sources import read_warc_source


def _write_shards(tmp_path, doc_ids, n_shards=3):
    for s in range(n_shards):
        with open(tmp_path / f"shard-{s}.warc.gz", "wb") as fh:
            for d in doc_ids:
                if d % n_shards == s:
                    fh.write(_warc_crawl(d))


def test_one_partition_per_shard_and_record_rows(spark, tmp_path):
    doc_ids = list(range(12))
    _write_shards(tmp_path, doc_ids)
    df = read_warc_source(spark, str(tmp_path / "*.warc.gz"))
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    expected = sum(2 * (1 + d % 3) + 1 for d in doc_ids)
    assert len(rows) == expected
    # record parity with the direct walk, per shard, in order
    by_file: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["file"], r["rec_index"])):
        by_file.setdefault(r["file"], []).append(r)
    for fname, frows in by_file.items():
        with open(tmp_path / fname, "rb") as fh:
            direct = decode_warc_gz(fh.read())
        assert [r["record_id"] for r in frows] == [
            d["record_id"] for d in direct
        ]
        assert [bytes(r["content"]) for r in frows] == [
            d["content"] for d in direct
        ]
        assert [r["rec_index"] for r in frows] == list(range(len(direct)))


def test_uncompressed_warc_also_reads(spark, tmp_path):
    rec = encode_warc_record(
        "response", b"hello", record_id="7-0-resp", target_uri="http://x/y"
    )
    with open(tmp_path / "plain.warc", "wb") as fh:
        fh.write(rec)
    rows = read_warc_source(spark, str(tmp_path / "*.warc")).collect()
    assert len(rows) == 1
    assert rows[0]["warc_type"] == "response"
    assert bytes(rows[0]["content"]) == b"hello"
    assert decode_warc(rec)[0]["content"] == b"hello"


def test_missing_glob_fails_loudly(spark, tmp_path):
    df = read_warc_source(spark, str(tmp_path / "none" / "*.warc.gz"))
    try:
        df.collect()
        raise AssertionError("expected read failure for empty glob")
    except Exception as exc:  # Py4J wraps the FileNotFoundError
        assert "no files match" in str(exc)


def test_shard_fixture_materialization_is_idempotent():
    sf = "/root/testdata/sf0.001"
    d1 = W._shard_dir(sf)
    mtimes = {
        f: os.path.getmtime(os.path.join(d1, f)) for f in os.listdir(d1)
    }
    d2 = W._shard_dir(sf)
    assert d1 == d2
    assert mtimes == {
        f: os.path.getmtime(os.path.join(d2, f)) for f in os.listdir(d2)
    }
    assert len(mtimes) == W._N_SHARDS


def test_materialize_keeps_a_racing_copy_and_raises_otherwise(
    tmp_path, monkeypatch
):
    """A failed rename is a lost race only when the final directory
    exists; any other failure surfaces, and no tmp dir is left."""
    import pytest

    from mit_6_5840_mapreduce_with_go_spark import fixtures

    monkeypatch.setattr(fixtures, "FIXTURE_ROOT", str(tmp_path))
    final = tmp_path / "t"

    def rival_wins(tmp):  # another session renames its copy in first
        (tmp_path / "t").mkdir()
        (tmp_path / "t" / "theirs").write_text("x")
        open(os.path.join(tmp, "mine"), "w").close()

    assert fixtures.materialize("t", rival_wins) == str(final)
    assert os.listdir(final) == ["theirs"]
    assert fixtures.materialize("t", None) == str(final)  # built: no call

    def tmp_vanishes(tmp):  # rename fails, and nothing is in place
        os.rmdir(tmp)

    with pytest.raises(FileNotFoundError):
        fixtures.materialize("u", tmp_vanishes)
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_source_stats_match_payload_column_walk(spark):
    """File-source-vs-payload-column parity: the ingest query over the
    shard files equals mm_decode_warc_stats over the synthesized
    payload column (both driver-green against the same oracle)."""
    from mit_6_5840_mapreduce_with_go_spark.operators.multimodal10 import (
        mm_decode_warc_stats,
    )

    sf = "/root/testdata/sf0.001"
    a = {r["doc_id"]: r.asDict() for r in W.mm_warc_source_stats(spark, sf).collect()}
    b = {r["doc_id"]: r.asDict() for r in mm_decode_warc_stats(spark, sf).collect()}
    assert a == b


def test_wet_crawl_formulas():
    """Pure-Python check of the WET planting formulas the oracle
    re-derives (conversion records, refers-to provenance)."""
    from mit_6_5840_mapreduce_with_go_spark.operators.multimodal10 import (
        decode_warc_gz,
    )

    for doc_id in (0, 1, 3, 7, 499):
        recs = decode_warc_gz(W._wet_crawl(doc_id))
        k = 1 + doc_id % 4
        assert len(recs) == 1 + k
        assert recs[0]["type"] == "warcinfo" and recs[0]["refers_to"] is None
        convs = [r for r in recs if r["type"] == "conversion"]
        assert len(convs) == k
        for s, r in enumerate(convs):
            toks = [int(t) for t in r["content"].split(b" ")]
            assert toks == W._wet_tokens(doc_id, s)
            assert r["uri"] == f"http://ex.com/d{doc_id}/{s}"
            assert r["refers_to"] == f"<urn:uuid:{doc_id}-{s}-resp>"
