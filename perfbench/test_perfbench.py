"""The benchmark's own test: a tiny corpus and the sf0.01 tables through
every workload's code path.

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that every metric the benchmark declares is printed with its unit,
that the query tables are the test data and hold near-duplicates, and
that a corrupted output is counted as a failed op.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import os
from pathlib import Path

import pytest

from perfbench import bench, datagen

TINY = bench.Sizes(corpus_files=2, corpus_chars=4_000,
                   warmup_passes=1, min_passes=2, setup_samples=1)


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench-work")
    bench.prepare_env(work)
    yield work
    bench.stop_spark()


def _declared() -> dict:
    with open(bench.ROOT / "BENCHMARK.json", encoding="utf-8") as fh:
        return json.load(fh)


def test_declared_metrics_match_code():
    spec = _declared()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == bench.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == bench.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS)


def test_tables_are_the_test_data():
    """The committed tables are byte copies of the repository's sf0.01
    test data, where that data is present."""
    tables = importlib.import_module(f"{bench.PACKAGE}.sources.tables")
    src = Path(tables.DEFAULT_SF_DIR).parent / "sf0.01"
    if not src.is_dir():
        pytest.skip(f"{src} not present")
    for name in bench.TABLES:
        ours = Path(datagen.TABLES_DIR) / f"{name}.parquet"
        assert hashlib.sha256(ours.read_bytes()).digest() == \
            hashlib.sha256((src / f"{name}.parquet").read_bytes()).digest(), name


def test_dedup_oracles_find_near_duplicates(work):
    """The documents carry near-duplicate clusters, so the dedup queries'
    candidate and verify paths, and their oracles, see real pairs."""
    run = bench.Run("queries", seed=9, seconds=0.1, trace=False, sizes=TINY, work=work)
    run.prepare_inputs()
    run.setup()
    run._load_normalize()
    for name in ("dedup_cc_two_phase", "dedup_ppjoin_shingles"):
        assert name in run.items
        _, rows = run._oracle_rows(name)
        assert len(rows) >= 10, (name, len(rows))


@pytest.mark.parametrize("workload", list(bench.WORKLOADS))
@pytest.mark.parametrize("trace", [False, True])
def test_tiny_run_prints_every_metric(work, workload, trace):
    run = bench.Run(workload, seed=7, seconds=0.1, trace=trace, sizes=TINY, work=work)
    result = run.execute()
    assert result["failed"] == 0, run.ops.failures
    assert result["correct"] and result["attempted"] >= 1
    names = bench.PER_LAYER if trace else bench.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(names)
    lines = run.report_lines()
    for name, unit in names:
        assert any(line.startswith(f"{workload}/{name} = ") and f" {unit}" in line
                   for line in lines), name
    if trace and workload == "mr_jobs":
        m = result["metrics"]
        assert m["mapreduce.sequential_s"]["value"] > 0
        assert m["mapreduce.parallel_s"]["value"] > 0
    json.dumps(result)


def test_corrupted_outputs_count_as_failed(work):
    run = bench.Run("mr_jobs", seed=8, seconds=0.1, trace=False, sizes=TINY, work=work)
    assert run.execute()["failed"] == 0
    before = run.ops.failed
    run.outputs["wc"] = ["corrupted 1"] + run.outputs["wc"][1:]
    part = sorted(p for p in os.listdir(run.out_dir) if p.startswith("part-"))[0]
    with open(os.path.join(run.out_dir, part), "a", encoding="utf-8") as fh:
        fh.write("corrupted 1 pg-0000.txt\n")
    run.verify()
    assert run.ops.failed == before + 2

    run = bench.Run("queries", seed=8, seconds=0.1, trace=False, sizes=TINY, work=work)
    assert run.execute()["failed"] == 0
    name = "q5_nation_revenue"
    cols, rows = run.collected[name]
    run.collected[name] = (cols, rows + rows[:1])
    before = run.ops.failed
    run.verify()
    assert run.ops.failed == before + 1
    assert any(name in f for f in run.ops.failures)
