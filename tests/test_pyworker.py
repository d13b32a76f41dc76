"""The Python-worker layer: the zipimport patch in ``_pyworker`` (one
directory read per unchanged archive across
``importlib.invalidate_caches()``, and a changed archive is still
re-read; no Spark needed), and the worker settings of
``session.get_spark``: Unix sockets, the package's frozen-heap daemon,
and workers that import the package from any working directory."""

from __future__ import annotations

import importlib
import importlib.util
import os
import shutil
import subprocess
import sys
import tempfile
import textwrap
import zipfile
import zipimport

import pytest

import mit_6_5840_mapreduce_with_go_spark  # noqa: F401  (installs the patch)
from mit_6_5840_mapreduce_with_go_spark import session

PATCHED = sys.version_info < (3, 13)
REPO_ROOT = os.path.dirname(os.path.dirname(mit_6_5840_mapreduce_with_go_spark.__file__))
MODULES = ("zpa", "zpa.sub", "zpa.sub.leaf", "zpb", "zpb.leaf", "zp_gone", "zp_new")


def _write_zip(path, extra: dict[str, str]) -> None:
    members = {
        "zpa/__init__.py": "",
        "zpa/sub/__init__.py": "",
        "zpa/sub/leaf.py": "X = 1\n",
        "zpb/__init__.py": "",
        "zpb/leaf.py": "X = 2\n",
        **extra,
    }
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "pkgs.zip")
    _write_zip(path, {"zp_gone.py": "X = 3\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in MODULES:
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch, archive: str) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_patch_installed_only_before_313():
    owner = zipimport.zipimporter.invalidate_caches.__module__
    assert owner == ("mit_6_5840_mapreduce_with_go_spark._pyworker" if PATCHED else "zipimport")


def test_unchanged_archive_read_at_most_once(archive, monkeypatch):
    importlib.import_module("zpa.sub.leaf")
    importlib.import_module("zpb.leaf")
    importers = [
        imp
        for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
    ]
    assert len(importers) >= 3  # the archive root, zpa, zpa/sub, zpb

    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(reads) <= 1
    importlib.invalidate_caches()
    assert len(reads) <= 1
    assert importlib.import_module("zp_gone").X == 3


def test_rewritten_archive_is_reread(archive):
    importlib.import_module("zpa.sub.leaf")
    importlib.invalidate_caches()
    assert importlib.util.find_spec("zp_gone") is not None
    assert importlib.util.find_spec("zp_new") is None

    _write_zip(archive, {"zp_new.py": "X = 4\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zp_new").X == 4
    assert importlib.util.find_spec("zp_gone") is None
    with pytest.raises(ImportError):
        importlib.import_module("zp_gone")


def test_session_uses_unix_sockets_and_package_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    assert conf.get("spark.python.daemon.module") == "mit_6_5840_mapreduce_with_go_spark._daemon"
    assert REPO_ROOT in conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)


def test_workers_fork_from_frozen_patched_daemon(spark):
    """Every task runs in a worker forked from the package daemon: the
    import-time heap is frozen (the per-task gc.collect() skips it), and
    the zipimport patch was in place before the worker's first task, so
    its first invalidate_caches() here reads no archive."""

    def probe(_):
        import gc
        import importlib
        import os
        import zipimport

        real = zipimport._read_directory
        reads: list[str] = []
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as fh:
            daemon_argv = fh.read().decode().split("\0")
        return os.getpid(), gc.get_freeze_count(), daemon_argv, len(reads)

    got = spark.sparkContext.parallelize(range(8), 8).map(probe).collect()
    for pid, frozen, daemon_argv, reads in got:
        assert frozen > 0, pid
        assert "mit_6_5840_mapreduce_with_go_spark._daemon" in daemon_argv, daemon_argv
        if PATCHED:
            assert reads == 0, (pid, reads)


def test_socket_dir_length_is_checked(spark):
    ok = "/" + "d" * 63
    session.check_socket_dir(ok)
    session.check_socket_dir(ok + "/")
    too_long = ok + "d"
    with pytest.raises(OSError, match="d" * 64) as exc:
        session.check_socket_dir(too_long)
    assert exc.value.filename == too_long
    # get_spark checks before it builds or changes any session
    with pytest.raises(OSError, match="java.io.tmpdir"):
        session.get_spark("tests", extra_conf={"spark.python.unix.domain.socket.dir": too_long})


def test_driver_outside_checkout_leaves_no_socket(tmp_path):
    """A driver started outside the checkout with PYTHONPATH unset runs
    the paper's job (its workers find the package through the session),
    stops that session, then exits while a second session is still open:
    no socket file of either session stays in the socket directory."""
    sock_dir = tempfile.mkdtemp(prefix="uds-")  # short: sockets cap at 107 bytes
    driver = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from mit_6_5840_mapreduce_with_go_spark.mapreduce import run_mapreduce
        from mit_6_5840_mapreduce_with_go_spark.mapreduce.apps import wc_map, wc_reduce
        from mit_6_5840_mapreduce_with_go_spark.session import get_spark

        files = [("a.txt", "the fox the dog"), ("b.txt", "a dog")]
        conf = {{"spark.driver.extraJavaOptions": "-Djava.io.tmpdir={sock_dir}"}}
        spark = get_spark("outside", cores=2, extra_conf=conf)
        print(run_mapreduce(spark, wc_map, wc_reduce, files, n_reduce=3))
        spark.stop()
        spark = get_spark("outside-again", cores=2, extra_conf=conf)
        print(spark.sparkContext.parallelize(range(4), 2).map(lambda x: x * x).sum())
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    try:
        proc = subprocess.run(
            [sys.executable, "-c", driver], cwd=tmp_path, env=env,
            capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        assert proc.stdout.splitlines()[-2:] == ["['a 1', 'dog 2', 'fox 1', 'the 2']", "14"]
        assert [f for f in os.listdir(sock_dir) if f.endswith(".sock")] == []
    finally:
        shutil.rmtree(sock_dir, ignore_errors=True)
