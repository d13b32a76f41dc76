"""Workloads, the timed loop, correctness checks and the per-layer trace.

A run is one driver process on ``local[nproc]``.  It generates its inputs
from the seed, sets up the program (imports, ``registry.load_all``,
``session.get_spark``), warms up, then runs whole passes over the
workload's items in a fixed order, one at a time (a closed loop), until
the measuring window is used up.  After the window it checks every
output against an oracle that does not come from the code under test.
"""

from __future__ import annotations

import glob
import hashlib
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from . import datagen, probes
from .spans import Tracer
from .timed import Timed

ROOT = Path(__file__).resolve().parent.parent
WORK = Path(__file__).resolve().parent / ".work"
PACKAGE = "mit_6_5840_mapreduce_with_go_spark"
# Pinned driver heap: the program's default (48g) exceeds this class of host.
# At 2g the JVM's resident size swung between runs with G1's heap growth.
DRIVER_HEAP = "1g"
N_REDUCE = 10

WORKLOADS: dict[str, list[str]] = {
    "mr_jobs": ["wc", "wc_combine", "indexer_dir"],
    "queries": [
        "dedup_cc_two_phase",
        "dedup_ppjoin_shingles",
        "q5_nation_revenue",
        "mm_decode_jpeg_color_stats",
    ],
}

# Typical warm pass on a 4-core host; sets how many passes fill the window.
NOMINAL_PASS_S = {"mr_jobs": 5.0, "queries": 7.5}

# Tables the query workload reads (the inputs timed by sources.scan_s).
TABLES = ["documents", "lineitem", "orders", "customer", "supplier", "nation", "region"]

END_TO_END: list[tuple[str, str]] = [
    ("pass_s", "s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
]

_OPERATORS = [
    ("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"), ("exec_jobs", "count"),
    ("stages", "count"), ("tasks", "count"), ("failed_tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ("stage_busy_s", "s"), ("driver_gap_s", "s"), ("core_s", "s"), ("utilization", "ratio"),
]
_MAPREDUCE = [
    ("map_s", "s"), ("reduce_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("failed_tasks", "count"), ("shuffle_records", "count"), ("shuffle_write_mb", "MB"),
    ("python_map_s", "s"), ("python_reduce_s", "s"), ("driver_gap_s", "s"),
    ("sequential_s", "s"), ("parallel_s", "s"), ("speedup", "ratio"),
]
_SELF = ["pass", "item", "build", "execute", "run_mapreduce", "stage"]
PER_LAYER: list[tuple[str, str]] = (
    [("session.start_s", "s"), ("registry.load_s", "s"), ("sources.scan_s", "s")]
    + [(f"operators.{n}", u) for n, u in _OPERATORS]
    + [(f"mapreduce.{n}", u) for n, u in _MAPREDUCE]
    + [("process.driver_cpu_s", "s"), ("process.jvm_cpu_s", "s"), ("process.python_worker_cpu_s", "s")]
    + [("items.max_task_skew", "ratio")]
    + [(f"self.{n}_s", "s") for n in _SELF]
    + [("trace.traced_pass_s", "s"), ("trace.untraced_pass_s", "s"), ("trace.overhead", "ratio")]
)


@dataclass(frozen=True)
class Sizes:
    corpus_files: int = 8
    corpus_chars: int = 128_000
    warmup_passes: int = 2
    min_passes: int = 3
    setup_samples: int = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def program_present() -> bool:
    return (ROOT / PACKAGE / "registry.py").is_file() and (ROOT / PACKAGE / "mapreduce" / "engine.py").is_file()


def prepare_env(work: Path) -> None:
    """Environment the program and its Python workers need.  Must run
    before pyspark or the program is imported (``session`` reads
    ``SPARK_GRAFT_CPUS`` at import)."""
    for sub in ("spark-local", "tmp", "out"):
        shutil.rmtree(work / sub, ignore_errors=True)
        (work / sub).mkdir(parents=True)
    cpus = str(len(os.sched_getaffinity(0)))
    old_pp = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        # Workers import the program (and this package's timing wrappers);
        # outside the repository root they fail with ModuleNotFoundError.
        "PYTHONPATH": str(ROOT) + (os.pathsep + old_pp if old_pp else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        # Every JVM, the spark-submit launcher's included: temp files in the
        # work dir, no hsperfdata file in the system temp dir.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    })
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def _source_sha() -> str:
    """The git SHA of the checkout, or a hash of the program's sources
    when the checkout is not a git repository."""
    if (ROOT / ".git").exists():
        try:
            out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except OSError:
            pass
    h = hashlib.sha1()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(p.read_bytes())
    return "tree:" + h.hexdigest()


_IMPORT_PROBE = (
    "import sys, time; sys.path.insert(0, sys.argv[1]); t = time.perf_counter(); "
    f"from {PACKAGE} import registry; registry.load_all(); print(time.perf_counter() - t)"
)


@dataclass
class Ops:
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        log(f"FAILED {what}")


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 sizes: Sizes = Sizes(), work: Path = WORK) -> None:
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}; expected one of {sorted(WORKLOADS)}")
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.sizes, self.work = sizes, work
        self.items = WORKLOADS[workload]
        self.is_mr = workload == "mr_jobs"
        self.ops = Ops()
        self.outputs: dict[str, list[str]] = {}
        self.collected: dict[str, tuple[list[str], list]] = {}
        self.record: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace)}
        self.layer: dict[str, float] = {}
        self.item_stats: dict[str, dict[str, list[float]]] = {}
        self.tracer = Tracer()

    # --- inputs ---------------------------------------------------------------

    def prepare_inputs(self) -> None:
        """Generate (or reuse) this seed's inputs under the work directory:
        the corpus, or the query tables derived from the test data."""
        s = self.sizes
        if self.is_mr:
            tag = f"corpus-s{self.seed}-f{s.corpus_files}-c{s.corpus_chars}"
        else:
            tag = f"tables-s{self.seed}-{os.path.basename(datagen.TABLES_DIR)}"
        self.data_dir = self.work / "data" / tag
        done = self.data_dir / "DONE"
        if not done.exists():
            shutil.rmtree(self.data_dir, ignore_errors=True)
            if self.is_mr:
                counts = datagen.write_corpus(str(self.data_dir / "files"), self.seed,
                                              s.corpus_files, s.corpus_chars)
                with open(self.data_dir / "goldens.json", "w", encoding="utf-8") as fh:
                    json.dump(datagen.corpus_goldens(counts), fh)
            else:
                rows = datagen.derive_tables(str(self.data_dir), self.seed, TABLES)
                with open(self.data_dir / "rows.json", "w", encoding="utf-8") as fh:
                    json.dump(rows, fh)
            done.write_text("ok\n")
        self._prune_data_cache(keep=24)
        if self.is_mr:
            self.corpus_glob = str(self.data_dir / "files" / "*.txt")
            self.inputs = []
            for p in sorted(glob.glob(self.corpus_glob)):
                with open(p, encoding="utf-8") as fh:
                    self.inputs.append((os.path.basename(p), fh.read()))
            with open(self.data_dir / "goldens.json", encoding="utf-8") as fh:
                self.goldens = json.load(fh)
            self.record["input"] = {"files": len(self.inputs),
                                    "bytes": sum(len(c.encode()) for _, c in self.inputs)}
        else:
            with open(self.data_dir / "rows.json", encoding="utf-8") as fh:
                self.record["input"] = {"tables": os.path.basename(datagen.TABLES_DIR),
                                        "rows": json.load(fh)}
        self.out_dir = str(self.work / "out" / "indexer_dir")

    def _prune_data_cache(self, keep: int) -> None:
        dirs = sorted((self.work / "data").iterdir(), key=lambda p: p.stat().st_mtime)
        for p in dirs[:-keep]:
            if p != self.data_dir:
                shutil.rmtree(p, ignore_errors=True)

    # --- set-up -----------------------------------------------------------------

    def setup(self) -> None:
        """Imports + ``registry.load_all``: the median of several fresh
        interpreters, this one included."""
        t = time.perf_counter()
        registry = importlib.import_module(f"{PACKAGE}.registry")
        registry.load_all()
        samples = [time.perf_counter() - t]
        for _ in range(self.sizes.setup_samples - 1):
            out = subprocess.run([sys.executable, "-c", _IMPORT_PROBE, str(ROOT)],
                                 capture_output=True, text=True, timeout=120, check=True)
            samples.append(float(out.stdout.strip().splitlines()[-1]))
        self.registry = registry
        self.session = importlib.import_module(f"{PACKAGE}.session")
        self.engine = importlib.import_module(f"{PACKAGE}.mapreduce.engine")
        self.apps = importlib.import_module(f"{PACKAGE}.mapreduce.apps")
        self.sources = importlib.import_module(f"{PACKAGE}.sources")
        self.layer["registry.load_s"] = statistics.median(samples)

    def start_spark(self) -> None:
        """``get_spark`` on a cold JVM."""
        t = time.perf_counter()
        self.spark = self.session.get_spark(
            app_name=f"perfbench-{self.workload}",
            cores=int(os.environ["SPARK_GRAFT_CPUS"]),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.work / "tmp" / "warehouse"),
            },
        )
        self.layer["session.start_s"] = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.status = probes.SparkStatus(self.spark)
        self.sf_dir = str(self.data_dir)

    # --- items ------------------------------------------------------------------

    def _mr_fns(self, item: str, accs) -> tuple:
        a = self.apps
        if item == "indexer_dir":
            m, r, c = a.indexer_map, a.indexer_reduce, None
        else:
            m, r, c = a.wc_map, a.wc_reduce, (a.wc_combine if item == "wc_combine" else None)
        if accs is not None:
            m, r = Timed(m, accs[0]), Timed(r, accs[1])
            c = Timed(c, accs[1]) if c is not None else None
        return m, r, c

    def _run_mr(self, item: str, accs=None) -> None:
        m, r, c = self._mr_fns(item, accs)
        if item == "indexer_dir":
            self.engine.run_mapreduce_to_dir(self.spark, m, r, self.corpus_glob, self.out_dir,
                                             n_reduce=N_REDUCE)
        else:
            self.outputs[item] = self.engine.run_mapreduce(self.spark, m, r, self.inputs,
                                                           n_reduce=N_REDUCE, combine_fn=c)

    def run_item(self, item: str, traced: dict | None = None, collect: bool = False) -> float | None:
        """Run one item; returns its wall seconds, or None if it raised.
        ``traced`` (trace runs only) collects job groups and span times.
        ``collect`` keeps a query's rows for ``verify`` instead of the noop
        write."""
        if item == "indexer_dir":
            shutil.rmtree(self.out_dir, ignore_errors=True)
        self.ops.attempted += 1
        try:
            t0, w0 = time.perf_counter(), time.time()
            if self.is_mr:
                if traced is not None:
                    self.sc.setJobGroup(f"{traced['id']}.mr", item)
                self._run_mr(item, traced.get("accs") if traced else None)
                t1 = w1 = None
            else:
                if traced is not None:
                    self.sc.setJobGroup(f"{traced['id']}.build", item)
                df = self.registry.QUERIES[item](self.spark, self.sf_dir)
                t1, w1 = time.perf_counter(), time.time()
                if traced is not None:
                    self.sc.setJobGroup(f"{traced['id']}.exec", item)
                if collect:
                    self.collected[item] = (list(df.columns), df.collect())
                else:
                    df.write.format("noop").mode("overwrite").save()
            t2, w2 = time.perf_counter(), time.time()
        except Exception:  # noqa: BLE001 - a failing item is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            self.ops.fail(f"{item}: raised")
            return None
        finally:
            if traced is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        if traced is not None:
            traced["times"] = (w0, w1, w2, (t1 - t0) if t1 is not None else None, t2 - t0)
        self.record.setdefault("item_walls", {}).setdefault(item, []).append(t2 - t0)
        return t2 - t0

    def run_pass(self, traced: bool = False, collect: bool = False) -> float:
        """One pass over the items; returns wall seconds.  Traced passes
        also record spans and per-layer counters after the pass ends."""
        pass_no = len(self.record.setdefault("pass_walls", []))
        items_traced = []
        accs = (self.sc.accumulator(0.0), self.sc.accumulator(0.0)) if traced and self.is_mr else None
        t0, w0 = time.perf_counter(), time.time()
        for item in self.items:
            tr = {"id": f"p{pass_no}.{item}", "accs": accs} if traced else None
            wall = self.run_item(item, tr, collect)
            if tr is not None and wall is not None:
                items_traced.append((item, tr))
        wall, w1 = time.perf_counter() - t0, time.time()
        self.record["pass_walls"].append(wall)
        if traced:
            self._collect_trace(w0, w1, items_traced, accs)
        return wall

    # --- trace ------------------------------------------------------------------

    def _add(self, name: str, value: float) -> None:
        self.layer[name] = self.layer.get(name, 0.0) + value

    def _collect_trace(self, w0: float, w1: float, items: list, accs) -> None:
        self.status.drain()
        self.layer["_traced_passes"] = self.layer.get("_traced_passes", 0) + 1
        tr = self.tracer
        pass_span = tr.add("pass", f"pass{int(self.layer['_traced_passes'])}", w0, w1, None, "pass")
        for item, info in items:
            ws, wb, we, build_s, wall = info["times"]
            tid = info["id"]
            item_span = tr.add("item", item, ws, we, pass_span, tid)
            groups = []
            if self.is_mr:
                groups.append(("mr", tr.add("run_mapreduce", "run_mapreduce", ws, we, item_span, tid)))
            else:
                groups.append(("build", tr.add("build", "build", ws, wb, item_span, tid)))
                groups.append(("exec", tr.add("execute", "execute", wb, we, item_span, tid)))
            all_stages, n_jobs, build_jobs = [], 0, None
            for g, parent in groups:
                jobs = self.status.job_ids(f"{tid}.{g}")
                stages = self.status.stages(jobs)
                n_jobs += len(jobs)
                for s in stages:
                    tr.add("stage", f"stage{s.stage_id}", s.start, s.end, parent, tid)
                all_stages += stages
                if g == "build":
                    build_jobs = len(jobs)
                    self._add("operators.build_jobs", len(jobs))
                elif g == "exec":
                    self._add("operators.exec_jobs", len(jobs))
                else:
                    self._add("mapreduce.jobs", len(jobs))
            busy = probes.union_seconds([(s.start, s.end) for s in all_stages])
            slowest = max(all_stages, key=lambda s: s.end - s.start, default=None)
            skew = (slowest.task_max_s / slowest.task_median_s
                    if slowest is not None and slowest.task_median_s > 0 else 1.0)
            st = self.item_stats.setdefault(item, {})
            for k, v in (("wall_s", wall), ("jobs", n_jobs), ("task_skew", skew)) + (
                    (("build_s", build_s), ("build_jobs", build_jobs)) if build_s is not None else ()):
                st.setdefault(k, []).append(v)
            self.layer["items.max_task_skew"] = max(self.layer.get("items.max_task_skew", 0.0), skew)
            pre = "mapreduce" if self.is_mr else "operators"
            self._add(f"{pre}.tasks", sum(s.tasks for s in all_stages))
            self._add(f"{pre}.failed_tasks", sum(s.failed_tasks for s in all_stages))
            self._add(f"{pre}.shuffle_write_mb", sum(s.shuffle_write_b for s in all_stages) / 2**20)
            self._add(f"{pre}.driver_gap_s", wall - busy)
            if self.is_mr:
                self._add("mapreduce.map_s", sum(s.end - s.start for s in all_stages if not s.result))
                self._add("mapreduce.reduce_s", sum(s.end - s.start for s in all_stages if s.result))
                self._add("mapreduce.shuffle_records", sum(s.shuffle_write_records for s in all_stages))
                self._add("mapreduce.parallel_s", wall)
            else:
                self._add("operators.build_s", build_s)
                self._add("operators.exec_s", wall - build_s)
                self._add("operators.stages", len(all_stages))
                self._add("operators.executor_run_s", sum(s.run_s for s in all_stages))
                self._add("operators.executor_cpu_s", sum(s.cpu_s for s in all_stages))
                self._add("operators.gc_s", sum(s.gc_s for s in all_stages))
                self._add("operators.shuffle_read_mb", sum(s.shuffle_read_b for s in all_stages) / 2**20)
                self._add("operators.spill_mb", sum(s.spill_b for s in all_stages) / 2**20)
                self._add("operators.stage_busy_s", busy)
                self._add("operators.core_s", wall * self.cores)
        if accs is not None:
            self._add("mapreduce.python_map_s", accs[0].value)
            self._add("mapreduce.python_reduce_s", accs[1].value)

    def _scan_sources(self) -> float:
        """Noop-write scan of every input the workload reads (median of 3)."""
        def scan_all() -> float:
            t = time.perf_counter()
            if self.is_mr:
                self.sources.read_whole_text_source(self.spark, self.corpus_glob) \
                    .write.format("noop").mode("overwrite").save()
            else:
                for name in TABLES:
                    self.sources.load_table(self.spark, self.sf_dir, name) \
                        .write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t
        return statistics.median(scan_all() for _ in range(3))

    def _sequential_s(self) -> float:
        """Single-threaded ``run_mapreduce_sequential`` over the same jobs."""
        total = 0.0
        for item in self.items:
            m, r, _ = self._mr_fns(item, None)
            t = time.perf_counter()
            lines = self.engine.run_mapreduce_sequential(m, r, self.inputs)
            total += time.perf_counter() - t
            self._check_lines(f"{item}: run_mapreduce_sequential", lines, self._golden(item))
        return total

    # --- the run ----------------------------------------------------------------

    def warm_up(self) -> float:
        """Untimed passes before the window; returns their wall seconds,
        which count into set-up.  The count is fixed so that every run
        follows the same schedule; ``warmup_ratio`` in the record (last
        warm-up pass over the first window pass) shows how settled it was.
        The first pass collects query results instead of the noop write."""
        walls = [self.run_pass(collect=i == 0) for i in range(self.sizes.warmup_passes)]
        self.record["warmup_walls"] = walls
        self.record.pop("pass_walls", None)
        return sum(walls)

    def window_passes(self) -> int:
        """Passes that fill ``seconds`` at the workload's nominal pass time.
        A count fixed by the arguments, not by the clock, gives every run
        the same schedule; pass times still fall for several passes after
        the warm-up, so a clock-bound count would move the median.  A
        trace run rounds up to whole blocks of four (see ``measure``)."""
        n = max(self.sizes.min_passes, int(self.seconds / NOMINAL_PASS_S[self.workload]))
        return -(-n // 4) * 4 if self.trace else n

    def measure(self) -> None:
        """The timed window: ``window_passes()`` whole passes.  A trace run
        orders each block of four passes untraced, traced, traced,
        untraced, so both kinds sit at the same mean position in the
        window and the still-falling pass times do not bias
        ``trace.overhead``."""
        me = os.getpid()
        cpu0, host0 = probes.tree_cpu(me), probes.host_ticks()
        untraced, traced = [], []
        t0 = time.perf_counter()
        for i in range(self.window_passes()):
            with_trace = self.trace and i % 4 in (1, 2)
            (traced if with_trace else untraced).append(self.run_pass(traced=with_trace))
        elapsed = time.perf_counter() - t0
        cpu1, host1 = probes.tree_cpu(me), probes.host_ticks()
        n = len(untraced) + len(traced)
        cpu = {k: (cpu1[k] - cpu0[k]) / n for k in cpu0}
        q1, med, q3 = _quartiles(untraced)
        self.record.update({
            "window_s": elapsed,
            "passes": {"untraced": untraced, "traced": traced},
            "pass_s": {"median": med, "q1": q1, "q3": q3, "n": len(untraced)},
            "cpu_by_role_per_pass": cpu,
            "host_window": {k: host1[k] - host0[k] for k in host0},
            "warmup_ratio": self.record["warmup_walls"][-1] / (untraced or traced)[0],
        })
        self.e2e = {"pass_s": med, "cpu_s": sum(cpu.values())}
        self.layer["process.driver_cpu_s"] = cpu["driver"]
        self.layer["process.jvm_cpu_s"] = cpu["jvm"] + cpu["other"]
        self.layer["process.python_worker_cpu_s"] = cpu["python_worker"]
        if self.trace:
            self.layer["trace.traced_pass_s"] = statistics.median(traced)
            self.layer["trace.untraced_pass_s"] = med
            self.layer["trace.overhead"] = statistics.median(traced) / med

    # --- correctness --------------------------------------------------------------

    def _golden(self, item: str) -> list[str]:
        return self.goldens["indexer" if item == "indexer_dir" else "wc"]

    def _check_lines(self, what: str, got: list[str], want: list[str]) -> None:
        self.ops.attempted += 1
        if got != want:
            diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
            self.ops.fail(f"{what}: output differs from golden at line {diff} "
                          f"({len(got)} vs {len(want)} lines)")

    def read_indexer_output(self) -> list[str]:
        lines: list[str] = []
        for p in sorted(glob.glob(os.path.join(self.out_dir, "part-*"))):
            with open(p, encoding="utf-8") as fh:
                lines.extend(line for line in fh.read().split("\n") if line)
        return sorted(lines)

    def _oracle_rows(self, name: str) -> tuple[list[str], list[list]]:
        """Normalised oracle rows of one query, cached by (data, query, SQL hash)."""
        sql = self.registry.ORACLES[name]
        path = self.data_dir / "oracle" / f"{name}-{hashlib.sha1(sql.encode()).hexdigest()[:16]}.json"
        if path.exists():
            with open(path, encoding="utf-8") as fh:
                cached = json.load(fh)
            return cached["cols"], cached["rows"]
        import duckdb

        con = duckdb.connect()
        try:
            for p in sorted(self.data_dir.glob("*.parquet")):
                con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            raw = cur.fetchall()
        finally:
            con.close()
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = [list(r) for r in self.normalize([tuple(r[i] for i in order) for r in raw])]
        path.parent.mkdir(exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"cols": sorted(cols), "rows": rows}, fh)
        return sorted(cols), rows

    def _load_normalize(self) -> None:
        """``normalize`` from tools/check_correctness.py (the repository's
        oracle comparison), loaded without its sys.path side effect."""
        saved = list(sys.path)
        try:
            spec = importlib.util.spec_from_file_location(
                "perfbench_check_correctness", ROOT / "tools" / "check_correctness.py")
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
        finally:
            sys.path[:] = saved
        self.normalize = mod.normalize

    def check_query(self, name: str) -> None:
        self.ops.attempted += 1
        if name not in self.collected:
            self.ops.fail(f"{name}: no result collected")
            return
        cols, rows = self.collected[name]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        got = [list(r) for r in self.normalize([tuple(row[i] for i in order) for row in rows])]
        ocols, want = self._oracle_rows(name)
        if sorted(cols) != ocols:
            self.ops.fail(f"{name}: columns {sorted(cols)} vs oracle {ocols}")
        elif got != want:
            self.ops.fail(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")

    def verify(self) -> None:
        """Outside the timed window: every output against its oracle."""
        if self.is_mr:
            for item in ("wc", "wc_combine"):
                self._check_lines(item, self.outputs.get(item, []), self._golden(item))
            self._check_lines("indexer_dir", self.read_indexer_output(), self._golden("indexer_dir"))
        else:
            for name in self.items:
                self.check_query(name)

    # --- driver -----------------------------------------------------------------

    def host_context(self) -> dict:
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "git_sha": _source_sha(),
            "python": sys.version.split()[0],
        }

    def execute(self) -> dict:
        """Set up, warm up, measure, verify; returns the result object."""
        self.t_start = time.perf_counter()
        self.prepare_inputs()
        self.setup()
        if not self.is_mr:
            self._load_normalize()
            for name in self.items:  # DuckDB oracles, outside every timed span
                self._oracle_rows(name)
        self.start_spark()
        log(f"set up in {time.perf_counter() - self.t_start:.1f}s")
        # Peak memory of the process tree from the JVM's start to the
        # window's end: the cold first pass and the collect pass included.
        rss = probes.RssSampler(os.getpid())
        rss.start()
        try:
            warm_s = self.warm_up()
            log(f"warmed up in {time.perf_counter() - self.t_start:.1f}s")
            self.measure()
        finally:
            rss.stop()
        log(f"measured in {time.perf_counter() - self.t_start:.1f}s")
        self.e2e["peak_rss_mb"] = rss.peak_bytes / 2**20
        self.e2e["setup_s"] = self.layer["registry.load_s"] + self.layer["session.start_s"] + warm_s
        self.record["peak_rss_mb_by_role"] = {k: v / 2**20 for k, v in rss.peak_by_role.items()}
        if self.trace:
            self.layer["sources.scan_s"] = self._scan_sources()
            if self.is_mr:
                self.layer["mapreduce.sequential_s"] = self._sequential_s()
        self.verify()
        log(f"verified in {time.perf_counter() - self.t_start:.1f}s")
        self.record.update({"host": self.host_context(),
                            "setup": {"registry.load_s": self.layer["registry.load_s"],
                                      "session.start_s": self.layer["session.start_s"],
                                      "warmup_counted_s": warm_s},
                            "failures": self.ops.failures})
        return self.result()

    def per_layer(self) -> dict[str, float]:
        n = max(1, int(self.layer.get("_traced_passes", 1)))
        per_pass = {k for k, _ in PER_LAYER if k.startswith(("operators.", "mapreduce."))}
        per_pass -= {"mapreduce.sequential_s"}
        out = {}
        for k, _ in PER_LAYER:
            v = self.layer.get(k, 0.0)
            out[k] = v / n if k in per_pass else v
        for k, v in self.tracer.self_seconds().items():
            out[f"self.{k}_s"] = v / n
        out["operators.utilization"] = (out["operators.executor_run_s"] / out["operators.core_s"]
                                        if out["operators.core_s"] else 0.0)
        out["mapreduce.speedup"] = (out["mapreduce.sequential_s"] / out["mapreduce.parallel_s"]
                                    if out["mapreduce.parallel_s"] else 0.0)
        return out

    def result(self) -> dict:
        if self.trace:
            values, names = self.per_layer(), PER_LAYER
        else:
            values, names = self.e2e, END_TO_END
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in names}
        return {"correct": self.ops.failed == 0, "attempted": self.ops.attempted,
                "failed": self.ops.failed, "metrics": metrics}

    def report_lines(self) -> list[str]:
        """Human-readable lines printed before the result object."""
        w = self.workload
        out = []
        if not self.trace:
            p = self.record["pass_s"]
            units = dict(END_TO_END)
            for k, v in self.e2e.items():
                extra = (f" (median of {p['n']} passes; q1 {p['q1']:.4f}, q3 {p['q3']:.4f})"
                         if k == "pass_s" else "")
                out.append(f"{w}/{k} = {v:.4f} {units[k]}{extra}")
        else:
            for k, v in self.per_layer().items():
                out.append(f"{w}/{k} = {v:.6g} {dict(PER_LAYER)[k]}")
            for item, st in self.item_stats.items():
                out.append(f"{w}/{item}: " + ", ".join(
                    f"{k} {statistics.median(v):.4g}" for k, v in st.items()))
            out.append(f"{w}/self time per layer (s per traced pass): " + ", ".join(
                f"{k} {v / max(1, int(self.layer['_traced_passes'])):.4f}"
                for k, v in self.tracer.self_seconds().items()))
        out.append(f"{w}/ops = {self.ops.attempted}, {w}/failed_ops = {self.ops.failed}")
        out.append(f"{w}/host = " + json.dumps({**self.record["host"],
                                                "window_ticks": self.record["host_window"]}))
        return out

    def save(self) -> None:
        rec_dir = self.work / "records"
        rec_dir.mkdir(parents=True, exist_ok=True)
        stem = f"{self.workload}-s{self.seed}-t{int(self.trace)}"
        with open(rec_dir / f"{stem}.json", "w", encoding="utf-8") as fh:
            json.dump({"record": self.record, "result": self.result(),
                       "items": self.item_stats}, fh, indent=1, default=str)
        if self.trace:
            self.tracer.write(str(rec_dir / f"{stem}-spans.json"))


def stop_spark() -> None:
    """Stop Spark, end the JVM gateway and wait for every process started."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    me = os.getpid()
    children = probes.tree_pids(me)[1:]
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # Python workers outlive the JVM briefly and are re-parented when it
    # exits, so wait on the pids seen before the stop, not on the tree.
    children += probes.tree_pids(me)[1:]
    deadline = time.time() + 30
    while time.time() < deadline and any(probes.alive(p) for p in children):
        time.sleep(0.1)
    for pid in children:
        if probes.alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
