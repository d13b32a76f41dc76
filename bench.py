"""Benchmark runner: executes the headline query set at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[session.host_cpus()]`` (``$SPARK_GRAFT_CPUS``, else this host's
cores) and prints ONE JSON line — the run record:
``{"plan_fp": {...}, ..., "commit": sha, "queries": {...}, "value": total_sec}``.

Queries execute via the noop sink (full execution, no driver collect) so
timings measure the engine, not result transfer.  The run is then
folded into its ``"<sf>@<cpus>"`` slot of BENCH_BASELINE.json, which is
also what the next run's plan fingerprints are diffed against.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
_BASELINE = os.path.join(_HERE, "BENCH_BASELINE.json")
sys.path.insert(0, _HERE)

from mit_6_5840_mapreduce_with_go_spark.session import get_spark, host_cpus

import __spark_entry__ as entrymod

# Headline set: one per operator family (full inventory runs in the
# driver's correctness sweep; bench tracks the perf-representative core).
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "q18_large_volume_orders",
    "window_top3_orders_per_customer",
    "window_running_supplier_revenue",
    "agg_distinct_parts_per_supplier",
    "topk_expensive_orders",
    "events_hourly_type_counts",
    "mr_wordcount",
    "mr_inverted_index",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sim_topk_bruteforce",
    "sim_topk_ivf",
    "kv_cas_replay",
    "kv_last_writer_wins",
    "text_quality_score",
    "text_fingerprint",
    "mm_decode_frames",
    "asof_join_last_order_before_event",
    "range_join_error_context",
    "events_sessionization",
    "percentile_prices_by_status",
    "pipeline_curated_documents",
    # round-2 flagships, perf-pinned from round 3 on
    "sim_topk_pq_adc",
    "sim_bm25_topk",
    "dedup_incremental_batch",
    "vocab_bpe_merges",
    "mm_pca_power_iteration",
    # round-3 flagships
    "dedup_repeated_spans",
    "sim_bm25_prf_expansion",
    "kv_consistent_hash_movement",
    "sim_ivf_probe_sweep",
    # round-5 flagships (NEW in r5 — totals are not comparable to r04's
    # 37-query set without subtracting these two rows)
    "mm_decode_jpeg_color_stats",
    "mm_video_shot_boundaries",
    # round-7 flagships (NEW in r7 — subtract these three when comparing
    # totals to earlier rounds): the crawl-ingest stack
    "mm_decode_warc_stats",
    "mm_warc_http_stats",
    "mm_decode_auto_dispatch_stats",
    # round-8 flagships (NEW in r8 — subtract these two when comparing
    # totals to earlier rounds): the WARC FILE source and audio metadata
    "mm_warc_source_stats",
    "mm_decode_mp3_stats",
    # round-9 flagships (NEW in r9 — subtract these three when comparing
    # totals to earlier rounds): the most expensive round-8 operators,
    # previously invisible to trend tracking (VERDICT r8 #8) — exact
    # set-similarity join and star-contraction connected components —
    # plus the lakehouse representative (JVM-only Delta log replay)
    "dedup_ppjoin_shingles",
    "dedup_cc_two_phase",
    "table_delta_log_replay",
    # round-10 flagship (NEW in r10 — subtract when comparing totals to
    # earlier rounds): full zstd entropy decode (FSE/Huffman/sequences)
    "mm_decode_zstd_entropy_stats",
    # round-11 flagship (NEW in r11 — subtract when comparing totals to
    # earlier rounds): the composed shard+frame point read via Catalyst
    # filter pushdown into the zstfile source
    "mm_zst_shard_pointread_stats",
    # round-14 flagships (NEW in r14 — subtract these five when comparing
    # totals to earlier rounds): the most expensive REGISTRY queries this
    # round's full-registry profile surfaced and optimized, previously
    # invisible to trend tracking (same rationale as the r9 additions) —
    # minhash precision/recall eval (10.7 -> 1.9 s), the pretraining
    # curation pipeline (6.7 -> 2.6 s), the FK-candidate profiler
    # (56 driver jobs -> one DAG), frequent triples (checkpointed
    # baskets), and the capped PPJoin (window-df)
    "dedup_minhash_pr_eval",
    "pipeline_pretrain_corpus",
    "profile_fk_candidates",
    "basket_frequent_triples",
    "dedup_ppjoin_capped",
    # last: its pair-aggregation GC aftermath would otherwise tax the next query
    "sim_tfidf_topk",
]


# 1-min loadavg above this at start means some OTHER workload owns the
# host and every timing would be uniformly inflated (one run recorded
# loadavg 10.9 and a 53.7s total that a quiet-host re-run measured at
# 43.8s; another started at 2.9 with per-query spreads up to 7x and
# the old 4.0 threshold let it pass unflagged).  We wait (bounded) for
# quiet, and if it never comes, stamp the artifact so a reader can't
# mistake contamination for a regression.
_LOAD_QUIET_THRESHOLD = 1.0
# the 1-min average alone is gameable by a just-finished burst: a run
# started at 1-min 0.96 / 5-min 4.28 measured 9% above the drained-host
# floor while stamping itself clean — so the 5-min average must ALSO be
# below this before a run counts as quiet
_LOAD_QUIET_5MIN = 2.0
_LOAD_WAIT_SECONDS = 300
_LOAD_POLL_SECONDS = 20
# a query whose samples still disagree by more than this after the
# retry budget is individually unreliable regardless of start loadavg
_SPREAD_FLAG = 3.0
# ...but only when the row is big enough for the spread to mean
# anything: a 0.15 s row swinging 3x is scheduler/GC jitter bounded by
# fractions of a second, not host contamination — flagging it would
# mark the whole artifact contaminated over noise below the jitter
# floor.  Spreads are still RECORDED for every row.
_SPREAD_FLAG_MIN_SEC = 0.5


def _loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def _wait_for_quiet_host() -> list[float]:
    """Poll until the 1-min loadavg drops under the threshold or the
    bounded wait expires; returns the loadavg the run starts under."""
    deadline = time.time() + _LOAD_WAIT_SECONDS
    load = _loadavg()
    while (
        load
        and (
            load[0] > _LOAD_QUIET_THRESHOLD or load[1] > _LOAD_QUIET_5MIN
        )
        and time.time() < deadline
    ):
        print(
            f"bench: host busy (loadavg {load[0]:.1f}/{load[1]:.1f} vs "
            f"{_LOAD_QUIET_THRESHOLD}/{_LOAD_QUIET_5MIN}), waiting...",
            file=sys.stderr,
        )
        time.sleep(_LOAD_POLL_SECONDS)
        load = _loadavg()
    return load


def _plan_fingerprint(df) -> str:
    """Normalized physical-plan signature: a plan regression that stays
    under the timing noise floor still flips the fingerprint, so BENCH
    artifacts can be diffed structurally round over round (VERDICT r9
    #5).  Two normalization layers:

    - strip run-varying scalars: exprIds, plan ids, paths, AQE final
      flags;
    - canonicalize each LINE to its sorted token multiset.  The r10
      instability (8/48 fingerprints flipping across identical runs)
      was NOT cache state: Catalyst's RewriteDistinctAggregates (and
      friends) order rewritten aggregate lists and `gid` assignments by
      exprId-dependent hash iteration, permuting comma-separated items
      within otherwise identical lines build-to-build.  Sorting tokens
      per line makes the fingerprint invariant to intra-line
      permutation while still keying on the operator tree (line order,
      operator names, column/function multisets)."""
    import hashlib

    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = re.sub(r"#\d+", "#", plan)
    # higher-order-function lambda variables are numbered by a
    # session-GLOBAL counter (x_21, y_22, ...) — the number is part of
    # the variable NAME, not an exprId, so it survives the #N strip and
    # depends on how many lambdas the session planned before this query
    plan = re.sub(r"\blambda ([A-Za-z]+)_\d+#", r"lambda \1#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    # AQE materializes sibling shuffle stages concurrently; which one
    # finishes first decides the QueryStage / WholeStageCodegen numbers
    # (observed flipping run-to-run in iterative queries whose builds
    # execute stages, e.g. power iteration)
    plan = re.sub(r"QueryStage \d+", "QueryStage", plan)
    plan = re.sub(r"\*\(\d+\)", "*", plan)
    plan = re.sub(r"\[id=[^\]]*\]", "", plan)
    plan = re.sub(r"(file|dbfs|s3a?):[^\s,\])]*", "path:", plan)
    plan = re.sub(r"isFinalPlan=\w+", "", plan)
    lines = []
    for ln in plan.splitlines():
        ln = ln.strip(" :+-*()")
        if not ln:
            continue
        lines.append(" ".join(sorted(re.split(r"[\s,\[\]()]+", ln))))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def _stable_plan_fingerprint(spark, fn, sf_dir: str) -> str:
    """Run-stable fingerprint (VERDICT r10 #2): the r10 artifact showed
    8/48 fingerprints flipping across identical runs because cache
    state from the timing phase leaked InMemoryTableScan nodes into the
    'normalized' plan.  Clear the cache before EACH computation (a
    query's plan-build may itself register cache entries that a later
    build would pick up), compute TWICE on fresh DataFrames, and refuse
    to report a fingerprint the run itself could not reproduce."""
    fps = []
    for _ in range(2):
        spark.catalog.clearCache()
        fps.append(_plan_fingerprint(fn(spark, sf_dir)))
    if fps[0] != fps[1]:
        return f"unstable:{fps[0]}/{fps[1]}"
    return fps[0]


def _git_commit() -> str | None:
    """Short SHA of the checkout being measured (None outside git)."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=_HERE,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _load_baseline(path: str) -> dict[str, dict]:
    """BENCH_BASELINE.json's slots, keyed ``"<sf>@<cpus>"``; each holds
    ``plan_fp`` (the last stable fingerprints), ``latest_clean`` (the
    most recent clean run) and ``best`` (the lowest clean total: the
    drained-host floor).  Both sf and cpus change plans: scale factor
    moves planner size estimates (join strategy, AQE) and the core
    count sets spark.sql.shuffle.partitions (session.py), whose
    partition counts survive fingerprint normalization — so a run is
    diffed against, and folded into, its own slot only."""
    try:
        with open(path) as f:
            return json.load(f).get("by_sf", {})
    except (OSError, ValueError):
        return {}


def _save_baseline(path: str, key: str, record: dict) -> None:
    """Fold one run's ``record`` into slot ``key``: ``plan_fp`` on every
    stable run (a structural diff needs no quiet host), timings only on
    a clean one — ``latest_clean`` always, ``best`` only when lower."""
    if record["contaminated"] and not record["plan_fp_stable"]:
        return
    slots = _load_baseline(path)
    slot = slots.setdefault(key, {})
    if record["plan_fp_stable"]:
        slot["plan_fp"] = record["plan_fp"]
    if not record["contaminated"]:
        clean = {
            k: record[k]
            for k in ("commit", "value", "unit", "loadavg_start", "plan_fp_stable", "queries")
        }
        slot["latest_clean"] = clean
        if "best" not in slot or clean["value"] < slot["best"]["value"]:
            slot["best"] = clean
    with open(path, "w") as f:
        json.dump({"by_sf": slots}, f, indent=1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    load_start = _wait_for_quiet_host()
    spark = get_spark("bench")
    queries = entrymod.queries()

    timings: dict[str, float] = {}
    # Warm-up (untimed, VERDICT r12 #7): q1 covers session startup +
    # JVM/codegen, but the r12 artifact showed q1's TIMED first row
    # still absorbing session-global spin-up that only surfaces on the
    # Arrow/Python-worker path (+0.29 s with an identical fingerprint,
    # masquerading as regression) — so warm both paths before the
    # sweep: one JVM query and one Arrow/Python-worker query.
    for wname in ("q1_pricing_summary", "mm_decode_frames"):
        queries[wname](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Min-of-2 per query (the first run pays one-time codegen), with two
    # variance guards (r6->r7 showed 1.3-1.7x min-swings on sub-second
    # queries under plain min-of-2):
    #   - SHORT queries (min under _SHORT_SEC) always get a third run —
    #     their per-stage overhead is comparable to scheduler jitter, so
    #     two samples under-sample the noise floor;
    #   - any query whose samples disagree by >1.5x gets a third run —
    #     the signature of transient host contention (observed on the
    #     shared runner: identical-commit totals of 30.6s vs 41.2s).
    # The min approximates steady-state engine throughput (what a long
    # job sees); per-query spread (max/min over the samples) is recorded
    # so a future reader can tell a real regression (stable min moved)
    # from noise (wide spread) without re-running.
    _SHORT_SEC = 1.5
    spreads: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        samples = []
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        while (
            min(samples) < _SHORT_SEC or max(samples) > 1.5 * min(samples)
        ) and len(samples) < 3:
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        # a >3x disagreement is transient contention, not jitter: spend
        # one more sample trying to capture a clean min before flagging
        while max(samples) > _SPREAD_FLAG * min(samples) and len(samples) < 4:
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        timings[name] = round(min(samples), 3)
        # spread over the WARM samples only: the first sample pays
        # one-time codegen + Python-worker pool spin-up by design (the
        # reason min-of-N exists), so counting it in the spread flags
        # warmup as host contamination on every short Arrow/PythonDS
        # row.  With >=3 samples the cold first one is excluded; the
        # full max/min including it is still visible in the timings'
        # retry behavior.
        warm = samples[1:] if len(samples) >= 3 else samples
        spreads[name] = round(max(warm) / min(warm), 2)

    total = round(sum(timings.values()), 3)
    # structural plan fingerprints: mostly plan-build only, but queries
    # that eagerly localCheckpoint bounded intermediates during
    # construction (BPE/PCA/BM25/CC since r13) DO run those
    # materialization jobs here — outside the timed window above, so
    # timings are unaffected; it costs bench wall time only.  Each
    # fingerprint is computed twice under a cleared cache and only
    # reported when the run reproduces it (VERDICT r10 #2), then
    # diffed against the most recent STABLE same-(sf, cpus) baseline.
    plan_fp: dict[str, str] = {}
    for name in HEADLINE:
        try:
            plan_fp[name] = _stable_plan_fingerprint(spark, queries[name], sf_dir)
        except Exception as exc:  # noqa: BLE001 - fingerprinting is advisory
            plan_fp[name] = f"error:{type(exc).__name__}"
    plan_fp_stable = not any(fp.startswith("unstable:") for fp in plan_fp.values())
    cpus = host_cpus()
    key = f"{sf}@{cpus}"
    prev_fps = _load_baseline(_BASELINE).get(key, {}).get("plan_fp", {})
    plan_changed = sorted(
        n for n, fp in plan_fp.items() if prev_fps and prev_fps.get(n) not in (None, fp)
    )
    plan_new = sorted(n for n in plan_fp if prev_fps and n not in prev_fps)
    # Host-load context: the shared runner carries heavy EXTERNAL load
    # bursts (observed loadavg 1-4 with no repo process running), which
    # inflate identical-commit totals by 1.3-1.9x uniformly across
    # queries.  Recording start/end 1/5/15-min load averages plus an
    # explicit contamination flag lets a reader separate engine
    # regressions (per-query, code-correlated) from environment noise
    # (uniform, load-correlated).  load_contaminated means the START
    # loadavg still exceeded the threshold after the bounded quiet-wait
    # (the run's own threads inflate the END number legitimately).
    load_end = _loadavg()
    load_contaminated = bool(load_start) and (
        load_start[0] > _LOAD_QUIET_THRESHOLD
        or load_start[1] > _LOAD_QUIET_5MIN
    )
    # per-query honesty: queries whose spread stayed above the flag
    # after the retry budget — their min may still be inflated
    spread_flagged = sorted(
        n
        for n, s in spreads.items()
        if s > _SPREAD_FLAG and timings[n] >= _SPREAD_FLAG_MIN_SEC
    )
    contaminated = load_contaminated or bool(spread_flagged)
    record = {
        "plan_fp": plan_fp,
        "plan_fp_stable": plan_fp_stable,
        "plan_changed": plan_changed,
        "plan_new": plan_new,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "load_contaminated": load_contaminated,
        "spread_flagged": spread_flagged,
        "query_spread": spreads,
        "commit": _git_commit(),
        "metric": "headline_queries_total_sec",
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "contaminated": contaminated,
        "queries": timings,
        "value": total,
    }
    print(json.dumps(record))
    _save_baseline(_BASELINE, key, record)


if __name__ == "__main__":
    main()
