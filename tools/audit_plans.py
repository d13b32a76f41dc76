"""Plan audit: sweep EVERY registered query's physical plan for scale
anti-patterns — the automated version of ".explain and iterate until it's
the plan you'd want".

Flags per query:
  - CART   CartesianProduct / BroadcastNestedLoopJoin (row-multiplying
           joins; only legitimate for intentional 1-row scalar broadcasts)
  - PYUDF  row-at-a-time Python UDF in the plan (BatchEvalPython) — the
           slow path; ArrowEvalPython / mapInPandas are fine
  - NOPUSH (informational, never fails the audit) a post-scan Filter
           with no pushed filters anywhere — usually a predicate on a
           COMPUTED column (explode output, window rank, hash, scalar
           subquery), which can never reach a scan; real pushdown
           regressions are pinned per-query in tests/test_plans.py
  - GSORT  global Sort not under TakeOrderedAndProject (full-data sort)
  - GWIN   unpartitioned Window: a Window fed by Exchange SinglePartition
           whose input subtree is not bounded-by-construction — ONE task
           sorts the whole input, the classic 100 TB plan killer.  Bounded
           means: a provably-<=1-row chain (_build_is_scalar), or a
           subtree keyed by the stitch conventions (plans/stitch.py):
           `_stitch_pid` (P-row per-bucket stats) / `_stitch_dom_`
           (explicitly asserted finite domains).
  - EXCH   exchange count (informational; flagged above threshold)
  - XDIST  multi-distinct Expand with a percentile/collect buffer riding
           the replicated stream (split the distincts out — SCALING.md §9)

Known-intentional exceptions are allow-listed with the reason inline.

Usage: python tools/audit_plans.py [sf_dir] [query ...]
Exit 1 if any non-allow-listed flag fires.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mit_6_5840_mapreduce_with_go_spark.session import get_spark

import __spark_entry__ as entrymod

# query -> {flag: reason it is acceptable here}
ALLOW: dict[str, dict[str, str]] = {
    # 1-row scalar subquery broadcasts: the nested-loop join touches
    # N x 1 rows — the designed decorrelation, not a blow-up.
    "q11_important_parts": {"CART": "1-row grand-total broadcast"},
    "q15_top_supplier": {"CART": "1-row max broadcast"},
    "q22_inactive_wealthy_customers": {"CART": "1-row avg broadcast"},
    "subquery_above_nation_avg_balance": {"CART": "1-row avg broadcast"},
    "scalar_subquery_near_max": {"CART": "1-row max broadcast"},
    "stats_price_moments": {"CART": "1-row moment aggregate broadcast"},
    "sketch_countmin_user_counts": {"CART": "tiny sketch-plan cross join"},
    "sim_label_cohesion": {
        "CART": "intra-label pair enumeration over a 300-doc slice"
    },
    # pair/score enumerations where the cross join IS the algorithm and
    # one side is a broadcast of bounded size:
    "cluster_kmeans_embeddings": {"CART": "k-centroid broadcast scoring"},
    "sim_topk_bruteforce": {"CART": "query-side broadcast vs corpus (the baseline ANN)"},
    "sim_topk_ivf": {"CART": "centroid broadcast for bucket assignment"},
    "sim_hybrid_rrf": {"CART": "inherited: query-side broadcast of the fused top-k inputs"},
    "sim_ann_recall_eval": {
        "CART": "inherited: query-side + centroid broadcasts of the graded indexes"
    },
    "eval_ann_sign_test": {
        "CART": "inherited: the recall-eval legs' query-side + centroid "
        "broadcasts (same waiver as sim_ann_recall_eval)"
    },
    "sim_ivf_probe_sweep": {
        "CART": "centroid broadcast scoring + probe-rank<=np level join "
        "(max(np) probes x 3 levels per query — bounded by the knob domain)"
    },
    # Filter-over-scan broadcasts whose boundedness comes from an id
    # predicate (vec_id < k / % stride) the plan text cannot prove:
    "cluster_silhouette_simplified": {
        "CART": "k seed-centroid broadcast scoring (vec_id < k, k=8)"
    },
    "dedup_semdedup": {
        "CART": "seed-centroid broadcast for cluster assignment (bounded "
        "vec_id predicate)"
    },
    "sim_ann_ndcg_eval": {
        "CART": "inherited: query-side + centroid broadcasts of the graded "
        "IVF index (same legs as sim_ann_recall_eval)"
    },
    "sim_ivf_incremental_update": {
        "CART": "centroid broadcast for the old-batch and new-batch "
        "assignment legs"
    },
    "sim_mmr_rerank": {
        "CART": "bounded candidate-set broadcasts in the greedy MMR "
        "selection rounds (top-k pool only)"
    },
    "sim_matryoshka_prefix_recall": {
        "CART": "query-side + centroid broadcasts repeated per prefix "
        "dimension (bounded level list)",
        "EXCH": "one exact + one approximate ranking leg per prefix level",
    },
    # grouped aggregates over bounded category domains:
    "events_ab_welch_t": {
        "CART": "per-variant moment aggregates (2 groups) assembled into "
        "the verdict row"
    },
    "stats_chi2_independence": {
        "CART": "row/column marginal tables joined back to cells "
        "(|langs| x |sources| bounded domains)"
    },
    "sketch_cms_sliding_counts": {
        "CART": "probe-user broadcast vs the d x w counter matrix (10 "
        "probes, 64 counters — both fixed)",
        "EXCH": "per-hour sketch build + trailing-window merge chain over "
        "the 24-row hour table",
    },
    "sketch_hll_sliding_union": {
        "CART": "probe broadcast vs the fixed-size register table"
    },
    "pipeline_mixture_weights_exact": {
        "CART": "1-row clip-count pick (LIMIT 1 over the <=|langs|+1 "
        "candidate table) + language-table broadcasts",
        "GWIN": "row_number over the <=|langs|+1 clip-candidate table",
    },
    "events_changepoint_binary_seg": {
        "CART": "pairwise exact-fraction argmax over the calendar-sized "
        "candidate table (~30 rows/month — bounded by days, not data)",
        "GWIN": "prefix sums over per-day aggregates (~30 rows/month — "
        "calendar-bounded)",
    },
    # exchange-count waivers: unrolled iterations / multi-leg pipelines
    # whose exchanges all carry key-sized aggregates:
    "basket_frequent_triples": {
        "EXCH": "apriori chain re-derives baskets per counting leg (persist "
        "dropped to avoid session-pinned cache); every exchange is "
        "key-sized"
    },
    "graph_lpa_communities": {
        "EXCH": "fixed unrolled label-propagation supersteps, each a "
        "frontier join + min-label groupBy"
    },
    "sim_bm25_topk": {
        "EXCH": "multi-consumer postings pipeline (idf + tf legs re-exchange "
        "the bounded postings)"
    },
    "sim_bm25_prf_expansion": {
        "EXCH": "two-pass PRF re-derives the shared postings/dl/idf chain "
        "per consumer in the one-shot query form; a deployed two-pass "
        "retriever materializes them once (documented in the docstring) "
        "and every exchange carries key-sized aggregates"
    },
    "dedup_embedding_cosine": {"CART": "blocked pair enumeration, bounded block"},
    "join_cross_region_nation": {"CART": "explicit CROSS JOIN query (25x5 dims)"},
    "sim_tfidf_topk": {"EXCH": "multi-consumer postings pipeline; ReusedExchange reprints per consumer"},
    "events_funnel_conversion": {"CART": "crossJoin of three 1-row stage-count aggregates"},
    "pipeline_quality_resample": {"CART": "1-row min/max bounds broadcast"},
    "stats_key_skew_profile": {"CART": "1-row totals broadcast vs top-10 keys"},
    "profile_fk_candidates": {
        "CART": "1-row distinct-count aggregates assembled per candidate pair",
        "EXCH": "5 independent pair-profiles union'd; each contributes its "
        "own distinct+semi-join exchanges over key-sized inputs",
    },
    "events_seasonal_naive_eval": {
        "CART": "|types| x 24 dense grid enumeration (bounded domains)"
    },
    "text_keywords_tfidf": {
        "CART": "1-row corpus-size broadcast for the idf denominator"
    },
    "events_leadlag_xcorr": {
        "CART": "5-row lag-vector broadcast against the compressed hourly grid"
    },
    "stats_shrunken_source_value": {
        "CART": "1-row global-moments broadcast for the shrinkage prior"
    },
    "audit_benford_prices": {
        "CART": "1-row total-count broadcast vs the 9-digit verdict table"
    },
    "text_collocations_pmi": {
        "CART": "1-row corpus-size broadcast for the PMI denominator"
    },
    "layout_partition_prune_advisor": {
        "EXCH": "9 candidate x template verdict rows union'd; each is a "
        "two-level aggregate over a bounded partition-key domain",
    },
    "layout_rle_run_estimate": {
        "CART": "1-row run-count aggregates assembled into the verdict row"
    },
    "sketch_cms_join_size": {
        "CART": "1-row exact-vs-estimate assembly",
        "EXCH": "2 x d counter-matrix builds union'd (tiny fixed-size aggregates)",
    },
    "audit_data_contracts": {
        "CART": "1-row count/violation aggregates assembled per contract row",
        "EXCH": "9 independent contract checks union'd, each a tiny "
        "aggregate or key-sized anti-join",
    },
    "events_cusum_drift": {
        "CART": "1-row population-totals broadcast for exact integer deviations"
    },
    "mm_pca_power_iteration": {
        "CART": "1-row rescale-max / Rayleigh / trace broadcasts per superstep"
    },
    "graph_khop_reachability": {
        "CART": "1-row mean-weight threshold broadcast (edge derivation)",
        "EXCH": "3 unrolled BFS supersteps, each a frontier join + "
        "min-dist groupBy over the threshold-pruned edge list",
    },
    "sketch_kmv_source_overlap": {
        "CART": "source-pair enumeration over the |sources|^2-bounded stats table"
    },
    "vocab_bpe_apply": {
        "CART": "inherited: 1-row top-pair broadcasts in the shared learning chain"
    },
    "vocab_bpe_roundtrip": {
        "CART": "inherited: 1-row top-pair broadcasts in the shared "
        "learning chain + 1-row symbol-census assembly"
    },
    "vocab_bpe_merges": {
        "CART": "1-row top-pair + token-count broadcasts per unrolled BPE step"
    },
    "layout_range_partition_plan": {
        "CART": "1-row total-rows broadcast vs the bounded histogram",
        "GWIN": "prefix sum over the fixed-width value histogram",
    },
    "sim_topk_ivfpq": {
        "CART": "bounded broadcasts: centroids for cell assignment + m-subspace enumeration"
    },
    "graph_triangle_census": {
        "CART": "1-row threshold broadcast + 1-row census-stat assembly",
        "EXCH": "post-reduction exchanges over tiny aggregates; the only wide "
        "stages are the bucketed slot self-join and edge groupBy",
    },
    # GWIN waivers: unpartitioned windows whose input is a grouped
    # aggregate over a domain bounded BY CONSTRUCTION — fixed bin counts,
    # calendar spans, |sources|/|langs| category sets — which do NOT grow
    # with corpus size (unlike vocabularies/doc tables, which get the
    # stitched rewrite instead).  The plan text cannot prove the bound
    # (keyed aggregates carry no row count), hence manual entries:
    "eval_quality_auc": {
        "GWIN": "prefix sum over the fixed _AUC_BINS-row score histogram"
    },
    "events_kaplan_meier": {
        "GWIN": "reverse cumulative risk over the corpus-span hour tally "
        "(calendar-bounded)"
    },
    "pipeline_corpus_composition": {
        "GWIN": "share window over (source, lang) aggregate rows "
        "(bounded category domains)"
    },
    "pipeline_mixture_weights": {
        "GWIN": "share window over |sources| aggregate rows"
    },
    "sketch_quantile_histogram": {
        "GWIN": "prefix sum over the fixed bucket table"
    },
    "stats_ks_two_sample": {
        "GWIN": "CDF prefix sums over the fixed _KS_BINS bin table"
    },
    "stats_lorenz_gini": {
        "GWIN": "Lorenz prefix sums over the fixed _GINI_BINS bin table"
    },
    "text_heaps_law_gutenberg": {
        "GWIN": "cumulative window over the per-FILE table of the "
        "reference's 8-book Gutenberg corpus (fixed fixture)"
    },
    # mapreduce-parity ops keep the reference's gather-all RDD contract;
    # Python eval there reproduces Map/Reduce UDF semantics by design.
    "mr_wordcount": {"PYUDF": "reference Map/Reduce UDF parity path"},
    "mr_inverted_index": {"PYUDF": "reference Map/Reduce UDF parity path"},
    "mr_doc_line_counts": {"PYUDF": "reference Map/Reduce UDF parity path"},
    "mr_nocrash_stats": {"PYUDF": "reference Map/Reduce UDF parity path"},
    "udtf_doc_sentences": {"PYUDF": "UDTF extension-surface demo (documented slow path)"},
    "mm_decode_frames": {"PYUDF": "stubbed Arrow decode (mapInPandas)"},
    "mm_binary_features": {"PYUDF": "stubbed Arrow decode (mapInPandas)"},
}

EXCH_THRESHOLD = 12  # informational flag only above this


def final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # post-AQE string prints Final + Initial; audit the final section only
    return plan.split("== Initial Plan ==")[0]


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


# Nodes that cannot INCREASE row count; a chain of these above an
# ungrouped aggregate keeps the broadcast side at <= 1 row.
_ROW_PRESERVING = (
    "BroadcastExchange",
    "BroadcastQueryStage",
    "ReusedExchange",
    "Exchange",
    "AQEShuffleRead",
    "ShuffleQueryStage",
    "Project",
    "Filter",
    "ColumnarToRow",
    "InputAdapter",
    "WholeStageCodegen",
    "Sort ",
    "CollectLimit",
    "LocalLimit",
    "GlobalLimit",
)


def _node(line: str) -> str:
    return line.lstrip(" :+-*()0123456789")


def _subtree(lines: list[str], i: int) -> list[int]:
    d = _depth(lines[i])
    j = i + 1
    while j < len(lines) and _depth(lines[j]) > d:
        j += 1
    return list(range(i + 1, j))


def _children(lines: list[str], i: int) -> list[int]:
    body = _subtree(lines, i)
    if not body:
        return []
    dmin = min(_depth(lines[k]) for k in body)
    return [k for k in body if _depth(lines[k]) == dmin]


def _build_is_scalar(lines: list[str], root: int) -> bool:
    """True iff the subtree rooted at ``root`` is provably bounded: a
    chain of row-preserving nodes down to either an ungrouped aggregate
    (<= 1 row) or a LocalTableScan (a driver-literal constant table —
    the bounded domain-enumeration shape: thresholds, probe levels,
    percentile fractions, bootstrap replicate ids, ...)."""
    i = root
    while True:
        node = _node(lines[i])
        if re.match(r"(Hash|Sort|Object.*)?Aggregate\(key(s)?=\[\]", node):
            return True
        # LocalTableScan / Scan ExistingRDD = a driver-literal
        # collection — in this repo always a constant parameter table
        # (thresholds, probe levels, percentile fractions, hash planes,
        # replicate ids), bounded by construction.  CAVEAT (reviewed):
        # a future createDataFrame(big_collected_list) would slip
        # through this arm — the plan text carries no row count, so the
        # audit cannot distinguish it; parameter tables that stop being
        # literal must drop back to a manual ALLOW entry.
        if node.startswith(("LocalTableScan", "Scan ExistingRDD")):
            return True
        # Range prints its bounds AND step — accept only small ROW counts
        m = re.match(r"Range \((-?\d+), (-?\d+), step=(-?\d+)", node)
        if m:
            lo, hi, step = (int(m.group(i)) for i in (1, 2, 3))
            return step != 0 and abs((hi - lo) // step) <= 100_000
        # a join of two bounded sides is itself bounded (|A| x |B|)
        if node.startswith(("BroadcastNestedLoopJoin", "CartesianProduct",
                            "BroadcastHashJoin")):
            kids = _children(lines, i)
            return len(kids) == 2 and all(
                _build_is_scalar(lines, k) for k in kids
            )
        if not node.startswith(_ROW_PRESERVING):
            return False
        kids = _children(lines, i)
        if len(kids) != 1:
            return False
        i = kids[0]


def _all_carts_scalar(plan: str) -> bool:
    """Every CartesianProduct / BroadcastNestedLoopJoin in the plan has a
    provably-1-row build side (scalar-subquery decorrelation shape)."""
    lines = plan.splitlines()
    found = False
    for i, line in enumerate(lines):
        node = _node(line)
        if node.startswith(("CartesianProduct", "BroadcastNestedLoopJoin")):
            found = True
            kids = _children(lines, i)
            if len(kids) != 2:
                return False
            if node.startswith("BroadcastNestedLoopJoin"):
                build = kids[1] if "BuildRight" in node else kids[0]
                if not _build_is_scalar(lines, build):
                    return False
            else:  # CartesianProduct: either side being scalar is enough
                if not (
                    _build_is_scalar(lines, kids[0])
                    or _build_is_scalar(lines, kids[1])
                ):
                    return False
    return found


def _parent(lines: list[str], i: int) -> int:
    d = _depth(lines[i])
    j = i - 1
    while j >= 0 and _depth(lines[j]) >= d:
        j -= 1
    return j


def _gwin_hits(plan: str) -> list[str]:
    """Unpartitioned-window detection: every ``Exchange SinglePartition``
    whose consumer chain (through partition-local Sort / WindowGroupLimit
    wrappers) is a Window, and whose input subtree is neither provably
    <=1 row nor marked bounded by the stitch naming conventions."""
    lines = plan.splitlines()
    hits: list[str] = []
    for i, line in enumerate(lines):
        if not _node(line).startswith("Exchange SinglePartition"):
            continue
        j = _parent(lines, i)
        while j >= 0 and _node(lines[j]).startswith(
            ("Sort", "WindowGroupLimit", "Project", "Filter",
             "WholeStageCodegen", "InputAdapter", "ColumnarToRow")
        ):
            j = _parent(lines, j)
        if j < 0 or not _node(lines[j]).startswith("Window"):
            continue
        kids = _children(lines, i)
        if len(kids) == 1 and _build_is_scalar(lines, kids[0]):
            continue
        sub = "\n".join(lines[k] for k in _subtree(lines, i))
        if "_stitch_pid" in sub or "_stitch_dom_" in sub:
            continue
        hits.append(_node(lines[j]).split("windowspecdefinition")[0][:80])
    return hits


def audit(name: str, df) -> list[tuple[str, str]]:
    flags: list[tuple[str, str]] = []
    plan = final_plan(df)
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        if _all_carts_scalar(plan):
            flags.append(
                ("SCART", "bounded broadcast join(s): every build side is a "
                 "keys=[] aggregate or literal local table — informational")
            )
        else:
            flags.append(("CART", "row-multiplying join"))
    if "BatchEvalPython" in plan:
        flags.append(("PYUDF", "row-at-a-time Python UDF"))
    if re.search(r"\bSort\b", plan) and "TakeOrderedAndProject" not in plan:
        # sorts inside SortMergeJoin / window are per-partition; a global
        # Sort shows as "Sort ... true, 0" (global=true)
        if re.search(r"Sort \[[^\]]*\], true,", plan):
            flags.append(("GSORT", "global sort outside top-k"))
    gwin = _gwin_hits(plan)
    if gwin:
        flags.append(
            ("GWIN", f"{len(gwin)} unpartitioned window(s) over unbounded "
             f"input: {'; '.join(gwin[:3])}")
        )
    n_exch = len(re.findall(r"Exchange (hash|range|SinglePartition)", plan))
    if n_exch > EXCH_THRESHOLD:
        flags.append(("EXCH", f"{n_exch} exchanges"))
    # multi-distinct rewrite (Expand) with a heavy per-group buffer
    # riding the expanded stream: every input row is replicated
    # N_distinct+1 times AND the buffer builds on the replicas — the
    # shape behind sketch_distinct_users' 109s->2.4s fix (SCALING.md
    # §9: split the distincts out when a percentile/collect rides)
    if re.search(r"\bExpand\b", plan) and re.search(
        r"\bpercentile\(|\bcollect_list\(|\bcollect_set\(", plan
    ):
        flags.append(
            ("XDIST", "multi-distinct Expand carrying a percentile/collect "
             "buffer — split the exact distincts into their own "
             "dedup-then-count aggregations")
        )
    return flags


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark("plan-audit", cores=8, shuffle_partitions=8)
    queries = entrymod.queries()
    bad = 0
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            flags = audit(name, df)
        except Exception as exc:  # noqa: BLE001 - audit must sweep on
            print(f"ERROR {name}: {exc}")
            bad += 1
            continue
        plan = final_plan(df)
        info = []
        if (
            re.search(r"\bFilter\b", plan)
            and "PushedFilters: [" not in plan.replace("PushedFilters: []", "")
            and re.search(r"PushedFilters: \[\]", plan)
        ):
            info.append("NOPUSH (predicate on computed column — informational)")
        info += [why for f, why in flags if f == "SCART"]
        flags = [(f, why) for f, why in flags if f != "SCART"]
        real = [(f, why) for f, why in flags if f not in ALLOW.get(name, {})]
        waived = [(f, ALLOW[name][f]) for f, _ in flags if f in ALLOW.get(name, {})]
        if real:
            bad += 1
            print(f"FLAG  {name}: " + "; ".join(f"{f} ({why})" for f, why in real))
        elif waived:
            print(f"ok*   {name}: " + "; ".join(f"{f} waived: {why}" for f, why in waived))
        elif info:
            print(f"ok~   {name}: " + "; ".join(info))
        else:
            print(f"ok    {name}")
    print(f"\n{bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
