"""Benchmark harness (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The driver captures only the TAIL of stdout (~2 KB) and parses the
final JSON line; round 6's single line outgrew that budget
(BENCH_r06.json `parsed: null` — VERDICT r06 #1). The final printed
line is therefore a COMPACT object (headline metric + warm per-query
timings + scalar totals, bounded well under the capture budget), while
the full payload — cold per-query detail, the extended operator panel,
error maps — is written to BENCH_DETAIL.json next to this file for the
judge and for cross-round diffing.

Each query is timed end-to-end (plan + execute); results are consumed
with a count-style action so nothing is collected to the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from distributed_mobility_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline subset: one per operator family, weighted toward shuffles/joins.
HEADLINE = [
    "agg_pricing_summary",
    "agg_hourly_demand",
    "agg_supply_demand_hourly",
    "agg_driver_daily_summary",
    "agg_top_k_per_group",
    "agg_cube_revenue",
    "star_trips_fact",
    "agg_shipping_priority",
    "agg_local_supplier_volume",
    "join_asof_orders_events",
    "join_ri_check",
    "dedup_keep_latest",
    "win_rolling_rows",
    "ml_demand_features",
    "stream_sessionize",
    "text_doc_stats",
    "dedup_docs_minhash_lsh",
    "sim_cosine_topk",
]


# Extended panel (round-5 operator families): timed warm-only and
# reported under queries_extended/extended_total — deliberately NOT part
# of `value`, so headline totals stay comparable across rounds.
EXTENDED = [
    "behavior_funnel",
    "graph_pagerank",
    "ts_resample_ffill",
    "join_point_in_time",
    "ml_freq_itemsets",
    "win_ewma_demand",
    "scale_table_checksum",
    "sim_prototype_confusion",
    "behavior_window_funnel",
    "behavior_attribution",
    "ts_seasonal_anomaly",
    "quality_expectations",
    # round-6 additions
    "text_winnow_fingerprints",
    "dedup_docs_winnow",
    "agg_quantile_rollup_hist",
    "agg_rolling_quantile_hist",
    "scale_row_diff",
    "agg_contribution_analysis",
    "quality_k_anonymity",
    "sim_embedding_drift",
    "pipeline_corpus_health",
    "agg_product_type_profit",
    "agg_min_cost_supplier",
    "agg_promotion_suppliers",
    "ts_cusum_alarms",
    "behavior_rfm_hist",
    "quality_robust_outliers_hist",
    "clean_winsorize_hist",
    # round-7 additions: the ANN queries flipped from rows-only to
    # hash-checked (fixed codebooks / deterministic hyperplanes)
    "sim_pq_encode",
    "sim_pq_ann",
    "sim_lsh_bucketed_ann",
    # round-8 additions: the fixed-model IVF and composed IVF-PQ twins
    # (both hash-checked; trained variants stay recall-pinned)
    "sim_ivf_ann_fixed",
    "sim_ivfpq_ann_fixed",
    # (dedup_docs_winnow_clusters / sample_cluster_safe_split are
    # excluded: their iterative pointer-doubling dominates panel wall
    # at ~10-12s each; they stay driver-checked + pytest-covered)
]


def _run_pass(spark, qs, names: list[str], errors: dict[str, str]) -> dict[str, float]:
    # One broken query must not zero the whole artifact: record its error
    # and keep timing the rest (r03 lost all numbers to a single
    # AnalysisException — see VERDICT r03 #4).
    timings: dict[str, float] = {}
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — bench must always emit JSON
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        timings[name] = round(time.time() - t0, 3)
    return timings


def _median(ts: list[float]) -> float:
    """True median: averages the two middle values for even-length run
    lists. ts[n//2] on an even list picks the upper value — biased high
    when a query fails one of three passes (ADVICE r08). Both branches
    round to 3 decimals so the helper is consistent on raw floats, not
    just on _run_pass's pre-rounded inputs (ADVICE r09)."""
    n = len(ts)
    if n % 2:
        return round(ts[n // 2], 3)
    return round((ts[n // 2 - 1] + ts[n // 2]) / 2.0, 3)


def _run_warm_median(
    spark,
    qs,
    names: list[str],
    errors: dict[str, str],
    repeats: int = 3,
    canary=None,
) -> tuple[dict[str, float], dict[str, list[float]], float, dict[str, int], dict]:
    """Warm panel with per-query median-of-N timings.

    Single-shot warm totals could not distinguish a ~10% regression from
    host variance (VERDICT r07 #1: an outlier query moved +48% in the
    capture and reverted on re-run). N full passes — pass-interleaved,
    not back-to-back per query, so each repeat sees the same cache state
    the old single warm pass saw — give a per-query median plus a
    dispersion figure, making round-over-round deltas signal.

    Intra-capture host drift (VERDICT r09 #2: a systematically slow
    third pass inflated every headline median's upper run and tripled
    warm_spread while the engine was unchanged) is handled two ways:
    (a) if ``canary`` is given it is invoked once per pass, immediately
    before the pass, so each pass carries its own host-speed sample;
    (b) a pass whose total over the always-successful query set exceeds
    1.5× the fastest pass's total is flagged DEGRADED and excluded from
    the per-query medians and the spread — provided ≥2 clean passes
    remain, so a genuinely bimodal engine can't hide by self-excluding.
    Raw per-pass runs are still reported unfiltered for transparency.

    Returns (medians, per-query runs, spread_sec, flaky, pass_info):
    spread_sec is the summed per-query half-range (max−min)/2 over the
    runs the medians actually used — an error bar on the warm total;
    flaky maps each query that failed SOME (not all) passes to its
    failure count (ADVICE r08); pass_info carries per-pass totals,
    per-pass canary timings, and the degraded-pass indices. A query
    that fails every pass lands in ``errors``; one that fails some
    passes keeps the median of its successful runs."""
    passes: list[dict[str, float]] = []
    pass_canaries: list[float | None] = []
    last_err: dict[str, str] = {}
    for _ in range(repeats):
        if canary is not None:
            pass_canaries.append(canary())
        pass_err: dict[str, str] = {}
        passes.append(_run_pass(spark, qs, names, pass_err))
        last_err.update(pass_err)
    # degraded-pass detection over the queries that succeeded in EVERY
    # pass, so a pass can't look fast merely by dropping a slow query
    common = [n for n in names if all(n in p for p in passes)]
    pass_totals = [round(sum(p[n] for n in common), 3) for p in passes]
    min_total = min(pass_totals) if common and pass_totals else 0.0
    degraded = [
        i for i, t in enumerate(pass_totals) if min_total and t > 1.5 * min_total
    ]
    if len(passes) - len(degraded) < 2:
        degraded = []  # never exclude down to a single-sample "median"
    medians: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    flaky: dict[str, int] = {}
    spread = 0.0
    for n in names:
        all_ts = [p[n] for p in passes if n in p]
        if not all_ts:
            errors[n] = last_err.get(n, "failed every warm pass")
            continue
        runs[n] = all_ts
        clean = [
            p[n] for i, p in enumerate(passes) if i not in degraded and n in p
        ]
        ts = sorted(clean if len(clean) >= 2 else all_ts)
        if len(all_ts) < repeats:
            flaky[n] = repeats - len(all_ts)
        medians[n] = _median(ts)
        spread += (ts[-1] - ts[0]) / 2.0
    pass_info = {
        "pass_totals": pass_totals,
        "pass_calibrations": pass_canaries,
        "degraded_passes": degraded,
        # pass_totals (and value_normalized_perpass built on them) sum
        # only the n_common queries that succeeded in EVERY pass, while
        # the headline `value` sums medians over all timed queries
        # (ADVICE r10: a slow query flaking one pass silently shrinks
        # the perpass numerator — consumers compare n_common across
        # rounds to detect set shrinkage before comparing the figure).
        "n_common": len(common),
    }
    return medians, runs, round(spread, 3), flaky, pass_info


def _canary_once(spark):
    """Single-shot host-speed sample: one full lineitem scan-count,
    timed once (ADVICE r12). Invoked once per warm pass so each pass
    carries its own host-speed reading — a one-sample end-of-capture
    canary cannot normalize intra-capture drift (VERDICT r09: the
    canary ran in a fast window while pass 3 hit the slow one). Returns
    None on failure — the canary must never kill the pass."""
    try:
        df = entrymod._t(spark, SF_DIR, "lineitem")
        t0 = time.time()
        df.count()
        return round(time.time() - t0, 4)
    except Exception:  # noqa: BLE001 — bench must always emit JSON
        return None


def _canary_min2(spark):
    """Shared min-of-2 host-speed sample — used for BOTH the cold-window
    calibrations and the per-pass warm canaries; it is the sample that
    defines the r11 'min2' canary regime (ADVICE r11: an earlier version
    of this docstring described only the cold-window role). Cold usage
    (VERDICT r10 #4): runs immediately AFTER a cold pass — never before,
    which would pre-warm the page cache the cold pass exists to measure.
    Min-of-2 because the first count in a fresh JVM carries codegen/JIT
    on the count-agg path (ADVICE r10: the warm-up loop only exercises
    the noop-write scan path), and because the ~100 ms canary window is
    burst-sensitive — min() suppresses single-shot host-burst noise
    while sustained contention still registers in both samples."""
    # `is not None`, not truthiness (ADVICE r16): a legitimate 0.0 sample
    # must not be dropped — same rule canary_anchor applies one level up.
    samples = [
        s for s in (_canary_once(spark), _canary_once(spark)) if s is not None
    ]
    return min(samples) if samples else None


def _detect_persist_warmed(spark, qs, names: list[str]) -> list[str]:
    """Names whose executed plan reads a CacheManager entry
    (InMemoryTableScan / InMemoryRelation) — i.e. whose warm repeats
    are persist-warmed (VERDICT r19 #7). Builds each query once more
    and reads its plan after all timed passes, so no job runs inside a
    timed region. It is not job-free: eager builders (graph_pagerank's
    node count, for one) run jobs while the query is built. CacheManager
    substitution is session-global, so a name is flagged when any
    cached fragment in the session matches its plan, not only its own
    persists. Best-effort — a detection failure must never affect the
    artifact beyond omitting that name."""
    warmed: list[str] = []
    for name in names:
        try:
            plan = (
                qs[name](spark, SF_DIR)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            if "InMemoryTableScan" in plan or "InMemoryRelation" in plan:
                warmed.append(name)
        except Exception:  # noqa: BLE001 — bench must always emit JSON
            continue
    return warmed


def _parallelism_echo(spark) -> dict:
    """The parallelism the session actually resolved (detail-only): a
    ``local[N]`` the harness ignored shows up here as direct evidence
    instead of being inferred from timings."""
    sc = spark.sparkContext
    return {"default_parallelism": sc.defaultParallelism, "master": sc.master}


def main() -> None:
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    spark = get_spark("bench")
    qs = entrymod.queries()
    # the headline set is the closed list above — rounds stay comparable
    # only if nothing can join it implicitly
    names = [n for n in HEADLINE if n in qs]
    # COLD pass: first execution in a fresh JVM — includes codegen/JIT and
    # first-touch scan I/O (caches warm progressively as the pass runs, so
    # only the earliest queries see a truly cold page cache).
    # separate error maps per pass: a transient cold failure that
    # succeeds warm must not leave the artifact self-contradictory
    # (listed in errors AND contributing to the warm total)
    errors_cold: dict[str, str] = {}
    errors: dict[str, str] = {}
    cold = _run_pass(spark, qs, names, errors_cold)
    # Cold-window host-speed sample (VERDICT r10 #4): taken immediately
    # AFTER the cold pass (before would pre-warm the pages the cold pass
    # measures). cold_total / cold_calibration gives a drift-adjusted
    # cold figure; a cold_calibration far above the warm passes' flags a
    # contended cold window that the one-shot regime can't retry away.
    cold_calibration = _canary_min2(spark)
    # Extended-panel cold pass (VERDICT r09 #6): one shot, same regime as
    # the headline cold pass — fresh-JVM codegen/JIT cost is real, but
    # page caches warm progressively as the pass runs (and the headline
    # cold pass already touched the shared tables), so this measures
    # "first execution in this JVM", not first-touch disk I/O.
    ext_names = [n for n in EXTENDED if n in qs]
    errors_ext_cold: dict[str, str] = {}
    ext_cold = _run_pass(spark, qs, ext_names, errors_ext_cold)
    ext_cold_calibration = _canary_min2(spark)
    # Warm-up: pull every input table through the scan path once more
    # (page cache + parquet footers + codegen) so the warm pass measures
    # steady-state query cost, not first-touch I/O or JIT — the number
    # comparable across rounds.
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        try:
            entrymod._t(spark, SF_DIR, t).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
    # throwaway count so pass-1's per-pass canary measures host speed,
    # not count-agg codegen/JIT (ADVICE r10: the warm-up loop above only
    # exercises the noop-write scan path). Usually already warm via the
    # cold calibrations, but those are allowed to fail silently.
    _canary_once(spark)
    # per-pass canary is min-of-2 (r11): the canary window is ~100 ms,
    # so a transient host burst inside it distorts that pass's ratio by
    # several × even when the pass total (a multi-second average) was
    # clean — observed this round as warm ratios [57, 153, 231] over
    # flat pass totals [17.3, 16.5, 17.4]. min-of-2 suppresses
    # single-shot burst noise; sustained contention still registers in
    # both samples (and in the pass total, where the 1.5× exclusion
    # fires).
    canary = lambda: _canary_min2(spark)  # noqa: E731 — per-pass host sample
    timings, warm_runs, warm_spread, warm_flaky, warm_passes = _run_warm_median(
        spark, qs, names, errors, canary=canary
    )
    # Extended panel gets the same median-of-3 treatment as of r09
    # (VERDICT r08 #2): single-shot extended timings left ANN/pagerank
    # deltas — the panel's dominant costs — unattributable to plan
    # changes vs host variance.
    errors_ext: dict[str, str] = {}
    extended, ext_runs, ext_spread, ext_flaky, ext_passes = _run_warm_median(
        spark, qs, ext_names, errors_ext, canary=canary
    )
    # Warm-median interpretability (VERDICT r19 #7, additions-only):
    # operators with internal multi-consumer `persist()` calls leave
    # their intermediate cached after pass 1 (CacheManager matches the
    # re-built identical plan), so passes 2-3 measure "intermediate
    # already hot" for those queries. Not cross-run caching — every
    # cold pass and fresh JVM pays full cost — but warm medians for the
    # queries listed here warm more than page cache. Detected from the
    # executed plan AFTER all timed passes (construction only; nothing
    # here executes inside a timed region).
    persist_warmed = _detect_persist_warmed(spark, qs, names + ext_names)
    total = round(sum(timings.values()), 3)
    # per-pass-normalized warm total: median over passes of
    # pass_total / that pass's own canary — immune to drift BETWEEN
    # passes, unlike total/calibration which divides a multi-window sum
    # by a single-window sample (the r09 misreport)
    ratios = sorted(
        t / c
        for t, c in zip(warm_passes["pass_totals"], warm_passes["pass_calibrations"])
        if c
    )
    value_normalized_perpass = round(_median(ratios), 2) if ratios else None
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # per-query MEDIAN of warm_repeats full warm passes (r08+; r07
        # and earlier were single-shot — see _run_warm_median)
        "queries": timings,
        "warm_repeats": 3,
        # summed per-query half-range across the warm repeats: the error
        # bar on `value`. Cross-round deltas smaller than ~2× this are
        # host variance, not engine changes.
        "warm_spread_sec": warm_spread,
        "warm_rel_spread": round(warm_spread / total, 4) if total else None,
        "queries_warm_runs": warm_runs,
        # per-pass drift instrumentation (r10+, VERDICT r09 #2): each
        # warm pass's total over the always-successful set, its own
        # canary sample, and any pass excluded from medians for running
        # >1.5× the fastest pass (raw runs above stay unfiltered)
        "warm_pass_totals": warm_passes["pass_totals"],
        "warm_pass_calibrations": warm_passes["pass_calibrations"],
        "warm_degraded_passes": warm_passes["degraded_passes"],
        # size of the always-successful set behind pass_totals (and thus
        # value_normalized_perpass) — compare across rounds before the
        # perpass figure to detect numerator shrinkage (ADVICE r10)
        "warm_pass_n_common": warm_passes["n_common"],
        "value_normalized_perpass": value_normalized_perpass,
        # canary regime marker: per-pass canaries are min-of-2 from r11
        # (r10 was single-shot). min() picks the low tail of a noisy
        # distribution, so the perpass DENOMINATOR shifted down and
        # perpass LEVELS are not comparable across the regime break
        # (r10 ~158 vs r11 ~234 on equivalent code) — compare perpass
        # only within the same canary_regime.
        "canary_regime": "min2",
        "cold_total": round(sum(cold.values()), 3),
        "queries_cold": cold,
        # extended-panel one-shot cold (r10+, VERDICT r09 #6): same
        # fresh-JVM regime as cold_total; runs after the headline cold
        # pass so shared tables' page caches are already part-warm
        "extended_cold_total": round(sum(ext_cold.values()), 3),
        "queries_extended_cold": ext_cold,
        "n_errors_extended_cold": len(errors_ext_cold),
        # window-local cold canaries + cold totals normalized by them
        # (r11+, VERDICT r10 #4): min-of-2 lineitem scan-count taken
        # right after each cold pass, so each one-shot cold figure
        # carries its own host-speed reading. Prefer the *_window
        # normalized figures for cross-round cold comparisons.
        "cold_calibration": cold_calibration,
        "extended_cold_calibration": ext_cold_calibration,
        "cold_total_normalized_window": (
            round(sum(cold.values()) / cold_calibration, 2)
            if cold_calibration
            else None
        ),
        "extended_cold_total_normalized_window": (
            round(sum(ext_cold.values()) / ext_cold_calibration, 2)
            if ext_cold_calibration
            else None
        ),
        # (the legacy end-of-run `calibration` / `value_normalized` /
        # `cold_total_normalized` fields were retired in r12 — VERDICT
        # r11 #4. A single end-of-capture canary divides a multi-window
        # sum by a one-window sample (the r09 misreport); the regime-aware
        # replacements are value_normalized_perpass for warm and the
        # *_normalized_window figures for cold. bench_history.py tags
        # pre-r12 rounds so the break is visible on both sides.)
        # partial-total guard: value/cold_total cover n_timed of
        # n_queries — consumers must not compare totals across rounds
        # when n_errors > 0 (a dropped query shrinks the sum).
        "n_queries": len(names),
        "n_timed": len(timings),
        "n_errors": len(errors),
        "n_errors_cold": len(errors_cold),
        # round-5 operator panel, warm-only, excluded from `value`.
        # Per-query MEDIAN of extended_repeats passes (r09+; r08 and
        # earlier were single-shot — detect via absent extended_repeats).
        "queries_extended": extended,
        "extended_total": round(sum(extended.values()), 3),
        "extended_repeats": 3,
        "extended_spread_sec": ext_spread,
        "queries_extended_runs": ext_runs,
        "extended_pass_totals": ext_passes["pass_totals"],
        "extended_pass_calibrations": ext_passes["pass_calibrations"],
        "extended_degraded_passes": ext_passes["degraded_passes"],
        "extended_pass_n_common": ext_passes["n_common"],
        "n_errors_extended": len(errors_ext),
        # queries whose warm repeats re-read an internal persist()'s
        # cache blocks (r20, VERDICT r19 #7 — additions-only field;
        # detection is post-measurement plan inspection, see
        # _detect_persist_warmed). Cross-round consumers: these warm
        # medians measure "multi-consumer intermediate already hot".
        "persist_warmed": persist_warmed,
        **_parallelism_echo(spark),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if warm_flaky:
        payload["warm_flaky"] = warm_flaky
    if ext_flaky:
        payload["extended_flaky"] = ext_flaky
    if errors:
        payload["errors"] = errors
    if errors_cold:
        payload["errors_cold"] = errors_cold
    if errors_ext:
        payload["errors_extended"] = errors_ext
    if errors_ext_cold:
        payload["errors_extended_cold"] = errors_ext_cold
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(payload, f, indent=2)
    except OSError as exc:  # read-only checkout / disk full: the detail
        # file is a nicety — the compact line below must still be emitted
        print(f"bench: could not write {detail_path}: {exc}", file=sys.stderr)
    print(_compact_line(payload))
    spark.stop()


def _compact_line(payload: dict) -> str:
    """The driver keeps only the tail of stdout (~2 KB) and parses the
    final JSON line, so it must stay compact. Keeps every scalar plus the
    warm headline per-query map the contract requires; cold/extended
    per-query detail stays in BENCH_DETAIL.json."""
    compact = {
        k: payload[k]
        for k in (
            "metric", "value", "unit", "queries", "warm_repeats",
            "warm_spread_sec", "warm_rel_spread", "cold_total",
            "value_normalized_perpass", "canary_regime",
            "warm_pass_calibrations",
            "warm_pass_n_common", "cold_calibration",
            "extended_cold_calibration", "cold_total_normalized_window",
            "extended_cold_total_normalized_window",
            "warm_degraded_passes", "extended_degraded_passes",
            "n_queries", "n_timed", "n_errors", "n_errors_cold",
            "extended_total", "extended_cold_total", "extended_repeats",
            "extended_spread_sec", "n_errors_extended",
            "n_errors_extended_cold", "warm_flaky", "extended_flaky", "sf",
        )
        if k in payload
    }
    compact["detail"] = "BENCH_DETAIL.json"
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1600:
        # degrade, never die: shed the per-query map before the scalars —
        # a parseable headline total beats a complete-but-truncated line.
        # The flaky maps are also unbounded (up to 18+33 long query
        # names if every query flakes — ADVICE r09): collapse each to
        # its count so a heavily flaky run can't outgrow the tail.
        compact.pop("queries", None)
        for k in ("warm_flaky", "extended_flaky"):
            if k in compact:
                compact[f"n_{k}"] = len(compact.pop(k))
        line = json.dumps(compact, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
