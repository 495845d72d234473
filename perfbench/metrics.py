"""End-to-end and per-layer metrics, from unit timings and spans.

Every run prints every metric of its kind, so a workload reports a layer
it does not exercise as 0: no work was done there. ``PER_LAYER_UNITS``
is the list ``BENCHMARK.json`` declares; a test keeps the two equal.
"""

from __future__ import annotations

import statistics

from perfbench.trace import self_time
from perfbench.workloads import DESIGN, GOLD_TABLES, LAYERS

TAIL_BEYOND = 10
PANEL_MODULES = sorted(
    {DESIGN["query_module"][q] for q in DESIGN["workloads"]["query_panel"]["queries"]}
)
CORPUS_QUERIES = DESIGN["workloads"]["query_panel"]["cluster_queries"]
PRICING = "queries.aggregates.agg_pricing_summary.execute_ms"

UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MiB",
}


def _per_layer_units() -> dict[str, str]:
    u = {}
    for layer in LAYERS:
        u[f"medallion.{layer}_s"] = "s"
    u["medallion.gold.construct_s"] = "s"
    for t in GOLD_TABLES:
        u[f"medallion.gold.{t}_s"] = "s"
    for layer in LAYERS:
        for k in ("rows_in", "rows_out", "rows_rejected"):
            u[f"medallion.{layer}.{k}"] = "rows"
        u[f"writers.{layer}.bytes_written_mb"] = "MiB"
        u[f"writers.{layer}.files_written"] = "count"
    u["writers.upsert_s"] = "s"
    u["writers.upsert_bytes_rewritten_mb"] = "MiB"
    u["writers.upsert_rewrite_ratio"] = "ratio"
    for m in PANEL_MODULES:
        u[f"queries.{m}.construct_ms"] = "ms"
        u[f"queries.{m}.execute_ms"] = "ms"
    u[PRICING] = "ms"
    for q in CORPUS_QUERIES:
        u[f"corpus.{q}.construct_ms"] = "ms"
        u[f"corpus.{q}.execute_ms"] = "ms"
        u[f"corpus.{q}.jobs"] = "count"
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        u[f"spark.{k}"] = "count"
    u["session.start_s"] = "s"
    u["trace.overhead_pct"] = "%"
    u["trace.unit_self_ms"] = "ms"
    return u


PER_LAYER_UNITS = _per_layer_units()
UNITS.update(PER_LAYER_UNITS)


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> dict:
    """The highest percentile with at least ``beyond`` samples above it.

    In ``n`` sorted samples the one at 1-based rank ``n - beyond`` has
    exactly ``beyond`` samples after it; every higher rank has fewer.
    Returns the value, its rank, the sample count and the percentile the
    rank stands for. Fewer than ``beyond + 1`` samples have no such rank.
    """
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    rank = n - beyond
    return {
        "value": sorted(samples)[rank - 1],
        "rank": rank,
        "n": n,
        "percentile": 100.0 * rank / n,
    }


def end_to_end(setup_s: float, units: list[dict], peak_mb: float) -> tuple[dict, dict]:
    """The end-to-end values, and the operation-latency tail for the
    detail line: a run holds too few operations for a tail with ten
    samples beyond it to be more than a low percentile, so the tail is
    reported beside the metrics, with its rank and sample count."""
    # a unit with a failed operation is no full pass; it still counts
    # when no unit is complete, and the run then reports itself incorrect
    passes = [u["seconds"] for u in units if u["complete"]] or [u["seconds"] for u in units]
    ops = [s for u in units for _, s in u["ops"]] or [0.0]
    values = {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes),
        "op_p50_ms": 1000 * statistics.median(ops),
        "peak_rss_mb": peak_mb,
    }
    if len(ops) <= TAIL_BEYOND:
        return values, {"n": len(ops)}
    t = tail(ops)
    t["value_ms"] = 1000 * t.pop("value")
    return values, t


def _median_by_name(tracer, units: list[dict]) -> dict[str, float]:
    """For each name ``_layer_values`` gives, the median over traced units
    of the summed values of that unit's spans."""
    per_unit: list[dict[str, float]] = []
    for u in units:
        if not u["traced"]:
            continue
        sums: dict[str, float] = {}
        stack = list(tracer.children(u["span"]))
        while stack:
            sp = stack.pop()
            stack.extend(tracer.children(sp))
            for name, v in _layer_values(tracer, sp):
                sums[name] = sums.get(name, 0.0) + v
        per_unit.append(sums)
    names = {n for d in per_unit for n in d}
    return {n: statistics.median(d.get(n, 0.0) for d in per_unit) for n in names}


def _layer_values(tracer, sp) -> list[tuple[str, float]]:
    name, d = sp.name, sp.duration
    if name in ("medallion.bronze", "medallion.silver"):
        return [(f"{name}_s", d)]
    if name.startswith("medallion.gold."):
        return [(f"{name}_s", d), ("medallion.gold_s", d)]
    if name == "writers.merge_upsert":
        return [("writers.upsert_s", d)]
    if name.startswith("query."):
        q, module = name[len("query."):], sp.attrs["module"]
        out = []
        for c in tracer.children(sp):
            ms = 1000 * c.duration
            if q in CORPUS_QUERIES:
                out.append((f"corpus.{q}.{c.name}_ms", ms))
                if c.name == "construct":
                    out.append((f"corpus.{q}.jobs", tracer.totals(c)["jobs"]))
            else:
                out.append((f"queries.{module}.{c.name}_ms", ms))
                if q == "agg_pricing_summary" and c.name == "execute":
                    out.append((PRICING, ms))
        return out
    return []


def per_layer(wl, tracer, units: list[dict], session_s: float) -> dict:
    """Per-layer values from the traced units. Untraced units run before
    and after each traced one, so ``trace.overhead_pct`` compares units
    equally far from the warm-up."""
    values = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    values.update(_median_by_name(tracer, units))
    values.update(wl.layer_values())
    traced = [u for u in units if u["traced"]]
    plain = [u["seconds"] for u in units if not u["traced"]]
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        values[f"spark.{k}"] = statistics.median(
            tracer.totals(u["span"])[k] for u in traced
        )
    values["session.start_s"] = session_s
    t_on = statistics.median(u["seconds"] for u in traced)
    t_off = statistics.median(plain)
    values["trace.overhead_pct"] = 100 * (t_on - t_off) / t_off
    unit_self = [self_time(u["span"], tracer.children(u["span"])) for u in traced]
    values["trace.unit_self_ms"] = 1000 * statistics.median(unit_self)
    return values
