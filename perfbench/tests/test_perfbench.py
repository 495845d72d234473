"""The benchmark's own tests: no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
for p in (ROOT, os.path.join(ROOT, "tests"), os.path.join(ROOT, "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)

from perfbench import datagen, metrics, workloads  # noqa: E402
from perfbench.trace import Span, Tracer, self_time  # noqa: E402


def test_tail_is_the_rank_with_ten_samples_beyond_it():
    t = metrics.tail([float(x) for x in range(20, 0, -1)])
    assert t == {"value": 10.0, "rank": 10, "n": 20, "percentile": 50.0}
    t = metrics.tail([float(x) for x in range(1, 12)])
    assert (t["value"], t["rank"], t["n"]) == (1.0, 1, 11)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        metrics.tail([1.0] * 10)


def test_end_to_end_reports_tail_only_beside_the_metrics():
    units = [{"seconds": 2.0, "complete": True, "ops": [("q", 0.1 * i) for i in range(1, 15)]}]
    values, t = metrics.end_to_end(3.0, units, 100.0)
    assert set(values) == {"setup_s", "pass_s", "op_p50_ms", "peak_rss_mb"}
    assert values["op_p50_ms"] == pytest.approx(750.0)
    assert t["rank"] == 4 and t["value_ms"] == pytest.approx(400.0)


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", parent, "r", start, end)


def test_self_time_subtracts_the_union_of_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0), _span(3, 8.0, 12.0, 0)]
    # children cover [1, 5] and [8, 10] of the parent: 6 of its 10 seconds
    assert self_time(parent, kids) == pytest.approx(4.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    tr = Tracer("run", enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner", module="m") as inner:
            pass
    assert inner.parent == outer.span_id and outer.parent is None
    assert inner.attrs == {"module": "m"} and inner.run_id == "run"
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer("run", enabled=False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []


def test_wrong_expected_output_raises_failed_ops_ratio():
    cols, rows = ["k", "v"], [(1, 0.5), (2, 1.25)]
    ok = workloads.Ledger()
    assert workloads.compare("q", ok, cols, rows, (["V", "K"], [(1.25, 2), (0.5, 1)]))
    assert ok.failed_ratio == 0
    bad = workloads.Ledger()
    assert not workloads.compare("q", bad, cols, rows, (["k", "v"], [(1, 0.5), (2, 1.5)]))
    assert bad.failed_ratio > 0 and bad.failures


def test_failed_operation_is_counted_not_raised():
    led = workloads.Ledger()
    ok, _ = led.run("op", lambda: 1 / 0)
    assert not ok and led.attempted == 1 and led.failed == 1


def test_expected_counts_match_the_committed_reference_scale_table():
    """At the reference scale and the fixture's default seed the pandas
    expectation equals the table SCALE_NOTES.md records for the engine."""
    from fixtures import trips_pdf

    got = workloads.expected_layer_counts(trips_pdf(450_000, seed=7, n_dups=50_000))
    assert list(got.values()) == [
        500_000, 450_000, 30, 499, 99, 49, 450_000, 450_000, 35_280, 1_470, 2_970, 98,
    ]


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = datagen.star_tables(str(tmp_path / "a"), 0.001, 3)
    datagen.star_tables(str(tmp_path / "b"), 0.001, 3)
    datagen.star_tables(str(tmp_path / "c"), 0.001, 4)
    assert a["lineitem"] == 6000 and a["documents"] == 50

    def read(d, t):
        return (tmp_path / d / f"{t}.parquet").read_bytes()

    assert all(read("a", t) == read("b", t) for t in a)
    assert read("a", "lineitem") != read("c", "lineitem")


def test_late_batch_adds_new_ids_after_the_existing_ones():
    from fixtures import trips_pdf

    raw = trips_pdf(1000, seed=5, n_dups=100)
    batch, new_ids = datagen.late_batch(raw, 5, 10, 20)
    assert len(batch) == 30 and len(new_ids) == 20
    assert min(new_ids) == raw["trip_id"].max() + 1
    assert batch["trip_id"].is_unique


def test_benchmark_json_declares_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared == metrics.PER_LAYER_UNITS
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == {k: metrics.UNITS[k] for k in ("setup_s", "pass_s", "op_p50_ms", "peak_rss_mb")}
    assert [w["name"] for w in bench["workloads"]] == list(workloads.DESIGN["workloads"])
    panel = workloads.DESIGN["workloads"]["query_panel"]
    assert set(workloads.DESIGN["query_module"]) == set(panel["queries"] + panel["cluster_queries"])
