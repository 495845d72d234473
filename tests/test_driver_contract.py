"""Driver-contract invariants: the artifacts the per-round driver
consumes must stay structurally valid — broken rotation names or
queries/oracle drift would silently shrink the correctness gate."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_rotation_names_and_oracle_subset():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    # the rotation reorders, never adds or drops, names
    assert set(q) == set(entrymod._all_queries())
    assert set(o) == set(entrymod._all_oracle_sql())
    # oracle keys are a subset of queries; both dicts share the window order
    assert set(o) <= set(q)
    head = [n for n in list(q)[:50] if n in o]
    assert list(o)[: len(head)] == head
    # the driver's 50-slot window must be fully oracle-backed or
    # intentionally rows-only — i.e. every windowed name is a real query
    window = list(o)[:50]
    assert all(name in q for name in window)


def test_bench_final_line_fits_tail_capture():
    # BENCH_r06.json recorded `parsed: null` because the single JSON line
    # outgrew the driver's ~2 KB tail capture. Pin the fix: a worst-case
    # payload (every headline query timed warm+cold, full extended panel,
    # error maps) must still produce a final line under the budget, and
    # that line must parse standalone.
    import json

    import bench

    payload = {
        "metric": "headline_queries_total",
        "value": 14.47,
        "unit": "sec",
        "queries": {n: 123.456 for n in bench.HEADLINE},
        "warm_repeats": 3,
        "warm_spread_sec": 1.301,
        "warm_rel_spread": 0.0788,
        "queries_warm_runs": {n: [123.4, 123.5, 123.6] for n in bench.HEADLINE},
        "cold_total": 28.01,
        "queries_cold": {n: 123.456 for n in bench.HEADLINE},
        "n_queries": len(bench.HEADLINE),
        "n_timed": len(bench.HEADLINE),
        "n_errors": 2,
        "n_errors_cold": 2,
        "queries_extended": {n: 123.456 for n in bench.EXTENDED},
        "extended_total": 99.9,
        "extended_repeats": 3,
        "extended_spread_sec": 2.345,
        "queries_extended_runs": {n: [123.4, 123.5] for n in bench.EXTENDED},
        "extended_pass_totals": [99.1, 99.9, 101.2],
        "extended_pass_calibrations": [0.0652, 0.0713, 0.0699],
        "extended_degraded_passes": [2],
        "warm_pass_totals": [14.1, 14.5, 33.2],
        "warm_pass_calibrations": [0.0652, 0.0713, 0.0699],
        "warm_degraded_passes": [2],
        "value_normalized_perpass": 212.31,
        "canary_regime": "min2",
        "warm_pass_n_common": 18,
        "extended_pass_n_common": 33,
        "cold_calibration": 0.0915,
        "extended_cold_calibration": 0.0693,
        "cold_total_normalized_window": 355.66,
        "extended_cold_total_normalized_window": 1030.62,
        "extended_cold_total": 101.5,
        "queries_extended_cold": {n: 123.456 for n in bench.EXTENDED},
        "n_errors_extended": 1,
        "n_errors_extended_cold": 1,
        "warm_flaky": {"dedup_docs_minhash_lsh": 1},
        "extended_flaky": {"graph_pagerank": 2},
        "sf": 0.1,
        "errors": {"q": "x" * 300},
        "errors_cold": {"q": "x" * 300},
        "errors_extended": {"q": "x" * 300},
        "errors_extended_cold": {"q": "x" * 300},
    }
    line = bench._compact_line(payload)
    assert len(line) <= 1600, f"compact bench line is {len(line)} bytes"
    parsed = json.loads(line)
    # contract fields the driver/judge read
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["value"] == 14.47 and parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1 and "queries" in parsed
    # detail payload must NOT leak into the compact line
    assert "queries_cold" not in parsed and "queries_extended" not in parsed
    assert "queries_warm_runs" not in parsed
    assert "queries_extended_runs" not in parsed
    assert "queries_extended_cold" not in parsed
    # flaky-pass markers must survive into the compact line so a partial
    # warm failure is visible to the driver, not just the detail file
    assert parsed["warm_flaky"] == {"dedup_docs_minhash_lsh": 1}
    assert parsed["extended_spread_sec"] == 2.345
    # r10 drift instrumentation the judge reads from the compact line
    assert parsed["warm_degraded_passes"] == [2]
    assert parsed["warm_pass_calibrations"] == [0.0652, 0.0713, 0.0699]
    assert parsed["value_normalized_perpass"] == 212.31
    assert parsed["extended_cold_total"] == 101.5
    # r11 additions: cold-window canaries + perpass numerator set size
    # must reach the compact line (the judge reads shrinkage/contention
    # from there; window-normalized cold figures ride along)
    assert parsed["warm_pass_n_common"] == 18
    assert parsed["canary_regime"] == "min2"
    assert parsed["cold_calibration"] == 0.0915
    assert parsed["extended_cold_calibration"] == 0.0693
    assert parsed["cold_total_normalized_window"] == 355.66
    assert parsed["extended_cold_total_normalized_window"] == 1030.62
    # per-pass totals are detail-only (3 lists × 2 panels would crowd
    # the tail budget); the calibrations + degraded flags suffice
    assert "warm_pass_totals" not in parsed
    # extended_pass_n_common is likewise detail-only (ADVICE r11: pin
    # the intended omission — only the WARM numerator size gates the
    # perpass headline; the extended panel is context-only)
    assert "extended_pass_n_common" not in parsed
    # r12: the legacy single-end-of-capture-canary fields were retired
    # (VERDICT r11 #4) — bench no longer computes them, and even if a
    # stale payload carries them the compact line must not re-admit them
    legacy = dict(payload)
    legacy.update(
        {"calibration": 0.0538, "value_normalized": 276.43,
         "cold_total_normalized": 559.83}
    )
    parsed_legacy = json.loads(bench._compact_line(legacy))
    for k in ("calibration", "value_normalized", "cold_total_normalized"):
        assert k not in parsed, k
        assert k not in parsed_legacy, k

    # ADVICE r09: the >1600 fallback must ALSO shed the flaky maps —
    # worst case is every headline+extended query flaky with long names,
    # which previously survived the fallback unbounded
    worst = dict(payload)
    worst["warm_flaky"] = {n: 1 for n in bench.HEADLINE}
    worst["extended_flaky"] = {n: 2 for n in bench.EXTENDED}
    line2 = bench._compact_line(worst)
    assert len(line2) <= 1600, f"fallback line is {len(line2)} bytes"
    parsed2 = json.loads(line2)
    if "warm_flaky" not in parsed2:  # fallback fired: counts replace maps
        assert parsed2["n_warm_flaky"] == len(bench.HEADLINE)
        assert parsed2["n_extended_flaky"] == len(bench.EXTENDED)

    # r20 (VERDICT r19 #7): persist_warmed is detail-only — it can list
    # dozens of names and must not crowd the compact tail budget
    marked = dict(payload)
    marked["persist_warmed"] = list(bench.HEADLINE) + list(bench.EXTENDED)
    assert "persist_warmed" not in json.loads(bench._compact_line(marked))


def test_detect_persist_warmed_flags_cached_plans(spark, sf_dir):
    """r20 (VERDICT r19 #7): the post-measurement detector must flag a
    query whose plan reads CacheManager blocks and pass over one that
    does not — and never raise on a broken query."""
    import bench

    cached = spark.range(10).persist()
    try:
        fake_qs = {
            "with_persist": lambda s, d: cached.selectExpr("id * 2 AS v"),
            # range(20), not range(10): CacheManager substitutes the
            # cache into ANY matching analyzed plan, so an identical
            # range(10) is legitimately flagged as cache-reading
            "plain": lambda s, d: s.range(20).selectExpr("id * 2 AS v"),
            "broken": lambda s, d: (_ for _ in ()).throw(ValueError("x")),
        }
        warmed = bench._detect_persist_warmed(
            spark, fake_qs, ["with_persist", "plain", "broken"]
        )
        assert warmed == ["with_persist"]
    finally:
        cached.unpersist()


def test_bench_detail_echoes_resolved_parallelism(spark):
    """BENCH_DETAIL.json records the session's resolved
    ``defaultParallelism`` and master string; both stay out of the
    compact stdout line."""
    import inspect
    import json

    import bench

    sc = spark.sparkContext
    echo = bench._parallelism_echo(spark)
    assert echo == {"default_parallelism": sc.defaultParallelism, "master": sc.master}
    assert isinstance(echo["default_parallelism"], int)
    assert echo["default_parallelism"] >= 1 and echo["master"]
    assert "**_parallelism_echo(spark)" in inspect.getsource(bench.main)
    parsed = json.loads(bench._compact_line({"metric": "m", "value": 1.0, **echo}))
    assert "default_parallelism" not in parsed and "master" not in parsed


def test_bench_degraded_pass_exclusion(monkeypatch):
    # VERDICT r09 #2: a systematically slow pass (host contention) must
    # be excluded from medians/spread when >=2 clean passes remain, be
    # flagged in pass_info, and keep raw runs unfiltered. Spark-free:
    # canned per-pass timings via a monkeypatched _run_pass.
    import bench

    canned = [
        {"q1": 1.0, "q2": 2.0},
        {"q1": 1.1, "q2": 2.1},
        {"q1": 2.9, "q2": 5.0},  # pass 3: >1.5x the min pass total
    ]
    calls = iter(canned)
    monkeypatch.setattr(bench, "_run_pass", lambda sp, qs, ns, err: next(calls))
    meds, runs, spread, flaky, info = bench._run_warm_median(
        None, {}, ["q1", "q2"], {}, repeats=3, canary=lambda: 0.05
    )
    assert info["degraded_passes"] == [2]
    assert info["pass_totals"] == [3.0, 3.2, 7.9]
    assert info["pass_calibrations"] == [0.05, 0.05, 0.05]
    # ADVICE r10: pass_totals sum only the always-successful set — its
    # size must be reported so perpass-numerator shrinkage is detectable
    assert info["n_common"] == 2
    # medians over the two clean passes (even-length -> averaged)
    assert meds == {"q1": 1.05, "q2": 2.05}
    # raw runs stay unfiltered for transparency
    assert runs["q1"] == [1.0, 1.1, 2.9]
    assert not flaky
    # spread covers only the runs the medians used
    assert spread == round((1.1 - 1.0) / 2 + (2.1 - 2.0) / 2, 3)

    # no exclusion when it would leave <2 clean passes: two degraded of
    # three must disable the filter entirely
    canned2 = [
        {"q1": 1.0},
        {"q1": 9.0},
        {"q1": 9.1},
    ]
    calls2 = iter(canned2)
    monkeypatch.setattr(bench, "_run_pass", lambda sp, qs, ns, err: next(calls2))
    meds2, _, _, _, info2 = bench._run_warm_median(
        None, {}, ["q1"], {}, repeats=3
    )
    assert info2["degraded_passes"] == []
    assert meds2 == {"q1": 9.0}
    assert info2["pass_calibrations"] == []  # no canary passed


def test_bench_median_even_run_lists():
    # ADVICE r08: ts[len//2] on an even-length list picks the upper of
    # the two middle values (biased high when a query fails one of three
    # warm passes). Pin the true-median behavior.
    import bench

    assert bench._median([1.0, 2.0, 3.0]) == 2.0
    assert bench._median([1.0, 2.0]) == 1.5
    assert bench._median([4.0]) == 4.0
    assert bench._median([1.0, 2.0, 3.0, 10.0]) == 2.5


def test_entry_query_is_registered(spark):
    # entry() must correspond to a queries() member so the smoke check
    # and the correctness gate exercise the same code path
    df = entrymod.queries()["agg_hourly_demand"](spark, "/root/testdata/sf0.001")
    assert df.columns == ["hour_ts", "event_type", "event_count", "avg_value"]


def test_canary_anchor_protocol_is_pinned():
    # SCALE_NOTES r14: anchor readings are only comparable across rounds
    # at the same (ramp, samples) depth — the canary path keeps speeding
    # up with session depth, so a silent protocol change would shift the
    # anchor level and break the host-drift counter-experiment. Bump
    # these constants only with a SCALE_NOTES entry declaring the break.
    # (tools/ is on sys.path via conftest's single shared insert.)
    import canary_anchor

    assert canary_anchor.RAMP_SCANS == 6
    assert canary_anchor.DEFAULT_SAMPLES == 8


def test_canary_anchor_ramp_series_is_uniformly_numeric():
    # ADVICE r14: bench._canary_once returns None on failure; the anchor
    # JSON must keep ramp_samples purely numeric (downstream tooling
    # reads the series without a None guard) and report failures as a
    # count instead.
    import canary_anchor

    ramp, failures = canary_anchor.split_ramp([0.21, None, 0.18, None, 0.17])
    assert ramp == [0.21, 0.18, 0.17]
    assert failures == 2
    assert canary_anchor.split_ramp([])[1] == 0


def test_canary_anchor_samples_use_explicit_none_split():
    # ADVICE r15: the min2 samples line filtered with truthiness
    # (`if s`), which dropped a legitimate 0.0 reading the same way it
    # dropped None. Both the ramp and the min2 samples now go through
    # split_ramp — explicit `is not None`, zeros retained, failures
    # surfaced as a symmetric count in the emitted JSON.
    import inspect

    import canary_anchor

    assert canary_anchor.split_ramp([0.0, None, 0.1]) == ([0.0, 0.1], 1)
    src = inspect.getsource(canary_anchor.main)
    assert src.count("split_ramp(") >= 2
    assert '"sample_failures"' in src


def test_bench_canary_min2_retains_zero_samples(monkeypatch):
    # ADVICE r16: the same truthiness-vs-None bug fixed in canary_anchor
    # (r15) existed one level down in bench._canary_min2 — `if s` would
    # drop a legitimate 0.0 wall-clock sample. Pin the `is not None`
    # behavior: two 0.0 samples must yield min2 == 0.0, not None.
    import bench

    monkeypatch.setattr(bench, "_canary_once", lambda spark: 0.0)
    assert bench._canary_min2(spark=None) == 0.0
    # and a None (failed) sample is still excluded, not min()'d
    seq = iter([None, 0.2])
    monkeypatch.setattr(bench, "_canary_once", lambda spark: next(seq))
    assert bench._canary_min2(spark=None) == 0.2


def test_bench_history_reuses_shared_round_parser():
    # the artifact round number must be parsed by ONE shared helper
    # (__spark_entry__.round_of) so the sort key and the printed round
    # can't drift apart
    import bench_history

    assert bench_history.round_of is entrymod.round_of
    assert bench_history.round_of("/x/BENCH_r100.json") == 100
    # a capture suffix after the round is a label, not part of the round
    assert bench_history.round_of("/x/BENCH_r19_c8.json") == 19
