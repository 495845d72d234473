"""Pins the driver rotation in __spark_entry__.py — the rotation is the
only external correctness signal, so a silent parsing regression here
(a green row misread as never-checked, or vice versa) would quietly
corrupt the driver window's freshness guarantee. Spark-free: synthetic
artifacts on disk, pure-function assertions, plus the live order that
queries() serves from the committed artifacts."""

from __future__ import annotations

import json
from pathlib import Path

import __spark_entry__ as entrymod
from __spark_entry__ import (
    driver_rotation,
    rotation_order,
    round_of,
    scan_artifacts,
)


def _write(tmp_path: Path, rnd: int, rows: dict) -> str:
    p = tmp_path / f"CORRECTNESS_r{rnd:02d}.json"
    p.write_text(json.dumps(rows))
    return str(p)


def test_scan_green_semantics(tmp_path):
    paths = [
        _write(
            tmp_path,
            1,
            {
                "q_hash": {"hash_match": True, "spark_rows": 10},
                "q_fail": {"hash_match": False, "spark_rows": 10},
                "q_rowsonly": {"err": "no_oracle", "spark_rows": 5},
                "q_rowsonly_crashed": {"err": "no_oracle"},
                "q_other_err": {"err": "AnalysisException: boom"},
            },
        ),
        # a later round re-greens q_fail and refreshes q_hash
        _write(
            tmp_path,
            3,
            {
                "q_hash": {"hash_match": True, "spark_rows": 10},
                "q_fail": {"hash_match": True, "spark_rows": 10},
            },
        ),
    ]
    green, latest = scan_artifacts(paths)
    # hash-pass and executed rows-only are green; a FAILED hash row, a
    # rows-only row that never executed, and a hard error are NOT
    assert green == {"q_hash", "q_fail", "q_rowsonly"}
    # latest tracks the newest green round per name
    assert latest == {"q_hash": 3, "q_fail": 3, "q_rowsonly": 1}


def test_scan_sorts_by_parsed_round_not_lexically(tmp_path):
    # ADVICE r13: lexical sort puts CORRECTNESS_r100 before r11, so a
    # caller-ordered scan would let round 11 overwrite round 100 in the
    # latest map. scan_artifacts must sort by PARSED round itself.
    p100 = _write(tmp_path, 100, {"q": {"hash_match": True, "spark_rows": 1}})
    p11 = _write(tmp_path, 11, {"q": {"hash_match": True, "spark_rows": 1}})
    lexical = sorted([p100, p11])
    assert lexical == [p100, p11]  # the hazard is real: r100 < r11 lexically
    _, latest = scan_artifacts(lexical)
    assert latest == {"q": 100}
    assert round_of(p100) == 100 and round_of(p11) == 11


def test_rotation_priority_and_staleness():
    qs = ["a", "b", "c", "d", "e", "f"]
    oracles = {"a", "b", "c", "d"}  # e, f are rows-only by design
    green = {"b", "c", "e"}
    latest = {"b": 4, "c": 2, "e": 3}
    order = rotation_order(qs, oracles, green, latest, window=5)
    names = [n for n, _ in order]
    # never-checked oracle-backed first (a, d), then never-checked
    # rows-only (f), then greens OLDEST latest-row first (c r2, e r3 —
    # b r4 falls off the 5-slot window as the freshest green)
    assert names == ["a", "d", "f", "c", "e"]
    # unchecked entries carry no round; greens carry their latest round
    assert order[0][1] is None and order[2][1] is None
    assert order[3] == ("c", 2) and order[4] == ("e", 3)


def test_rotation_ties_follow_queries_order():
    qs = ["z_late", "a_early", "m_mid"]
    order = rotation_order(
        qs, set(qs), set(qs), {"z_late": 1, "a_early": 1, "m_mid": 1}, window=3
    )
    # equal staleness → stable queries() order, not alphabetical
    assert [n for n, _ in order] == ["z_late", "a_early", "m_mid"]


def test_rotation_window_never_exceeded():
    qs = [f"q{i}" for i in range(80)]
    green = set(qs)
    latest = {q: 1 for q in qs}
    order = rotation_order(qs, set(qs), green, latest, window=50)
    assert len(order) == 50
    # all-unchecked also caps at the window
    order2 = rotation_order(qs, set(qs), set(), {}, window=50)
    assert len(order2) == 50 and all(r is None for _, r in order2)


def test_live_rotation_window_is_fresh():
    # queries() serves the order computed once per process from the
    # committed CORRECTNESS artifacts; check the window it hands the driver
    root = Path(entrymod.__file__).parent
    green, latest = scan_artifacts(
        [str(p) for p in root.glob("CORRECTNESS_r*.json")]
    )
    assert green, "no committed CORRECTNESS artifacts found"
    q = entrymod.queries()
    window = list(q)[: entrymod.DRIVER_WINDOW]
    # unique real queries, all of them
    assert len(window) == len(set(window)) == entrymod.DRIVER_WINDOW
    assert set(window) <= set(entrymod._all_queries())
    assert window == driver_rotation(str(root))
    # every never-checked query precedes every green one
    unchecked = [i for i, n in enumerate(window) if n not in green]
    checked = [i for i, n in enumerate(window) if n in green]
    assert not unchecked or not checked or max(unchecked) < min(checked)
    # no green inside the window is fresher than a green left outside it
    outside = [latest[n] for n in q if n in green and n not in window]
    inside = [latest[n] for n in window if n in green]
    assert not inside or not outside or max(inside) <= min(outside)


def test_new_artifact_changes_rotation(tmp_path):
    # a newer driver artifact moves the window in the next process, with
    # no code edit: the queries it re-confirmed drop to the back
    names = list(entrymod._all_queries())
    _write(tmp_path, 1, {n: {"hash_match": True, "spark_rows": 1} for n in names})
    before = driver_rotation(str(tmp_path))
    assert before == names[: entrymod.DRIVER_WINDOW]
    _write(tmp_path, 2, {n: {"hash_match": True, "spark_rows": 1} for n in before})
    after = driver_rotation(str(tmp_path))
    assert after == [n for n in names if n not in before][: entrymod.DRIVER_WINDOW]
    assert not set(after) & set(before)


def test_no_artifacts_means_every_query_unchecked(tmp_path):
    oracles = set(entrymod._all_oracle_sql())
    names = list(entrymod._all_queries())
    expected = [n for n in names if n in oracles] + [
        n for n in names if n not in oracles
    ]
    assert driver_rotation(str(tmp_path)) == expected[: entrymod.DRIVER_WINDOW]
