"""Property-based invariants (hypothesis): the exact-decimal aggregate
layer is partition-order independent, dedup is idempotent, histograms
conserve mass. Few examples per property — each drives a real Spark job."""

from __future__ import annotations

from decimal import Decimal

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from distributed_mobility_data_pipeline_spark.functions.exact import exact_sum
from distributed_mobility_data_pipeline_spark.operators import aggregates, dedup

_vals = st.lists(
    st.decimals(
        min_value=Decimal("-1000000"),
        max_value=Decimal("1000000"),
        places=4,
        allow_nan=False,
        allow_infinity=False,
    ),
    min_size=1,
    max_size=60,
)

_slow = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_slow
@given(_vals)
def test_exact_sum_is_partition_order_independent(spark, xs):
    rows = [(float(x),) for x in xs]
    df1 = spark.createDataFrame(rows, "v double").repartition(7)
    df2 = spark.createDataFrame(list(reversed(rows)), "v double").repartition(2)
    s1 = df1.agg(exact_sum("v").alias("s")).collect()[0].s
    s2 = df2.agg(exact_sum("v").alias("s")).collect()[0].s
    assert s1 == s2  # bit-identical, not approximately equal
    assert Decimal(str(s1)).quantize(Decimal("0.0001")) == sum(xs).quantize(
        Decimal("0.0001")
    )


@_slow
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)),
        min_size=1,
        max_size=50,
    )
)
def test_keep_latest_idempotent_and_minimal(spark, pairs):
    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(pairs)], "k long, ord long, uid long"
    )
    once = dedup.keep_latest(df, ["k"], "ord", ["uid"])
    twice = dedup.keep_latest(once, ["k"], "ord", ["uid"])
    a = sorted(tuple(r) for r in once.collect())
    b = sorted(tuple(r) for r in twice.collect())
    assert a == b  # idempotent
    assert len(a) == len({k for k, _ in pairs})  # exactly one row per key


@_slow
@given(st.lists(st.floats(-50, 150, allow_nan=False), min_size=1, max_size=50))
def test_histogram_conserves_mass(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    out = aggregates.histogram(df, "x", [0.0, 25.0, 50.0, 75.0, 100.0])
    assert out.agg(F.sum("n")).collect()[0][0] == len(xs)


def _union_find_components(n_nodes: int, edges: list[tuple[int, int]]):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for v in range(n_nodes):
        comps.setdefault(find(v), []).append(v)
    return {(min(vs), len(vs)) for vs in comps.values()}


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.integers(5, 25),
    st.lists(st.tuples(st.integers(0, 24), st.integers(0, 24)), max_size=40),
)
def test_dup_clusters_matches_union_find(spark, n_nodes, raw_edges):
    # pointer-doubling label propagation must produce exactly the
    # connected components of the pair graph (random graphs include the
    # stringy chains that exposed the O(diameter) iteration cap)
    edges = [
        (min(a, b) % n_nodes, max(a, b) % n_nodes)
        for a, b in raw_edges
        if a % n_nodes != b % n_nodes
    ]
    from distributed_mobility_data_pipeline_spark.operators import dedup_llm

    docs = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
    pairs = spark.createDataFrame(
        edges or [(0, 0)], "doc_a long, doc_b long"
    ).filter(F.col("doc_a") != F.col("doc_b"))
    out = dedup_llm.dup_clusters(docs, pairs, max_iters=32)
    got = {(r.keep_doc_id, r.cluster_size) for r in out.collect()}
    assert got == _union_find_components(n_nodes, edges)


def test_canonical_docs_picks_highest_score(spark):
    from pyspark.sql import functions as F
    from distributed_mobility_data_pipeline_spark.operators import dedup_llm

    docs = spark.createDataFrame(
        [(1, "short"), (2, "much longer text"), (3, "mid text"), (4, "loner")],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["doc_a", "doc_b"])
    out = {
        r.cluster_id: r
        for r in dedup_llm.canonical_docs(
            docs, pairs, F.length("text").cast("bigint")
        ).collect()
    }
    # cluster {1,2,3}: doc 2 has the longest text
    assert out[1].keep_doc_id == 2 and out[1].cluster_size == 3
    assert out[1].keep_score == len("much longer text")
    # singleton keeps itself
    assert out[4].keep_doc_id == 4 and out[4].cluster_size == 1


def test_dup_labels_matches_cluster_summary(spark):
    from pyspark.sql import functions as F
    from distributed_mobility_data_pipeline_spark.operators import dedup_llm

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], ["doc_a", "doc_b"])
    labels = dedup_llm.dup_labels(docs, pairs).collect()
    summary = {
        r.cluster_id: r.cluster_size
        for r in dedup_llm.dup_clusters(docs, pairs).collect()
    }
    from collections import Counter

    counts = Counter(r.cluster_id for r in labels)
    assert dict(counts) == summary


def test_dup_labels_raises_when_unconverged(spark):
    """A path graph needs several propagation passes: a one-pass cap
    must raise (with the iteration and changed-label counts) instead of
    returning a split cluster; the default cap labels the whole path."""
    import pytest

    from distributed_mobility_data_pipeline_spark.operators import dedup_llm

    n = 16
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(n)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match=r"\d+ labels changed at iteration 1$"):
        dedup_llm.dup_labels(docs, pairs, max_iters=1)
    labels = dedup_llm.dup_labels(docs, pairs).collect()
    assert len(labels) == n and {r.cluster_id for r in labels} == {0}


def test_funnel_matches_bruteforce_on_random_events(spark):
    import random

    from distributed_mobility_data_pipeline_spark.operators import behavior

    rng = random.Random(7)
    stages = ("view", "click", "purchase")
    types = list(stages) + ["error", "signup"]
    rows = []
    eid = 0
    for u in range(40):
        for _ in range(rng.randint(1, 12)):
            rows.append(
                (u, f"2024-01-{rng.randint(1, 28):02d} {rng.randint(0, 23):02d}:00:00",
                 rng.choice(types), eid)
            )
            eid += 1
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        rows, ["user_id", "ts", "event_type", "event_id"]
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r.stage: r.users
        for r in behavior.funnel_stages(ev, stages).collect()
    }
    # brute force per user
    per_user = {}
    for u, ts, et, _ in rows:
        per_user.setdefault(u, []).append((ts, et))
    expected = {s: 0 for s in stages}
    for evs in per_user.values():
        evs.sort()
        t_prev = None
        for i, s in enumerate(stages):
            cand = [t for t, et in evs if et == s and (t_prev is None or t >= t_prev)]
            if not cand:
                break
            t_prev = min(cand)
            expected[s] += 1
    assert got == expected


def test_gini_matches_python_reference(spark):
    import random

    from distributed_mobility_data_pipeline_spark.operators import aggregates as agg

    rng = random.Random(11)
    rows = [("g", k, round(rng.uniform(0, 100), 2)) for k in range(50)]
    df = spark.createDataFrame(rows, ["g", "k", "v"])
    got = agg.gini_by_group(df, "g", "k", "v").collect()[0]
    xs = sorted(v for _, _, v in rows)
    n = len(xs)
    weighted = sum((i + 1) * x for i, x in enumerate(xs))
    ref = 2 * weighted / (n * sum(xs)) - (n + 1) / n
    assert abs(got.gini - ref) < 1e-9


def test_ewma_matches_python_reference(spark):
    import random

    from distributed_mobility_data_pipeline_spark.operators import windows as win

    rng = random.Random(3)
    series = [rng.randint(0, 50) for _ in range(40)]
    df = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate(series)], ["k", "t", "n"]
    )
    got = {
        r.t: r.ewma for r in win.ewma_dyadic(df, "k", "t", "n", 20).collect()
    }
    for t in range(len(series)):
        window = series[max(0, t - 19) : t + 1]
        m = len(window)
        weighted = sum(v * 0.5 ** (m - 1 - i) for i, v in enumerate(window))
        norm = 2.0 - 0.5 ** (m - 1)
        assert got[t] == weighted / norm  # bit-exact: dyadic weights


def test_transition_matrix_shares_sum_to_one(spark, sf_dir):
    from distributed_mobility_data_pipeline_spark.operators import behavior
    from distributed_mobility_data_pipeline_spark.sources.readers import read_events

    ev = read_events(spark, f"{sf_dir}/events.parquet")
    rows = behavior.transition_matrix(ev).collect()
    by_from = {}
    for r in rows:
        by_from.setdefault(r.from_type, []).append(r.row_share)
    for shares in by_from.values():
        assert abs(sum(shares) - 1.0) < 1e-9


# ---- windowFunnel: greedy chain == exhaustive best chain ----------------

_funnel_events = st.lists(
    st.tuples(
        st.integers(0, 2),          # user
        st.integers(0, 40),         # timestamp slot (hours)
        st.sampled_from(["s1", "s2", "s3"]),
    ),
    min_size=1,
    max_size=14,
)


def _best_funnel_depth(evs, window):
    """Exhaustive reference: max depth over ALL strictly-ordered chains
    anchored at any s1 event — not just the greedy earliest-next one."""
    stages = ["s1", "s2", "s3"]

    def extend(t_anchor, t_prev, depth):
        if depth == 3:
            return 3
        best = depth
        for t, kind in evs:
            if kind == stages[depth] and t_prev < t <= t_anchor + window:
                best = max(best, extend(t_anchor, t, depth + 1))
        return best

    return max(
        (extend(t, t, 1) for t, kind in evs if kind == "s1"), default=0
    )


@_slow
@given(_funnel_events)
def test_window_funnel_greedy_matches_exhaustive(spark, raw):
    from distributed_mobility_data_pipeline_spark.operators import behavior

    # operator contract: (user, ts) unique — keep first event per slot
    dedup, seen = [], set()
    for u, t, kind in raw:
        if (u, t) not in seen:
            seen.add((u, t))
            dedup.append((u, t, kind))
    rows = [
        (i, u, f"2024-01-{1 + t // 24:02d} {t % 24:02d}:00:00", kind)
        for i, (u, t, kind) in enumerate(dedup)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r.user_id: r.funnel_level
        for r in behavior.window_funnel(
            df, stages=("s1", "s2", "s3"), window_hours=10
        ).collect()
    }
    for u in {u for u, _t, _k in dedup}:
        evs = [(t, k) for (uu, t, k) in dedup if uu == u]
        want = _best_funnel_depth(evs, 10)
        assert got.get(u, 0) == want, (u, sorted(evs), got.get(u), want)


# ---- touch attribution vs brute force -----------------------------------

_attr_events = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.integers(0, 30),         # day slot
        st.sampled_from(["view", "click", "purchase"]),
    ),
    min_size=1,
    max_size=12,
)


@_slow
@given(_attr_events)
def test_touch_attribution_matches_bruteforce(spark, raw):
    from distributed_mobility_data_pipeline_spark.operators import behavior

    dedup, seen = [], set()
    for u, t, kind in raw:
        if (u, t) not in seen:
            seen.add((u, t))
            dedup.append((u, t, kind))
    # LINEAR calendar: epoch + t days. (The old month/day encoding
    # `1 + t // 28, 1 + t % 28` skipped Jan 29-31, so t-unit windows
    # disagreed with the operator's real-day windows across month
    # boundaries — hypothesis found the t=21 touch / t=28 conversion
    # case where 7 t-units span 10 real days.)
    import datetime as _dt

    base = _dt.datetime(2024, 1, 1)
    rows = [
        (i, u, (base + _dt.timedelta(days=t)).strftime("%Y-%m-%d %H:%M:%S"), kind)
        for i, (u, t, kind) in enumerate(dedup)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r.conv_id: r
        for r in behavior.touch_attribution(df, lookback_days=7).collect()
    }
    for i, (u, t, kind) in enumerate(dedup):
        if kind != "purchase":
            continue
        touches = sorted(
            (t2, k2)
            for (u2, t2, k2) in dedup
            if u2 == u and k2 != "purchase" and t - 7 <= t2 < t
        )
        r = got[i]
        if not touches:
            assert r.first_touch_type is None and r.n_touches == 0
        else:
            assert r.first_touch_type == touches[0][1]
            assert r.last_touch_type == touches[-1][1]
            assert r.n_touches == len(touches)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.integers(0, 40),          # prefix length (doc 2)
    st.integers(0, 40),          # suffix length (doc 2)
    st.integers(6, 30),          # shared run length, >= w + k - 1 = 6
    st.integers(0, 10_000),      # vocabulary seed
)
def test_winnow_shared_run_guarantee(spark, n_pre, n_suf, run_len, seed):
    # Schleimer et al.'s guarantee: any shared token run of length
    # >= w + k - 1 yields at least one shared fingerprint. Random
    # prefix/suffix around a random shared passage must never break it.
    from distributed_mobility_data_pipeline_spark.operators import winnow

    shared = " ".join(f"s{seed}_{i}" for i in range(run_len))
    pre = " ".join(f"p{seed}_{i}" for i in range(n_pre))
    suf = " ".join(f"q{seed}_{i}" for i in range(n_suf))
    doc2 = " ".join(x for x in (pre, shared, suf) if x)
    docs = spark.createDataFrame(
        [(1, shared), (2, doc2)], "doc_id long, text string"
    )
    fps = winnow.winnow_fingerprints(docs, k=3, w=4).collect()
    a = {r.fp_hash for r in fps if r.doc_id == 1}
    b = {r.fp_hash for r in fps if r.doc_id == 2}
    assert a & b


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.floats(-20, 120, allow_nan=False), min_size=1, max_size=60),
       st.sampled_from([0.25, 0.5, 0.9]))
def test_histogram_quantile_order_stat_bound(spark, vals, q):
    # estimator guarantee on arbitrary data: within one bin width of
    # the order statistic at rank ceil(q * n), clamping included
    import math

    from distributed_mobility_data_pipeline_spark.operators import sketches

    df = spark.createDataFrame([("g", float(v)) for v in vals], ["g", "v"])
    hist = sketches.binned_value_histograms(df, ["g"], "v", 0.0, 100.0, 10)
    est = sketches.quantiles_from_histograms(
        hist, ["g"], [q], 0.0, 100.0, 10
    ).collect()[0].value_q
    clamped = sorted(min(max(v, 0.0), 100.0) for v in vals)
    order_stat = clamped[math.ceil(q * len(clamped)) - 1]
    assert abs(est - order_stat) <= 10.0 + 1e-9
