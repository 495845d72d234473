"""Write-path semantics (SURVEY.md §2.1 S3-S5): overwrite, append, and
MERGE idempotency — re-running the same upsert must not duplicate rows
(the property batch_scoring.py:151-186 relies on)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from distributed_mobility_data_pipeline_spark.sources import writers


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, ds string, v double")


def test_overwrite_and_append(spark, tmp_path):
    p = str(tmp_path / "t1")
    writers.write_overwrite(_df(spark, [(1, "a", 1.0)]), p)
    writers.write_append(_df(spark, [(2, "a", 2.0)]), p)
    assert spark.read.parquet(p).count() == 2
    writers.write_overwrite(_df(spark, [(9, "b", 9.0)]), p)
    assert spark.read.parquet(p).count() == 1


def test_partitioned_write(spark, tmp_path):
    p = str(tmp_path / "t2")
    writers.write_overwrite(
        _df(spark, [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)]),
        p,
        partition_by=["ds"],
    )
    df = spark.read.parquet(p)
    assert df.filter(F.col("ds") == "2024-01-01").count() == 1


def test_merge_upsert_idempotent(spark, tmp_path):
    p = str(tmp_path / "t3")
    writers.merge_upsert(
        spark, _df(spark, [(1, "a", 1.0), (2, "a", 2.0)]), p, keys=["k"]
    )
    # update k=2, insert k=3
    src = _df(spark, [(2, "a", 20.0), (3, "b", 3.0)])
    writers.merge_upsert(spark, src, p, keys=["k"])
    out = {(r.k, r.v) for r in spark.read.parquet(p).collect()}
    assert out == {(1, 1.0), (2, 20.0), (3, 3.0)}
    # idempotency: same merge again → same table
    writers.merge_upsert(spark, src, p, keys=["k"])
    out2 = {(r.k, r.v) for r in spark.read.parquet(p).collect()}
    assert out2 == out


def test_merge_creates_when_missing(spark, tmp_path):
    p = str(tmp_path / "t4")
    assert not writers.table_exists(spark, p)
    writers.merge_upsert(spark, _df(spark, [(1, "a", 1.0)]), p, keys=["k"])
    assert writers.table_exists(spark, p)
    assert spark.read.parquet(p).count() == 1


def test_merge_null_key_idempotent(spark, tmp_path):
    # NULL merge keys must match null-safely (<=>, like the Delta MERGE
    # condition) — a re-run may not duplicate the NULL-keyed row.
    p = str(tmp_path / "t5")
    src = _df(spark, [(None, "a", 1.0), (2, "a", 2.0)])
    writers.merge_upsert(spark, src, p, keys=["k"])
    writers.merge_upsert(spark, src, p, keys=["k"])
    rows = spark.read.parquet(p).collect()
    assert len(rows) == 2
    writers.merge_upsert(spark, _df(spark, [(None, "b", 9.0)]), p, keys=["k"])
    out = {(r.k, r.v) for r in spark.read.parquet(p).collect()}
    assert out == {(None, 9.0), (2, 2.0)}


def test_optimize_layout_crash_safe(spark, tmp_path, monkeypatch):
    # A failure before the atomic swap must leave the original table
    # fully readable (the old code rewrote the path in place).
    p = str(tmp_path / "t6")
    writers.write_overwrite(_df(spark, [(i, "a", float(i)) for i in range(10)]), p)

    def boom(*a, **kw):
        raise RuntimeError("simulated crash before swap")

    monkeypatch.setattr(writers, "_atomic_replace", boom)
    try:
        writers.optimize_layout(spark, p, zorder_by=["k"])
    except RuntimeError:
        pass
    assert spark.read.parquet(p).count() == 10


def test_merge_upsert_partitioned(spark, tmp_path):
    # partition_by flows through the temp-dir write + atomic swap
    p = str(tmp_path / "t8")
    writers.merge_upsert(
        spark, _df(spark, [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)]),
        p, keys=["k"], partition_by=["ds"],
    )
    writers.merge_upsert(
        spark, _df(spark, [(2, "2024-01-02", 20.0), (3, "2024-01-03", 3.0)]),
        p, keys=["k"], partition_by=["ds"],
    )
    df = spark.read.parquet(p)
    assert {(r.k, r.v) for r in df.collect()} == {(1, 1.0), (2, 20.0), (3, 3.0)}
    assert df.filter(F.col("ds") == "2024-01-02").count() == 1


def test_optimize_layout_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t7")
    df = _df(spark, [(i % 3, f"d{i % 2}", float(i)) for i in range(30)])
    writers.write_overwrite(df, p)
    writers.optimize_layout(spark, p, zorder_by=["k"], target_partitions=2)
    out = spark.read.parquet(p)
    assert out.count() == 30
    assert {r.k for r in out.select("k").distinct().collect()} == {0, 1, 2}


def test_morton_key_matches_reference_interleave(spark):
    from distributed_mobility_data_pipeline_spark.sources.writers import morton_key_2d
    import pyspark.sql.functions as F

    def py_morton(a, b):
        out = 0
        for i in range(16):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    rows = [(a, b) for a in (0, 1, 2, 3, 255, 65535) for b in (0, 1, 7, 65535)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r.a, r.b): r.z
        for r in df.select(
            "a", "b", morton_key_2d(F.col("a"), F.col("b")).alias("z")
        ).collect()
    }
    for (a, b), z in got.items():
        assert z == py_morton(a, b), (a, b)


def test_optimize_layout_morton_clusters_and_preserves(spark, tmp_path):
    import pyspark.sql.functions as F

    from distributed_mobility_data_pipeline_spark.sources import writers

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, i % 50, (i * 7) % 50, float(i)) for i in range(5000)],
        "id long, x long, y long, v double",
    )
    df.repartition(8).write.parquet(path)
    writers.optimize_layout(spark, path, ["x", "y"], target_partitions=4, morton=True)
    after = spark.read.parquet(path)
    assert after.count() == 5000
    assert sorted(r.id for r in after.select("id").collect()) == list(range(5000))
    # locality: a point query on BOTH dims touches few files
    files = (
        after.filter((F.col("x") == 3) & (F.col("y") == 21))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert files <= 2


def test_apply_cdc_batch_insert_update_delete(spark, tmp_path):
    p = str(tmp_path / "cdc_tbl")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    writers.write_overwrite(base, p)
    changes = spark.createDataFrame(
        [
            (2, "b2", 10, "U"),   # update
            (3, None, 10, "D"),   # delete
            (4, "d", 10, "I"),    # insert
            (4, "d2", 11, "U"),   # later change to same key wins
            (4, "dX", 9, "U"),    # out-of-order older change loses
        ],
        "k long, v string, ts long, op string",
    )
    writers.apply_cdc_batch(spark, changes, p, ["k"], "ts")
    got = {r.k: r.v for r in spark.read.parquet(p).collect()}
    assert got == {1: "a", 2: "b2", 4: "d2"}
    # idempotent replay
    writers.apply_cdc_batch(spark, changes, p, ["k"], "ts")
    again = {r.k: r.v for r in spark.read.parquet(p).collect()}
    assert again == got


def test_apply_cdc_batch_creates_table(spark, tmp_path):
    p = str(tmp_path / "cdc_new")
    changes = spark.createDataFrame(
        [(1, "a", 1, "I"), (2, "b", 1, "D")],
        "k long, v string, ts long, op string",
    )
    writers.apply_cdc_batch(spark, changes, p, ["k"], "ts")
    got = {r.k: r.v for r in spark.read.parquet(p).collect()}
    assert got == {1: "a"}  # the delete for an absent key is a no-op


def test_delete_where(spark, tmp_path):
    p = str(tmp_path / "del_tbl")
    df = spark.createDataFrame(
        [(i, "keep" if i % 2 else "drop") for i in range(10)], "k long, tag string"
    )
    writers.write_overwrite(df, p)
    from pyspark.sql import functions as F

    n = writers.delete_where(spark, p, F.col("tag") == "drop")
    assert n == 5
    left = spark.read.parquet(p)
    assert left.count() == 5
    assert left.filter("tag = 'drop'").count() == 0
    # no-op delete leaves the table untouched
    assert writers.delete_where(spark, p, F.col("tag") == "absent") == 0
    assert spark.read.parquet(p).count() == 5


def test_delete_where_null_predicate_rows_kept(spark, tmp_path):
    p = str(tmp_path / "del_null")
    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "y")], "k long, tag string"
    )
    writers.write_overwrite(df, p)
    from pyspark.sql import functions as F

    n = writers.delete_where(spark, p, F.col("tag") == "x")
    assert n == 1
    assert {r.k for r in spark.read.parquet(p).collect()} == {2, 3}


def test_overwrite_partitions_is_dynamic(spark, tmp_path):
    p = str(tmp_path / "dyn_part")
    base = spark.createDataFrame(
        [(1, "day1"), (2, "day2"), (3, "day3")], "k long, d string"
    )
    writers.write_overwrite(base, p, partition_by=["d"])
    # re-run only day2 with corrected data
    fixed = spark.createDataFrame([(20, "day2")], "k long, d string")
    writers.overwrite_partitions(fixed, p, ["d"])
    got = {(r.k, r.d) for r in spark.read.parquet(p).collect()}
    assert got == {(1, "day1"), (20, "day2"), (3, "day3")}


def test_overwrite_partitions_requires_columns(spark, tmp_path):
    import pytest

    df = spark.createDataFrame([(1, "a")], "k long, d string")
    with pytest.raises(ValueError):
        writers.overwrite_partitions(df, str(tmp_path / "x"), [])


def test_partition_pruning_in_plan(spark, tmp_path):
    p = str(tmp_path / "pruned")
    df = spark.createDataFrame(
        [(i, f"day{1 + i % 3}") for i in range(30)], "k long, d string"
    )
    writers.write_overwrite(df, p, partition_by=["d"])
    q = spark.read.parquet(p).filter("d = 'day2'")
    assert q.count() == 10
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the partition predicate must reach the scan's PartitionFilters
    # (directory-level pruning), not a post-scan Filter
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "day2" in m.group(1)


def test_morton_nd_matches_python_reference(spark):
    import random

    from pyspark.sql import functions as F

    rng = random.Random(5)
    rows = [
        (rng.randrange(1 << 21), rng.randrange(1 << 21), rng.randrange(1 << 21))
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, ["x", "y", "z"])
    got = [
        r.key
        for r in df.select(
            writers.morton_key_nd([F.col("x"), F.col("y"), F.col("z")]).alias("key")
        ).collect()
    ]

    def ref(vals, bits=21):
        key = 0
        for j, v in enumerate(vals):
            v &= (1 << bits) - 1
            for b in range(bits):
                key |= ((v >> b) & 1) << (b * len(vals) + j)
        return key

    assert got == [ref(r) for r in rows]


def test_morton_nd_2col_matches_2d(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(3, 5), (65535, 1), (0, 0)], ["a", "b"])
    nd = df.select(
        writers.morton_key_nd([F.col("a"), F.col("b")], bits_per=16).alias("k")
    ).collect()
    d2 = df.select(
        writers.morton_key_2d(F.col("a"), F.col("b")).alias("k")
    ).collect()
    assert [r.k for r in nd] == [r.k for r in d2]


def test_morton_nd_validates(spark):
    import pytest
    from pyspark.sql import functions as F

    with pytest.raises(ValueError):
        writers.morton_key_nd([F.col("a")])
    with pytest.raises(ValueError):
        writers.morton_key_nd([F.col("a"), F.col("b")], bits_per=40)


def test_optimize_layout_morton_3col_roundtrip(spark, tmp_path):
    p = str(tmp_path / "z3")
    df = spark.createDataFrame(
        [(i, i * 7 % 100, i * 13 % 100, i * 31 % 100) for i in range(500)],
        "k long, x long, y long, z long",
    )
    df.write.parquet(p)
    writers.optimize_layout(spark, p, ["x", "y", "z"], morton=True)
    back = spark.read.parquet(p)
    assert back.count() == 500
    assert {r.k for r in back.collect()} == set(range(500))


def _files_per_partition(path):
    """Data files in each ``col=value`` folder of a partitioned table."""
    return {
        d: sum(n.startswith("part-") for n in os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if "=" in d
    }


def test_partitioned_overwrite_writes_one_file_per_day(spark, tmp_path):
    # every one of the 4 input partitions holds all 3 days: without the
    # rebalance each task writes its own file into every day folder
    p = str(tmp_path / "t9")
    df = spark.range(0, 300, numPartitions=4).selectExpr(
        "id", "cast(id % 3 + 1 as int) as d"
    )
    writers.write_overwrite(df, p, partition_by=["d"])
    assert _files_per_partition(p) == {f"d={i}": 1 for i in (1, 2, 3)}
    back = spark.read.parquet(p)
    assert sorted(back.select("id", "d").collect()) == sorted(df.collect())
    one_day = back.filter(F.col("d") == 2)
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(d#" in plan, plan
    read = [r[0] for r in one_day.select(F.input_file_name()).distinct().collect()]
    assert one_day.count() == 100
    assert len(read) == 1 and "/d=2/" in read[0], read


def test_partitioned_merge_upsert_keeps_one_file_per_day(spark, tmp_path):
    p = str(tmp_path / "t10")
    rows = [(k, f"2024-01-0{k % 3 + 1}", float(k)) for k in range(60)]
    writers.merge_upsert(
        spark, _df(spark, rows).repartition(4), p, keys=["k"], partition_by=["ds"]
    )
    src = _df(spark, [(k, f"2024-01-0{k % 3 + 1}", -1.0) for k in range(0, 90, 5)])
    writers.merge_upsert(spark, src.repartition(4), p, keys=["k"], partition_by=["ds"])
    out = spark.read.parquet(p)
    assert out.count() == 60 + len(range(60, 90, 5))
    assert out.filter(F.col("v") == -1.0).count() == len(range(0, 90, 5))
    assert _files_per_partition(p) == {f"ds=2024-01-0{i}": 1 for i in (1, 2, 3)}
