"""Writers (SURVEY.md §2.1 S3/S4/S5/S10).

The reference writes Delta (delta_utils.py:24-33, batch_scoring.py:151-186).
delta-spark is not in this environment, so the default table format is
parquet with the same write semantics; every function upgrades to Delta
transparently when delta-spark is importable. MERGE (S5) is re-expressed
as the canonical Spark emulation: target anti-join source on the merge
keys, union the source, rewrite — idempotent for re-runs with the same
keys, which is the property batch_scoring.py:161-186 relies on.

Layout policy: every write with ``partition_by`` goes through
``_partitioned``, which adds a ``rebalance`` hint on the partition
columns before ``partitionBy``. Without it each task writes one file per
partition value it happens to hold, so a table lands as cores × dates
small files and every later scan opens all of them. The trade is one
extra shuffle of the written rows: AQE then coalesces small dates
toward ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (about one
file per date per 64 MB) and splits a skewed date across several tasks
(``spark.sql.adaptive.optimizeSkewsInRebalancePartitions``), the same
bargain as Delta's optimized writes. Unpartitioned writes are unchanged.
"""

from __future__ import annotations

from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.operators import dedup
from distributed_mobility_data_pipeline_spark.session import has_delta


def _fmt() -> str:
    return "delta" if has_delta() else "parquet"


def _hadoop_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.Path(path)


def _atomic_replace(spark: SparkSession, tmp_path: str, path: str) -> None:
    """Replace the table at ``path`` with the one at ``tmp_path`` via
    filesystem renames (Hadoop FileSystem API, so it works for any
    supported scheme). A crash before the first rename leaves the old
    table untouched; the `.bak` copy survives until the swap completes,
    so the worst post-crash state is a recoverable backup — never a
    half-rewritten table (parquet rewrites used to overwrite in place)."""
    dst = _hadoop_path(spark, path)
    tmp = _hadoop_path(spark, tmp_path)
    bak = _hadoop_path(spark, path + "._bak")
    fs = dst.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(bak):
        fs.delete(bak, True)
    if not fs.rename(dst, bak):
        raise IOError(f"atomic replace: could not move {path} aside")
    if not fs.rename(tmp, dst):
        fs.rename(bak, dst)  # roll back
        raise IOError(f"atomic replace: could not promote {tmp_path}")
    fs.delete(bak, True)


def _partitioned(
    df: DataFrame, partition_by: list[str] | None
) -> DataFrameWriter:
    """The writer for ``df``: with ``partition_by``, rows are rebalanced
    on the partition columns first so each partition value lands in about
    one file (the layout policy in the module docstring)."""
    if not partition_by:
        return df.write
    return df.hint("rebalance", *partition_by).write.partitionBy(*partition_by)


def write_overwrite(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Full-table overwrite, schema evolution allowed
    (delta_utils.write_delta_overwrite, delta_utils.py:24-33)."""
    writer = _partitioned(df, partition_by).format(_fmt()).mode("overwrite")
    if has_delta():
        writer = writer.option("overwriteSchema", "true")
    writer.save(path)


def write_append(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Append sink for metrics/drift/log rows (batch_scoring.py:245)."""
    _partitioned(df, partition_by).format(_fmt()).mode("append").save(path)


def _read_parquet_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table at ``path``, or None when there is none (a
    missing path or a directory without data files). Reading lists the
    directory and infers the schema, so callers that go on to rewrite the
    table reuse this frame instead of reading it twice."""
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def table_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe (delta_utils.py:14-18)."""
    if has_delta():
        from delta.tables import DeltaTable  # type: ignore

        return DeltaTable.isDeltaTable(spark, path)
    return _read_parquet_table(spark, path) is not None


def write_bucketed(
    df: DataFrame, table: str, bucket_cols: list[str], n_buckets: int = 16
) -> None:
    """Bucketed managed table: joins/aggs on ``bucket_cols`` between
    co-bucketed tables skip the shuffle entirely (pyspark guide:
    'Bucketing'). The 100 TB answer for repeatedly-joined fact tables."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving all other partitions of the table untouched —
    the incremental-reload primitive (a day's re-run replaces that
    day's folder, never the table).

    Static overwrite mode (the default) would truncate the whole table
    first; the dynamic session-local option scopes the delete to
    partitions the write actually produces."""
    if not partition_by:
        raise ValueError("overwrite_partitions requires partition columns")
    (
        _partitioned(df, partition_by)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def write_orc(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """ORC sink (mode=overwrite) — the interop twin of readers.read_orc
    for warehouses standardized on ORC. Same pushdown/pruning behavior
    as parquet on the read side."""
    _partitioned(df, partition_by).mode("overwrite").orc(path)


def optimize_layout(
    spark: SparkSession,
    path: str,
    zorder_by: list[str],
    target_partitions: int | None = None,
    morton: bool = False,
) -> None:
    """Data-layout maintenance — S11 (gold_dag.py:194-212 calls a
    nonexistent ``delta.optimize_table(zorder_by=...)``; working here).

    Delta path: OPTIMIZE ... ZORDER BY. Parquet path: range-repartition
    + in-partition sort so min/max row-group stats prune on the locality
    columns. With ``morton=True`` and integer columns, the sort key is a
    true interleaved-bit Z-order key (``morton_key_2d`` for two columns,
    ``morton_key_nd`` for three or more) — multi-dimensional locality
    like Delta's ZORDER, not just lexicographic — so predicates on ANY
    of the columns prune row groups."""
    if has_delta():
        cols = ", ".join(f"`{c}`" for c in zorder_by)
        spark.sql(f"OPTIMIZE delta.`{path}` ZORDER BY ({cols})")
        return
    df = spark.read.parquet(path)
    # Partition-count heuristic without touching .rdd (which forces an RDD
    # materialization of the scan): compaction targets ~4 input splits per
    # output file, derived from file sizes in the scan relation's metadata.
    if target_partitions is not None:
        n = target_partitions
    else:
        in_parts = max(
            len(df.inputFiles()), spark.sparkContext.defaultParallelism
        )
        n = max(in_parts // 4, 1)
    if morton:
        if len(zorder_by) < 2:
            raise ValueError("morton=True needs at least two columns")
        # guard the integer contract: non-numeric columns would
        # cast('long') to NULL and silently degenerate the layout into
        # one giant unclustered partition
        int_types = {"tinyint", "smallint", "int", "bigint"}
        dtypes = dict(df.dtypes)
        bad = [c for c in zorder_by if dtypes.get(c) not in int_types]
        if bad:
            raise ValueError(
                f"morton=True needs integer columns; got "
                f"{[(c, dtypes.get(c)) for c in bad]}"
            )
        if len(zorder_by) == 2:
            key = morton_key_2d(F.col(zorder_by[0]), F.col(zorder_by[1]))
        else:
            key = morton_key_nd([F.col(c) for c in zorder_by])
        clustered = df.withColumn("_zkey", key)
        out = (
            clustered.repartitionByRange(n, "_zkey")
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
        )
    else:
        out = df.repartitionByRange(n, *zorder_by).sortWithinPartitions(
            *zorder_by
        )
    # Write the re-clustered copy beside the table, then swap atomically:
    # reading `path` while writing a different path needs no lineage break,
    # and a mid-rewrite crash can't lose the original.
    tmp = path + "._tmp_optimize"
    out.write.mode("overwrite").parquet(tmp)
    _atomic_replace(spark, tmp, path)


def merge_upsert(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
) -> None:
    """Upsert ``source`` into the table at ``path`` on ``keys``.

    Delta path: ``whenMatchedUpdateAll().whenNotMatchedInsertAll()``
    (batch_scoring.py:161-186). Parquet path: emulate with
    target ⟕anti source on keys, then union source and rewrite — the
    matched rows are replaced wholesale, unmatched inserted, giving the
    same end state as the Delta MERGE for update-all/insert-all.

    At 100 TB the parquet emulation rewrites the table; with partition
    columns supplied, only affected partitions need rewriting (dynamic
    partition overwrite) — but prefer real Delta/Iceberg MERGE on a
    cluster with those jars.
    """
    if has_delta():
        from delta.tables import DeltaTable  # type: ignore

        if DeltaTable.isDeltaTable(spark, path):
            tgt = DeltaTable.forPath(spark, path)
            cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)
            (
                tgt.alias("t")
                .merge(source.alias("s"), cond)
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
            return
        write_overwrite(source, path, partition_by)
        return

    target = _read_parquet_table(spark, path)
    if target is None:
        write_overwrite(source, path, partition_by)
        return
    _replace_keys_and_swap(
        spark, path, target, source, source, keys, "._tmp_merge", partition_by
    )


def _replace_keys_and_swap(
    spark: SparkSession,
    path: str,
    target: DataFrame,
    key_rows: DataFrame,
    new_rows: DataFrame,
    keys: list[str],
    tmp_suffix: str,
    partition_by: list[str] | None,
) -> None:
    """Shared parquet-MERGE tail (merge_upsert + apply_cdc_batch —
    one home for the rewrite so fixes can't drift between them): drop
    every target row whose key appears in ``key_rows`` (null-safe <=>,
    matching the Delta MERGE condition: NULL-keyed rows replace their
    NULL-keyed match instead of duplicating on every re-run), union
    ``new_rows``, write to a sibling temp path, swap atomically — a
    crash mid-write keeps the old table. ``target`` is the table already
    read from ``path``."""
    src_keys = key_rows.select(*keys).dropDuplicates(keys).alias("_mrg_s")
    tgt = target.alias("_mrg_t")
    cond = reduce(
        lambda a, b: a & b,
        [
            F.col(f"_mrg_t.`{k}`").eqNullSafe(F.col(f"_mrg_s.`{k}`"))
            for k in keys
        ],
    )
    kept = tgt.join(src_keys, on=cond, how="left_anti")
    merged = kept.unionByName(new_rows, allowMissingColumns=True)
    tmp = path + tmp_suffix
    _partitioned(merged, partition_by).mode("overwrite").format("parquet").save(tmp)
    _atomic_replace(spark, tmp, path)


def apply_cdc_batch(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    keys: list[str],
    ts_col: str,
    op_col: str = "op",
    partition_by: list[str] | None = None,
) -> None:
    """Apply a CDC change batch (op ∈ {I, U, D} + change timestamp) to
    the table at ``path`` — the change-data-feed consumer the Delta/
    Debezium world expects, on the parquet emulation layer.

    Within the batch, only each key's LATEST change applies (row_number
    over the key ordered by ts desc — out-of-order and duplicate change
    events collapse deterministically). Deletes drop the key; inserts/
    updates upsert whole rows. Re-applying the same batch is a no-op
    (idempotent), the property replayed CDC streams rely on.

    Scale: one window over the change batch (keyed shuffle), one
    anti-join against the target on the key, one rewrite via the same
    atomic swap as merge_upsert. With ``partition_by``, scope rewrites
    by partition on a real table format.
    """
    # op desc breaks same-timestamp ties deterministically
    # ('U' > 'I' > 'D': an upsert at the same instant beats a delete)
    latest = dedup.keep_latest(changes, keys, ts_col, [op_col])
    upserts = latest.filter(F.col(op_col) != "D").drop(op_col)
    target = _read_parquet_table(spark, path)
    if target is None:
        write_overwrite(upserts, path, partition_by)
        return
    # keys come from ALL latest changes (deletes drop the key from the
    # table); only the upsert rows come back in
    _replace_keys_and_swap(
        spark, path, target, latest, upserts, keys, "._tmp_cdc", partition_by
    )


def _spread_bits16(x):
    """Spread the low 16 bits of ``x`` so a zero sits between every bit
    (the magic-number Morton spread; exact integer ops)."""
    from pyspark.sql import functions as F

    x = x.bitwiseAND(F.lit(0xFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
    return x


def morton_key_2d(a, b):
    """Interleave the low 16 bits of two integer columns into a 32-bit
    Z-order (Morton) key: rows close in BOTH dimensions get close keys,
    so sorting by it clusters 2-D locality into the same row groups —
    what OPTIMIZE ZORDER does, as a plain deterministic expression."""
    from pyspark.sql import functions as F

    a64 = a.cast("long")
    b64 = b.cast("long")
    return _spread_bits16(a64).bitwiseOR(F.shiftleft(_spread_bits16(b64), 1))


def delete_where(
    spark: SparkSession,
    path: str,
    predicate: "F.Column",
    partition_by: list[str] | None = None,
) -> int:
    """Compliance-style delete: rewrite the table at ``path`` without
    rows matching ``predicate`` (the parquet stand-in for Delta's
    DELETE WHERE — right-to-erasure and retention-window enforcement).

    Returns the number of rows deleted. Uses the same atomic-swap path
    as merge_upsert, so a crash mid-rewrite keeps the old table; on a
    real table format with ``partition_by``, only affected partitions
    need rewriting.
    """
    df = spark.read.parquet(path)
    kept = df.filter(~predicate | predicate.isNull())
    # one aggregate, not two full-scan count()s: rows are deleted iff
    # the predicate is TRUE (NULL keeps the row, matching the filter)
    n_deleted = df.agg(
        F.sum(F.when(predicate, 1).otherwise(0)).cast("bigint")
    ).collect()[0][0] or 0
    if n_deleted == 0:
        return 0
    tmp = path + "._tmp_delete"
    _partitioned(kept, partition_by).mode("overwrite").format("parquet").save(tmp)
    _atomic_replace(spark, tmp, path)
    return n_deleted


def morton_key_nd(cols, bits_per: int | None = None):
    """Interleaved-bit Z-order key over ``k`` integer columns
    (generalizes ``morton_key_2d``): bit ``b`` of column ``j`` lands at
    position ``b*k + j``, so rows close in ALL dimensions get close
    keys. ``bits_per`` defaults to 63 // k (each column truncated to
    its low bits — callers bucket/normalize first, as with any Z-order).

    Built from plain shift/and/or terms (63 at k=3) — deterministic,
    engine-portable, whole-stage-codegen'd.
    """
    k = len(cols)
    if k < 2:
        raise ValueError("morton_key_nd needs >= 2 columns")
    bits = bits_per or (63 // k)
    if bits * k > 63:
        raise ValueError(f"bits_per={bits} x {k} columns exceeds 63 bits")
    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        cl = c.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        for b in range(bits):
            bit = F.shiftright(cl, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * k + j))
    return key
