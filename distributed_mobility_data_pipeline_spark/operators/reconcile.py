"""Table reconciliation: bucketed checksums + bucket-level diff.

Comparing two 100 TB table replicas (pre/post migration, cross-region
copy, engine A vs engine B) by full-row join is a second 100 TB job.
The scalable pattern is hierarchical checksumming: hash every row to a
64-bit digest, fold digests into K bucket checksums (sum is
order-independent), and compare the K-row summaries. Only buckets that
disagree need row-level inspection — the anti-entropy design used by
replicated stores, expressed in DataFrame ops.

Digests use md5 hex prefixes (engine-portable, same rule the DuckDB
oracle evaluates) over a canonical '|'-joined string encoding. The
encoding is injective: per column, backslash and the separator are
backslash-escaped and NULL becomes the distinct token '\\N', so rows
differing only in WHICH column is NULL (e.g. (a, NULL, b) vs
(a, b, NULL)) get different digests — concat_ws alone would silently
skip NULLs and hash them identically. Callers pass the column list
explicitly and must pre-cast anything whose default string form is
engine-dependent (floats!) — integer, string, and date columns are
safe as-is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.functions.exact import DEC_INT


def _hex_prefix_to_long(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _canon_col(c: str):
    """Injective string encoding of one column for row digests.

    Backslash-escape the escape char and the '|' separator, then map
    NULL to the unescapable token '\\N' (a bare backslash + N can never
    be produced by the escaping, so NULL is distinguishable from the
    literal string "\\N" and from empty).
    """
    s = F.col(c).cast("string")
    esc = F.replace(
        F.replace(s, F.lit("\\"), F.lit("\\\\")),
        F.lit("|"),
        F.lit("\\|"),
    )
    return F.coalesce(esc, F.lit("\\N"))


def table_checksum(
    df: DataFrame,
    key_col: str,
    cols: list[str],
    n_buckets: int = 1024,
) -> DataFrame:
    """Per-bucket (row count, digest sum) summary of ``cols``.

    One map pass + one aggregation to ``n_buckets`` rows. The digest
    sum is order- and partitioning-independent (integer addition), so
    two replicas produce identical summaries iff their bucket contents
    match (up to md5-collision odds).

    The sum accumulates in DECIMAL(38,0) and is reduced mod 2^62
    before the bigint output cast: digests are up to 2^32, so a plain
    bigint sum overflows once a bucket holds ~2^31 rows — reachable at
    100 TB with the default 1024 buckets (ANSI error under Spark 4,
    silent wrap otherwise). The modular sum keeps the output type and
    every existing checksum value (sums below 2^62 are unchanged)
    while staying exact at any bucket size; equality of mod-sums
    detects mismatches with the same collision character as the raw
    sum. The DuckDB oracle applies the identical modulus.
    """
    if not cols:
        raise ValueError("cols must be a non-empty column list")
    canon = F.concat_ws("|", *[_canon_col(c) for c in cols])
    bucket = F.pmod(
        _hex_prefix_to_long(
            F.concat(F.col(key_col).cast("string"), F.lit("ck"))
        ),
        F.lit(n_buckets),
    )
    return (
        df.select(
            bucket.alias("bucket"),
            _hex_prefix_to_long(canon).alias("_digest"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_digest").cast(DEC_INT)).alias("_csum"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.pmod(F.col("_csum"), F.lit(2**62).cast(DEC_INT))
            .cast("bigint")
            .alias("checksum"),
        )
    )


def checksum_diff(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    cols: list[str],
    n_buckets: int = 1024,
) -> DataFrame:
    """Buckets where two tables disagree: (bucket, rows/checksum on
    each side, status ∈ {count_mismatch, checksum_mismatch}).

    Joins the two K-row summaries — the data tables are each scanned
    exactly once regardless of size."""
    ca = table_checksum(a, key_col, cols, n_buckets).withColumnsRenamed(
        {"n_rows": "n_rows_a", "checksum": "checksum_a"}
    )
    cb = table_checksum(b, key_col, cols, n_buckets).withColumnsRenamed(
        {"n_rows": "n_rows_b", "checksum": "checksum_b"}
    )
    j = ca.join(cb, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_rows_a", F.lit(0)).cast("bigint").alias("n_rows_a"),
        F.coalesce("n_rows_b", F.lit(0)).cast("bigint").alias("n_rows_b"),
        F.coalesce("checksum_a", F.lit(0)).cast("bigint").alias("checksum_a"),
        F.coalesce("checksum_b", F.lit(0)).cast("bigint").alias("checksum_b"),
    )
    return j.filter(
        (F.col("n_rows_a") != F.col("n_rows_b"))
        | (F.col("checksum_a") != F.col("checksum_b"))
    ).withColumn(
        "status",
        F.when(
            F.col("n_rows_a") != F.col("n_rows_b"), F.lit("count_mismatch")
        ).otherwise(F.lit("checksum_mismatch")),
    )


def row_diff(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    cols: list[str],
) -> DataFrame:
    """Row-level keyed diff — the drill-down step after
    :func:`checksum_diff` has narrowed 100 TB of replicas down to a few
    disagreeing buckets: run this on just those buckets' rows.

    Returns one row per differing key: ``(key, status, changed_cols)``
    with status ∈ {added (b only), removed (a only), changed} and
    ``changed_cols`` the comma-joined sorted names of columns whose
    values differ (null-safe: NULL vs value counts as a change, NULL vs
    NULL does not). One full-outer equi-join on the key — both sides
    scanned once."""
    if not cols:
        raise ValueError("cols must be a non-empty column list")
    ka = a.select(
        F.col(key_col).alias("_k"),
        F.lit(1).alias("_in_a"),
        *[F.col(c).alias(f"_a_{c}") for c in cols],
    )
    kb = b.select(
        F.col(key_col).alias("_k"),
        F.lit(1).alias("_in_b"),
        *[F.col(c).alias(f"_b_{c}") for c in cols],
    )
    j = ka.join(kb, "_k", "full_outer")
    diff_flags = [
        F.when(
            ~F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}")), F.lit(c)
        )
        for c in sorted(cols)
    ]
    changed_cols = F.concat_ws(",", F.array_compact(F.array(*diff_flags)))
    status = (
        F.when(F.col("_in_a").isNull(), F.lit("added"))
        .when(F.col("_in_b").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .withColumn(
            "changed_cols",
            F.when(F.col("status") == "changed", changed_cols).otherwise(
                F.lit("")
            ),
        )
        .filter(
            (F.col("status") != "changed") | (F.col("changed_cols") != "")
        )
        .select(F.col("_k").alias(key_col), "status", "changed_cols")
    )
