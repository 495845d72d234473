"""The benchmark's two workloads and their output checks.

Each workload prepares its seeded inputs, runs one untimed warm-up unit
whose outputs it checks, then runs timed units. A unit is a list of
operations (a layer write or a query); the runner times each one and the
ledger counts every operation and check, failed or not.

- ``medallion_etl``: bronze, silver and gold written once each through
  ``sources.writers.write_overwrite``, each layer reading the previous
  one's files back, then a late-data batch through
  ``sources.writers.merge_upsert`` into silver.
- ``query_panel``: one closed-loop pass, in a seeded order, into a
  ``noop`` sink over a panel of driver queries and the iterative
  near-duplicate cluster queries, whose driver-side loops run Spark jobs
  while they build.
"""

from __future__ import annotations

import json
import os
import random
import traceback

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "design.json")) as _f:
    DESIGN = json.load(_f)

GOLD_TABLES = [
    "dim_time", "dim_users", "dim_drivers", "dim_locations", "trips_fact",
    "payments_fact", "demand_hourly_by_pickup_zone",
    "revenue_daily_by_pickup_zone", "driver_daily_summary", "location_metrics",
]
LAYERS = ["bronze", "silver", "gold"]


class Ledger:
    """Counts attempted and failed operations, checks included."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def run(self, name: str, fn) -> tuple[bool, object]:
        """Run ``fn``; return whether it succeeded, and its result."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:  # a failed operation is counted, not fatal
            self.failed += 1
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)[-600:]}")
            return False, None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"check {name}: {detail}")
        return ok

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """Bytes and number of data files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("part-", "part_")):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


# ---------------------------------------------------------------- medallion


def expected_layer_counts(raw: pd.DataFrame) -> dict[str, int]:
    """Rows per medallion table, derived from the raw trips in pandas.

    Re-ingested duplicates differ from their original only in the fare,
    so every grouping below counts the same whichever copy silver keeps.
    """
    s = raw.drop_duplicates("trip_id")
    date = s["requested_at"].dt.date
    completed = s["status"].str.strip().str.lower() == "completed"
    weekend = s["requested_at"].dt.dayofweek >= 5
    return {
        "bronze": len(raw),
        "silver": len(s),
        "dim_time": date.nunique(),
        "dim_users": s["user_id"].nunique(),
        "dim_drivers": s["driver_id"].nunique(),
        "dim_locations": pd.concat([s["pickup_zone_id"], s["dropoff_zone_id"]]).nunique(),
        "trips_fact": len(s),
        "payments_fact": len(s),
        "demand_hourly_by_pickup_zone": len(
            set(zip(date, s["requested_at"].dt.hour, s["pickup_zone_id"]))
        ),
        "revenue_daily_by_pickup_zone": len(
            set(zip(date[completed], s["pickup_zone_id"][completed]))
        ),
        "driver_daily_summary": len(
            set(zip(date[completed], s["driver_id"][completed]))
        ),
        "location_metrics": len(set(zip(s["pickup_zone_id"], weekend))),
    }


def content_hash(df) -> tuple[int, int]:
    """Order-insensitive (rows, hash) of a table, load timestamp excluded."""
    cols = sorted(c for c in df.columns if c != "ingested_at")
    row = df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
    ).first()
    return int(row[0]), int(row[1] or 0)


class MedallionETL:
    """Timed units run on the seeded input; the untimed warm-up unit runs
    the same plans on a smaller input of the same seed, which compiles
    them at a fraction of a full cold unit's cost. Outputs are checked
    once, after the timed units, from the files the last unit wrote."""

    name = "medallion_etl"

    def __init__(self, spark, work: str, seed: int, tracer, ledger: Ledger):
        self.cfg = DESIGN["workloads"][self.name]
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.ledger = tracer, ledger
        self.layer_stats: dict[str, float] = {}
        self.counts: dict[str, int] | None = None

    def _land(self, root: str, n: int, n_dups: int, late: tuple[int, int]) -> dict:
        from fixtures import trips_pdf

        raw = trips_pdf(n, seed=self.seed, n_dups=n_dups)
        batch, new_ids = datagen.late_batch(raw, self.seed, *late)
        # landed as several files so the bronze scan is parallel
        for name, pdf, parts in (("raw", raw, 8), ("late", batch, 1)):
            os.makedirs(os.path.join(root, name))
            for i, rows in enumerate(np.array_split(np.arange(len(pdf)), parts)):
                pdf.iloc[rows].to_parquet(
                    os.path.join(root, name, f"part-{i:05d}.parquet"),
                    index=False, coerce_timestamps="us",
                    allow_truncated_timestamps=True,
                )
        return {"root": root, "raw": raw, "new_ids": new_ids}

    def prepare(self) -> None:
        c = self.cfg
        self.main = self._land(
            os.path.join(self.work, "main"), c["trips"], c["duplicates"],
            (c["late_corrected"], c["late_new"]),
        )
        self.expected = expected_layer_counts(self.main.pop("raw"))
        self.late_bytes = dir_stats(os.path.join(self.main["root"], "late"))[0]
        n = c["warm_up_trips"]
        self.warm = self._land(
            os.path.join(self.work, "warm"), n, n // 9, (n // 100, n // 100)
        )

    def unit(self, stats: bool = False, inp: dict | None = None):
        """(operation name, callable) for one ETL plus upsert; ``stats``
        records the bytes and files each layer wrote."""
        from distributed_mobility_data_pipeline_spark.plans import medallion
        from distributed_mobility_data_pipeline_spark.sources import writers

        root = (inp or self.main)["root"]
        if stats:
            self.layer_stats = {}
        path = lambda name: os.path.join(root, name)  # noqa: E731
        read = lambda name: self.spark.read.parquet(path(name))  # noqa: E731

        def layer(name: str, src: str, build) -> None:
            with self.tracer.span(f"medallion.{name}"):
                writers.write_overwrite(build(read(src)), path(name), ["requested_date"])
            if stats:
                self._record_dir(name, path(name))

        gold: dict = {}

        def gold_write(t: str) -> None:
            if not gold:  # the first gold write builds every gold plan
                with self.tracer.span("medallion.gold.construct"):
                    gold.update(medallion.gold(read("silver")))
            df = gold[t]
            part = ["requested_date"] if "requested_date" in df.columns else None
            with self.tracer.span(f"medallion.gold.{t}"):
                writers.write_overwrite(df, path(f"gold/{t}"), part)
            if stats:
                self._record_dir("gold", path(f"gold/{t}"))

        def upsert() -> None:
            with self.tracer.span("writers.merge_upsert"):
                late = medallion.silver(medallion.bronze(read("late"), "late"))
                writers.merge_upsert(
                    self.spark, late, path("silver"), ["trip_id"], ["requested_date"]
                )
            if stats:
                size = dir_stats(path("silver"))[0]
                self.layer_stats["writers.upsert_bytes_rewritten_mb"] = size / 2**20
                self.layer_stats["writers.upsert_rewrite_ratio"] = size / self.late_bytes

        return [
            ("bronze", lambda: layer("bronze", "raw", lambda r: medallion.bronze(r, "landing"))),
            ("silver", lambda: layer("silver", "bronze", medallion.silver)),
            *[(f"gold.{t}", lambda t=t: gold_write(t)) for t in GOLD_TABLES],
            ("upsert", upsert),
        ]

    def _record_dir(self, layer: str, path: str) -> None:
        size, files = dir_stats(path)
        mb, n = f"writers.{layer}.bytes_written_mb", f"writers.{layer}.files_written"
        self.layer_stats[mb] = self.layer_stats.get(mb, 0.0) + size / 2**20
        self.layer_stats[n] = self.layer_stats.get(n, 0) + files

    def warm_up(self, timed) -> float:
        return sum(timed(name, op) or 0.0 for name, op in self.unit(inp=self.warm))

    def final_check(self) -> None:
        ok, counts = self.ledger.run("check layer rows", self._check_layers)
        if ok:
            self.counts = counts
            self.ledger.run("check upsert replay", self._check_replay)

    def _check_layers(self) -> dict[str, int]:
        """Row counts read back from the files the last unit wrote, against
        the pandas-derived expectation and the seed-independent invariants:
        bronze = n + dups, silver = distinct trip_id, trips_fact = silver.
        Silver was read after the upsert, which must add exactly the new
        trips."""
        root, new_ids = self.main["root"], self.main["new_ids"]
        read = lambda name: self.spark.read.parquet(os.path.join(root, name))  # noqa: E731
        got = {t: read(f"gold/{t}").count() for t in GOLD_TABLES}
        got["bronze"] = read("bronze").count()
        silver = read("silver")
        after = silver.count()
        got["silver"] = after - len(new_ids)
        for k, v in self.expected.items():
            self.ledger.check(f"rows.{k}", got[k] == v, f"{got[k]} != {v}")
        c = self.cfg
        self.ledger.check("bronze = n + dups", got["bronze"] == c["trips"] + c["duplicates"])
        self.ledger.check(
            "silver = distinct trip_id",
            after == silver.select("trip_id").distinct().count(),
        )
        self.ledger.check("trips_fact = silver", got["trips_fact"] == got["silver"])
        n_new = silver.filter(F.col("trip_id").isin(sorted(new_ids))).count()
        self.ledger.check(
            "upsert adds exactly the new trips", n_new == len(new_ids),
            f"{n_new} of {len(new_ids)} new trip ids in silver",
        )
        return got

    def _check_replay(self) -> None:
        """Upserting the same batch again leaves silver's content unchanged."""
        silver = os.path.join(self.main["root"], "silver")
        before = content_hash(self.spark.read.parquet(silver))
        dict(self.unit())["upsert"]()
        after = content_hash(self.spark.read.parquet(silver))
        self.ledger.check("upsert replay leaves silver unchanged", before == after)

    def layer_values(self) -> dict[str, float]:
        """Writer statistics of the last traced unit, and rows in, out and
        rejected per layer as counted from the files by the final check."""
        out = dict(self.layer_stats)
        counts = self.counts
        if counts is None:
            return out
        ins = {"bronze": self.cfg["trips"] + self.cfg["duplicates"],
               "silver": counts["bronze"], "gold": counts["silver"]}
        outs = {"bronze": counts["bronze"], "silver": counts["silver"],
                "gold": counts["trips_fact"]}
        for layer in LAYERS:
            out[f"medallion.{layer}.rows_in"] = ins[layer]
            out[f"medallion.{layer}.rows_out"] = outs[layer]
            out[f"medallion.{layer}.rows_rejected"] = ins[layer] - outs[layer]
        return out


# ------------------------------------------------------------- query sets


def compare(name: str, ledger: Ledger, s_cols, s_rows, oracle) -> bool:
    """Check a Spark result against its DuckDB oracle by the rule of
    ``tools/verify_local.py``: row count, column names, and an
    order-insensitive hash with floats rounded to 9 significant digits.
    ``oracle`` is (columns, rows), or None for a rows-only query, which
    must only run and return rows."""
    from verify_local import table_hash

    if oracle is None:
        return ledger.check(f"{name} rows", len(s_rows) > 0, "no rows")
    d_cols, d_rows = oracle
    s_cols = [c.lower() for c in s_cols]
    d_cols = [c.lower() for c in d_cols]
    ok = (
        len(s_rows) == len(d_rows)
        and sorted(s_cols) == sorted(d_cols)
        and table_hash(s_cols, s_rows) == table_hash(d_cols, d_rows)
    )
    return ledger.check(
        f"{name} matches oracle", ok, f"rows {len(s_rows)}/{len(d_rows)}"
    )


class QueryPanel:
    """A closed-loop pass over named driver queries at a generated sf. The
    warm-up pass collects every result and checks it against the query's
    DuckDB oracle."""

    name = "query_panel"

    def __init__(self, spark, work: str, seed: int, tracer, ledger: Ledger):
        cfg = DESIGN["workloads"][self.name]
        self.queries = cfg["queries"] + cfg["cluster_queries"]
        self.sf, self.spark, self.seed = cfg["sf"], spark, seed
        self.tracer, self.ledger = tracer, ledger
        self.rng = random.Random(seed)
        self.sf_dir = os.path.join(work, "sf")
        self.duck = None
        self.module = {q: DESIGN["query_module"][q] for q in self.queries}

    def prepare(self) -> None:
        import __spark_entry__

        self.fns = {q: __spark_entry__.queries()[q] for q in self.queries}
        self.oracle_sql = __spark_entry__.oracle_sql()
        self.rows = datagen.star_tables(self.sf_dir, self.sf, self.seed)

    def _oracle(self, q: str):
        """(columns, rows) of the query's DuckDB oracle, or None for a
        query that is rows-only by design."""
        if q not in self.oracle_sql:
            return None
        if self.duck is None:
            self.duck = duckdb.connect()
            self.duck.execute("SET TimeZone='UTC'")
            for t in self.rows:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        rel = self.duck.sql(self.oracle_sql[q])
        return rel.columns, rel.fetchall()

    def _run(self, q: str, action):
        with self.tracer.span(f"query.{q}", module=self.module[q]):
            with self.tracer.span("construct"):
                df = self.fns[q](self.spark, self.sf_dir)
            with self.tracer.span("execute"):
                return action(df)

    def unit(self, stats: bool = False):
        order = list(self.queries)
        self.rng.shuffle(order)
        for q in order:
            yield q, lambda q=q: self._run(
                q, lambda df: df.write.format("noop").mode("overwrite").save()
            )

    def warm_up(self, timed) -> float:
        busy = 0.0
        for q in self.queries:
            got = {}

            def collect(q=q, got=got):
                got["cols"], got["rows"] = self._run(
                    q, lambda df: (df.columns, [tuple(r) for r in df.collect()])
                )
            busy += timed(q, collect) or 0.0
            if got:
                self.ledger.run(
                    f"check {q}",
                    lambda q=q, got=got: compare(
                        q, self.ledger, got["cols"], got["rows"], self._oracle(q)
                    ),
                )
        if self.duck is not None:
            self.duck.close()
        return busy

    def final_check(self) -> None:
        pass

    def layer_values(self) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (MedallionETL, QueryPanel)}
