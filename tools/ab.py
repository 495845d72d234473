"""Interleaved in-band A/B harness for two query builders.

Each variant is a ``module:function`` argument; the function takes
``(spark, sf_dir)`` and returns a DataFrame, which is executed through
the ``noop`` sink. The two variants run strictly alternated (order
swapping every round) with a min-of-2 lineitem scan-count canary once
per round, so both share every host window (fresh-session single-query
timings are polluted by JIT and host windows). The per-variant medians
count only in-band rounds: those whose canary is within ``BAND`` of the
fastest canary of the run. Every raw timing and canary is printed too.

Usage: python tools/ab.py MODULE:FUNC_A MODULE:FUNC_B [rounds]

Example — put both builders in one module on the working directory:
    # exp.py
    def plain(spark, sf_dir): ...
    def repartitioned(spark, sf_dir): ...
    python tools/ab.py exp:plain exp:repartitioned 8

Prints one JSON line. The data dir is the bench's (``SPARK_GRAFT_SF_DIR``,
default sf0.1).
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import SF_DIR  # the bench's data dir (SPARK_GRAFT_SF_DIR)
from distributed_mobility_data_pipeline_spark.session import get_spark

BAND = 1.25  # in-band: canary ≤ BAND × the run's fastest canary


def load_variant(spec: str):
    """Resolve a ``module:function`` spec to the function."""
    module, sep, func = spec.partition(":")
    if not sep or not module or not func:
        raise ValueError(f"variant {spec!r} is not module:function")
    return getattr(importlib.import_module(module), func)


def in_band_medians(
    runs_a: list[float], runs_b: list[float], canaries: list[float]
) -> tuple[float, float, list[bool]]:
    """Per-variant medians over the rounds whose canary is in band."""
    floor = min(canaries)
    band = [c <= BAND * floor for c in canaries]
    med_a = statistics.median(t for t, ok in zip(runs_a, band) if ok)
    med_b = statistics.median(t for t, ok in zip(runs_b, band) if ok)
    return med_a, med_b, band


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _canary_min2(spark) -> float:
    samples = []
    for _ in range(2):
        df = entrymod._t(spark, SF_DIR, "lineitem")
        t0 = time.time()
        df.count()
        samples.append(time.time() - t0)
    return round(min(samples), 4)


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    la, lb = sys.argv[1], sys.argv[2]
    sys.path.insert(0, os.getcwd())  # variant modules live beside the caller
    fa, fb = load_variant(la), load_variant(lb)
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    spark = get_spark("ab")
    _canary_min2(spark)
    # one throwaway run per variant: JIT + persist-cache warm-up so
    # round 1 sees the same cache state later rounds see
    spark.sparkContext.setJobDescription("ab:warmup")
    _noop(fa(spark, SF_DIR))
    _noop(fb(spark, SF_DIR))
    runs_a: list[float] = []
    runs_b: list[float] = []
    canaries: list[float] = []
    for r in range(rounds):
        canaries.append(_canary_min2(spark))
        order = [(la, fa, runs_a), (lb, fb, runs_b)]
        if r % 2:
            order.reverse()
        for label, fn, out in order:
            spark.sparkContext.setJobDescription(f"ab:{label}:r{r}")
            t0 = time.time()
            _noop(fn(spark, SF_DIR))
            out.append(round(time.time() - t0, 3))
    spark.stop()
    med_a, med_b, band = in_band_medians(runs_a, runs_b, canaries)
    print(json.dumps({
        "variant_a": la, "runs_a": runs_a, "median_a": round(med_a, 3),
        "variant_b": lb, "runs_b": runs_b, "median_b": round(med_b, 3),
        "b_over_a_speedup": round(med_a / med_b, 3) if med_b else None,
        "round_canaries": canaries,
        "in_band_rounds": sum(band),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
