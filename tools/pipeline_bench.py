"""Reference-scale pipeline benchmark.

The reference's operating point is 450,000 synthetic trips through
Bronze→Silver→Gold (+aggregates) as four separate Spark processes with
Delta hand-offs (README.md:106-134; scale from config.yaml:12-16). It
publishes no timings and its stack (delta-spark, airflow) isn't
installable here, so this measures OUR engine at THAT scale: one lazy
medallion plan over 450k trips (+50k duplicate re-ingestions to
exercise dedup), materializing every gold table and aggregate.

Prints the measurement as one JSON line and writes nothing else.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from distributed_mobility_data_pipeline_spark.plans import medallion
from distributed_mobility_data_pipeline_spark.session import get_spark
from fixtures import trips_pdf


def main() -> None:
    spark = get_spark("pipeline_bench")
    n = int(os.environ.get("PIPELINE_BENCH_TRIPS", "450000"))
    n_dups = n // 9  # ~50k duplicate re-ingestions at the default scale
    t0 = time.time()
    pdf = trips_pdf(n, n_dups=n_dups)
    gen_s = round(time.time() - t0, 2)

    t0 = time.time()
    raw = spark.createDataFrame(pdf)
    raw = raw.repartition(32).localCheckpoint(eager=True)  # simulate on-disk bronze input
    load_s = round(time.time() - t0, 2)

    t0 = time.time()
    layers = medallion.run_medallion(raw)  # lazy composition
    counts = {name: df.count() for name, df in layers.items()}
    exec_s = round(time.time() - t0, 2)

    spark.stop()
    result = {
        "metric": "medallion_450k_trips",
        "value": exec_s,
        "unit": "sec",
        "rows_in": int(len(pdf)),
        "fixture_gen_sec": gen_s,
        "load_sec": load_s,
        "tables": counts,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
