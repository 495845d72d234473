"""Benchmark of the engine: one workload per invocation.

    python3 perfbench/run.py --workload medallion_etl --seed 7 --seconds 20 --trace 0

Run from the root of a checkout. It starts one Spark driver at
local[nproc], makes the workload's inputs from ``--seed``, runs one
untimed warm-up unit whose outputs it checks, then runs timed units in a
closed loop for ``--seconds``. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics under ``--trace 0`` and the per-layer metrics
under ``--trace 1``. The line before it holds the run's detail: the seed,
the host-speed canary, the tail rank, every unit time and any failures.
A traced run alternates traced and untraced units and reports the
difference as ``trace.overhead_pct``; its spans are written to
``perfbench/work/<workload>/trace.json``. Workload sizes, query lists and
the layer-to-metric map are in ``perfbench/design.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "perfbench", "design.json")) as _f:
    WORKLOADS = tuple(json.load(_f)["workloads"])
# inputs the benchmark needs from the checkout besides its own directory
NEEDED = (
    "distributed_mobility_data_pipeline_spark/__init__.py",
    "__spark_entry__.py",
    "tests/fixtures.py",
    "tools/verify_local.py",
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def canary() -> float:
    """Seconds for a fixed amount of hashing: the host's speed right now,
    reported beside the metrics so host drift shows in an A/B."""
    buf = bytes(range(256)) * 4096  # 1 MiB
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(64):
            h.update(buf)
        h.digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    time this program waited that no change to it can remove."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def start_session(work: str):
    from distributed_mobility_data_pipeline_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap floor and young generation make peak RSS show what the
    # program holds rather than when the collector chose to grow the heap
    # (across seeds its spread fell from 0.13-0.31 to 0.02 of the median).
    # Without perf data the JVM writes nothing outside the checkout.
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -Xmn512m"
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args: argparse.Namespace) -> tuple[dict, dict, object]:
    from perfbench import metrics, workloads
    from perfbench.trace import Tracer

    work = os.path.join(ROOT, "perfbench", "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    run_id = f"{args.workload}-{args.seed}-{time.time_ns()}"
    ledger = workloads.Ledger()
    tracer = Tracer(run_id, enabled=False)

    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    tracer.spark = spark
    try:
        wl = workloads.WORKLOADS[args.workload](spark, data, args.seed, tracer, ledger)
        t0 = time.perf_counter()
        wl.prepare()
        inputs_s = time.perf_counter() - t0

        def timed(name: str, op) -> float | None:
            t = time.perf_counter()
            ok, _ = ledger.run(name, op)
            return time.perf_counter() - t if ok else None

        warm_ops: dict[str, float] = {}

        def timed_warm_up(name: str, op) -> float | None:
            warm_ops[name] = timed(name, op)
            return warm_ops[name]

        warm_s = wl.warm_up(timed_warm_up)
        setup_s = session_s + inputs_s + warm_s
        canaries = [canary()]

        # closed loop: a unit starts only if one more, as long as the last,
        # fits in --seconds; one unit always runs, and a traced run makes an
        # untraced, a traced and an untraced unit at least
        units: list[dict] = []
        deadline = time.perf_counter() + args.seconds
        cpu0 = cpu_times()
        while (
            not units
            or (args.trace and len(units) < 3)
            or time.perf_counter() + units[-1]["seconds"] <= deadline
        ):
            traced = bool(args.trace) and len(units) % 2 == 1
            tracer.enabled = traced
            t = time.perf_counter()
            ops = []
            with tracer.span("unit") as span:
                for name, op in wl.unit(stats=traced):
                    ops.append((name, timed(name, op)))
            units.append({
                "seconds": time.perf_counter() - t, "traced": traced, "span": span,
                "ops": [(n, s) for n, s in ops if s is not None],
                "complete": all(s is not None for _, s in ops),
            })
        tracer.enabled = False
        steal = steal_share(cpu0, cpu_times())
        wl.final_check()
        canaries.append(canary())
        peak_mb = jvm_peak_rss_mb(spark)
    finally:
        stop_session(spark)

    detail = {
        "workload": args.workload, "seed": args.seed, "run_id": run_id,
        "cores": len(os.sched_getaffinity(0)),
        "canary_s": canaries, "steal_share": steal,
        "session_s": session_s, "inputs_s": inputs_s,
        "warm_up_s": warm_s, "warm_up_ops_s": warm_ops,
        "unit_s": [u["seconds"] for u in units],
        "failed_ops_ratio": ledger.failed_ratio,
        "failures": ledger.failures[:5],
    }
    if args.trace:
        trace_path = os.path.join(work, "trace.json")
        tracer.write(trace_path)
        detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        values = metrics.per_layer(wl, tracer, units, session_s)
    else:
        values, detail["op_tail"] = metrics.end_to_end(setup_s, units, peak_mb)
    shutil.rmtree(data, ignore_errors=True)
    return detail, values, ledger


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}",
              file=sys.stderr)
        return 2
    for p in (ROOT, os.path.join(ROOT, "tests"), os.path.join(ROOT, "tools")):
        sys.path.insert(0, p)
    detail, values, ledger = run(args)
    from perfbench.metrics import UNITS

    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
