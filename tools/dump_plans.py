"""Dump .explain('formatted') for the bench panels into an output directory.

Usage: python tools/dump_plans.py OUT_DIR before|after [query ...]
With no query args, dumps the full headline + extended panels. Each plan
lands in ``OUT_DIR/<query>_<before|after>.txt``, so a before/after pair
diffs file by file (e.g. ``plans/r20``).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
import bench
from distributed_mobility_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or (bench.HEADLINE + bench.EXTENDED)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    qs = entrymod.queries()
    for name in names:
        if name not in qs:
            print(f"skip {name}: not in queries()")
            continue
        try:
            df = qs[name](spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # noqa: BLE001 — keep dumping the rest
            text = f"ERROR: {type(exc).__name__}: {exc}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
