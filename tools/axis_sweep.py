"""Invariance-axis sweep runner.

Pre-seeds the engine's SparkSession with the axis configs given on the
command line (``k=v`` pairs), then delegates to ``verify_local.main()``
— because ``get_spark`` uses ``getOrCreate``, every query in the sweep
runs under the axis settings while the DuckDB oracle side is untouched.
This is the exact pre-seeded-session protocol the r14-r18 SCALE_NOTES
sweeps used ad hoc, made repeatable.

Usage:
    python tools/axis_sweep.py [sf_dir] k=v [k=v ...]

Example (forced-spill axis):
    python tools/axis_sweep.py /root/testdata/sf0.01 \
        spark.sql.windowExec.buffer.spill.threshold=64
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_mobility_data_pipeline_spark.session import get_spark


def parse_args(args: list[str]) -> tuple[str, dict[str, str]]:
    """Split argv into (sf_dir, axis confs). The first arg is the sf dir
    only when it is not a ``k=v`` pair; everything else must be ``k=v``."""
    args = list(args)
    sf_dir = "/root/testdata/sf0.01"
    if args and "=" not in args[0]:
        sf_dir = args.pop(0)
        if not os.path.isdir(sf_dir):
            # a mistyped conf missing its '=value' must not be silently
            # consumed as the data dir (ADVICE r18)
            raise ValueError(
                f"first argument {sf_dir!r} is neither a k=v conf nor an "
                "existing sf directory"
            )
    for a in args:
        if "=" not in a:
            raise ValueError(f"axis conf {a!r} is not a k=v pair")
    return sf_dir, dict(a.split("=", 1) for a in args)


_SIZE_SUFFIXES = {
    "": 1, "b": 1,
    "k": 1024, "kb": 1024,
    "m": 1024**2, "mb": 1024**2,
    "g": 1024**3, "gb": 1024**3,
    "t": 1024**4, "tb": 1024**4,
}
# no bare-number entry: Spark's default time unit differs per conf
_TIME_SUFFIXES = {"ms": 1, "s": 1000, "m": 60_000, "min": 60_000, "h": 3_600_000}


def _scaled(s: str, units: dict[str, int]) -> int | None:
    m = re.fullmatch(r"(\d+)([a-z]*)", s)
    if m is None or m.group(2) not in units:
        return None
    return int(m.group(1)) * units[m.group(2)]


def conf_values_match(got: str, asked: str) -> bool:
    """Whether Spark's conf echo ``got`` means the value ``asked``.

    Spark normalizes value spelling in its echo — boolean case ('True' →
    'true'), byte sizes ('1g' → '1073741824b') and durations ('60s' →
    '60000ms', '5m' → '300s') — so two values match when they are equal
    after lowercasing, or equal as byte sizes, or equal as durations.
    ``m`` is MiB as a size and minutes as a duration; either reading
    may match."""
    a, b = (str(v).strip().lower() for v in (got, asked))
    if a == b:
        return True
    for units in (_SIZE_SUFFIXES, _TIME_SUFFIXES):
        x = _scaled(a, units)
        if x is not None and x == _scaled(b, units):
            return True
    return False


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--lenient"]
    lenient = "--lenient" in sys.argv[1:]
    sf_dir, conf = parse_args(argv)
    if not conf:
        print("no axis configs given; refusing to run a default sweep", file=sys.stderr)
        return 2
    spark = get_spark("axis_sweep", extra_conf=conf)
    for k, v in conf.items():
        got = spark.conf.get(k, None)
        print(f"axis conf {k} = {got}")
        if got is None:
            print(f"FATAL: axis conf {k} did not take (got None)", file=sys.stderr)
            return 2
        # Spark normalizes value SPELLING (boolean case, size and time
        # suffixes); compare semantics and abort on a residual SEMANTIC mismatch
        # — e.g. a static/immutable conf echoing its old stored value —
        # which means the sweep would attribute results to a
        # configuration that never applied (ADVICE r19: the r18 warn-
        # always downgrade let exactly that slip). --lenient restores
        # warn-only for deliberate experiments with echo-rewriting confs.
        if not conf_values_match(got, v):
            msg = f"axis conf {k} echoed {got!r} (asked {v!r}) — semantic mismatch"
            if lenient:
                print(f"WARNING: {msg} (--lenient)", file=sys.stderr)
            else:
                print(f"FATAL: {msg}; pass --lenient to proceed anyway", file=sys.stderr)
                return 2
    import verify_local

    return verify_local.main(sf_dir=sf_dir, only=())


if __name__ == "__main__":
    raise SystemExit(main())
