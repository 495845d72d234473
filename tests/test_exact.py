"""functions/exact.py is the one home of exact arithmetic and grouped pair
generation: exact sums ignore partitioning, overflow raises instead of
returning NULL, ``sorted_pairs`` emits exactly the C(d, 2) ordered
pairs, and no other package module spells a decimal type or the pair
expression itself."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from distributed_mobility_data_pipeline_spark.functions.exact import (
    exact_avg,
    exact_sum,
    sorted_pairs,
)

PKG = Path(__file__).resolve().parents[1] / "distributed_mobility_data_pipeline_spark"
EXACT = PKG / "functions" / "exact.py"
# one period sums to 1.300001, so 1000 periods sum to 1300.001 exactly;
# the 1e9 swing makes plain double sums depend on accumulation order
VALUES = [0.1, 0.2, 0.3, 1e9 + 1e-6, -1e9, 0.7] * 1000


def test_exact_sum_and_avg_are_bit_identical_across_partitionings(spark):
    df = spark.createDataFrame([(v,) for v in VALUES], "x double")
    exact, plain = set(), set()
    for n in (1, 7, 13):
        row = (
            df.repartition(n)
            .agg(
                exact_sum("x").alias("s"),
                exact_avg("x").alias("a"),
                F.sum("x").alias("p"),
            )
            .first()
        )
        exact.add((row.s, row.a))
        plain.add(row.p)
    assert exact == {(1300.001, 1300.001 / len(VALUES))}
    # control: the data does expose order-dependent double sums
    assert len(plain) > 1, plain


def test_exact_sum_overflow_raises_instead_of_null(spark):
    # 1e12 needs 13 integer digits; decimal(18,6) holds 12
    df = spark.createDataFrame([(1e12,)], "x double")
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        df.agg(exact_sum("x")).collect()


def test_sorted_pairs_emits_choose_two(spark):
    df = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [5]), (3, [])], "g int, ds array<int>"
    )
    rows = (
        df.select("g", F.explode(sorted_pairs("ds")).alias("p"))
        .select("g", "p.doc_a", "p.doc_b")
        .collect()
    )
    assert sorted(tuple(r) for r in rows) == [(1, 1, 2), (1, 1, 3), (1, 2, 3)]


def _code_strings(path: Path):
    """String literals of ``path`` that are code, not docstrings (or other
    bare string statements); an f-string renders each field as 0.
    Comments never reach the AST."""
    tree = ast.parse(path.read_text())
    skip = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
            skip.add(id(node.value))
        if isinstance(node, ast.JoinedStr):
            skip.update(id(v) for v in node.values)
            yield "".join(
                v.value if isinstance(v, ast.Constant) else "0" for v in node.values
            )
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in skip
        ):
            yield node.value


def test_decimal_types_are_named_only_in_exact():
    literal = re.compile(r"decimal\s*\(\s*\d+\s*,\s*\d+\s*\)", re.I)
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == EXACT:
            continue
        tree = ast.parse(path.read_text())
        if any(
            isinstance(n, ast.Name) and n.id == "DecimalType"
            or isinstance(n, ast.Attribute) and n.attr == "DecimalType"
            for n in ast.walk(tree)
        ):
            offenders.append(f"{path.name}: DecimalType")
        offenders += [
            f"{path.name}: {s!r}" for s in _code_strings(path) if literal.search(s)
        ]
    assert not offenders, offenders


def test_pair_expression_has_one_home():
    pattern = re.compile(r"F\.slice\(\w+, i \+ 2")
    homes = [
        path.relative_to(PKG).as_posix()
        for path in sorted(PKG.rglob("*.py"))
        for _ in pattern.finditer(path.read_text())
    ]
    assert homes == ["functions/exact.py"], homes
