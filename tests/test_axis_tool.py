"""Pins tools/axis_sweep.py argument parsing — the invariance-axis
sweeps (SCALE_NOTES r14-r18) compare oracle results under altered Spark
configs, so a silently dropped or misparsed axis conf would turn a real
sweep into a no-op that still reports green. Spark-free."""

from __future__ import annotations

import pytest

# tools/ is on sys.path via conftest's single shared insert (ADVICE r15)
from axis_sweep import conf_values_match, parse_args


def test_default_sf_dir_and_confs():
    sf, conf = parse_args(["a.b=1", "c.d=x=y"])
    assert sf == "/root/testdata/sf0.01"
    # value-side '=' must survive the single split
    assert conf == {"a.b": "1", "c.d": "x=y"}


def test_explicit_sf_dir():
    sf, conf = parse_args(["/root/testdata/sf0.001", "k=v"])
    assert sf == "/root/testdata/sf0.001"
    assert conf == {"k": "v"}


def test_bare_word_after_confs_rejected():
    with pytest.raises(ValueError):
        parse_args(["k=v", "oops"])


def test_no_confs_yields_empty_dict():
    # main() refuses to sweep on an empty conf; parse just reports it
    sf, conf = parse_args([])
    assert conf == {}


@pytest.mark.parametrize(
    "got, asked",
    [
        ("true", "True"),
        ("1073741824b", "1g"),
        ("1048576", "1m"),
        ("60000ms", "60s"),
        ("300s", "5m"),
        ("3600s", "1h"),
        ("120s", "2min"),
    ],
)
def test_conf_echo_spelling_matches(got, asked):
    assert conf_values_match(got, asked)


@pytest.mark.parametrize("got, asked", [("6m", "5m"), ("60s", "60"), ("true", "false")])
def test_conf_echo_semantic_mismatch_aborts(got, asked):
    assert not conf_values_match(got, asked)
