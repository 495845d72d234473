"""Value pin for the rows-only ML training queries.

The driver checks ``ml_train_demand_models`` and ``ml_train_classifier``
by row count only (MLlib fits have no SQL oracle), so a change that
moves their metrics — e.g. a persist that shifts randomSplit's
per-partition sampling under AQE — would pass it silently. This pins
their sorted rows at sf0.001 to the values recorded before the pin was
added; they matched at 1 and 4 local cores.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod

EXPECTED = {
    "ml_train_demand_models": [
        ("gbt", 4.40453478513436, 3.5349180842178303, -0.9346335715797087, 0),
        ("linear_regression", 3.8748257985893493, 3.297955494172967,
         -0.49727990717080206, 0),
        ("random_forest", 3.8063947093494486, 3.10671072932915,
         -0.4448616814072408, 1),
    ],
    "ml_train_classifier": [
        ("accuracy", 0.2962962962962963),
        ("f1", 0.18653159488985346),
        ("weightedPrecision", 0.1727099384263127),
        ("weightedRecall", 0.2962962962962963),
    ],
}


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_ml_training_values_pinned(spark, sf_dir, name):
    if os.path.basename(sf_dir.rstrip("/")) != "sf0.001":
        pytest.skip("values are pinned at sf0.001")
    rows = sorted(tuple(r) for r in entrymod.queries()[name](spark, sf_dir).collect())
    assert rows == [pytest.approx(r, rel=1e-9) for r in EXPECTED[name]]
