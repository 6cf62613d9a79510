"""``session.spark_round`` — the driver-side rounding of the small-scan
path — equals Spark's ``F.round`` bit for bit.

Spark rounds a double HALF_UP on its decimal form, so a difference
from any other rule shows at ties of the decimal form and at the
doubles next to them; both are built here at the 6th decimal, next to
random scores, zeros of both signs and extreme magnitudes."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from open_source_search_engine_spark.session import local_frame, spark_round

DPS = (0, 2, 5)
CONVERT_TO_LOCAL = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"


def _doubles() -> np.ndarray:
    rng = np.random.default_rng(20261019)
    # constructed ties: 6 decimals ending in 5, at the 5th-place
    # rounding boundary, in the BM25 score range
    ties = (rng.integers(0, 50_000_000, 200_000) * 10 + 5) / 1e6
    # and ties at the 0- and 2-place boundaries
    ties_low = np.concatenate([
        rng.integers(0, 200, 20_000) + 0.5,
        (rng.integers(0, 20_000, 20_000) * 10 + 5) / 1e3,
    ])
    ties = np.concatenate([ties, ties_low])
    near = np.concatenate([
        np.nextafter(ties, np.inf), np.nextafter(ties, -np.inf),
    ])
    extremes = np.array([
        0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308,
        1e-7, -1e-7, 4.9999e-6, 5e-6, -5e-6, 0.5, -0.5, 1.5, -1.5,
        2.5, -2.5, 1e15 + 0.5, 1e22, 1.7976931348623157e308,
        -1.7976931348623157e308,
    ])
    return np.concatenate([
        rng.uniform(0, 60, 300_000),
        rng.exponential(3.0, 200_000),
        -rng.uniform(0, 60, 20_000),
        10.0 ** rng.uniform(-12, 300, 20_000),
        ties, -ties[:20_000], near, extremes,
    ])


def _spark_rounded(spark, x: np.ndarray) -> pd.DataFrame:
    """``F.round(x, dp)`` for every dp, read back in one Spark job."""
    return (
        local_frame(spark, "x double", pd.DataFrame({"x": x}))
        .select(*(F.round("x", dp).alias(f"r{dp}") for dp in DPS))
        .toPandas()
    )


def test_spark_round_equals_spark(spark):
    x = _doubles()
    assert x.size >= 1_000_000
    # Spark folds a projection over a local relation in the optimizer
    # (interpreted ``round``); with that rule off the same projection
    # runs as generated code, as it does over a Spark scan
    folded = _spark_rounded(spark, x)
    spark.conf.set("spark.sql.optimizer.excludedRules", CONVERT_TO_LOCAL)
    try:
        generated = _spark_rounded(spark, x)
    finally:
        spark.conf.unset("spark.sql.optimizer.excludedRules")
    for dp in DPS:
        got = spark_round(x, dp)
        for rounded in (folded, generated):
            want = rounded[f"r{dp}"].to_numpy()
            # bit-identical: equal values and equal signs of zero
            bad = got.view(np.int64) != want.view(np.int64)
            assert not bad.any(), (dp, x[bad][:5], got[bad][:5], want[bad][:5])
    # non-vacuous: at ties, HALF_UP on the decimal form differs from
    # numpy's half-even rounding of the binary value
    ties = (np.arange(100_000) * 10 + 5) / 1e6
    assert (spark_round(ties, 5) != np.round(ties, 5)).sum() > 10_000


def test_spark_round_edges():
    got = spark_round([0.125, 2.675, -0.0, -1e-9, 2.5, float("nan"), float("inf")], 2)
    assert got.tolist()[:5] == [0.13, 2.68, 0.0, 0.0, 2.5]
    assert np.signbit(got[2:4]).tolist() == [False, False]
    assert np.isnan(got[5]) and got[6] == float("inf")
    assert spark_round([0.5, 1.5, 2.5, -2.5], 0).tolist() == [1.0, 2.0, 3.0, -3.0]
    assert spark_round([], 5).size == 0
