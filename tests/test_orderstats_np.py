"""A/B parity for the orderstats numpy driver route: routed (driver
np.sort) and descent (bucketed selection) must return IDENTICAL
values/counts. Toggled via SPARK_GRAFT_DRIVER_ROUTES."""

import os
import random

import pytest
from pyspark.sql import functions as F

from databridge_etl_tools_spark.operators.orderstats import (
    equi_depth_boundaries_by,
    exact_median_by,
    kth_smallest_by,
)


@pytest.fixture(scope="module")
def spark():
    from databridge_etl_tools_spark.session import get_session

    yield get_session("test-orderstats-np")


def _both(fn):
    os.environ["SPARK_GRAFT_DRIVER_ROUTES"] = "0"
    try:
        descent = fn()
    finally:
        del os.environ["SPARK_GRAFT_DRIVER_ROUTES"]
    routed = fn()
    return descent, routed


def _data(spark, seed=7, n=5000, with_ties=True):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        g = ["a", "b", "cc"][i % 3]
        v = rng.randint(0, 50) if with_ties else rng.random() * 1e6
        w = rng.randint(1, 9)
        rows.append((g, v, w))
    t = "g string, v " + ("long" if with_ties else "double") + ", w long"
    return spark.createDataFrame(rows, t)


def test_kth_smallest_by_parity_long_ties(spark):
    df = _data(spark)
    d, r = _both(
        lambda: kth_smallest_by(
            df, "g", "v", lambda n: {1, n // 3, (n + 1) // 2, n}
        )
    )
    assert d == r


def test_kth_smallest_by_parity_double(spark):
    df = _data(spark, with_ties=False)
    d, r = _both(
        lambda: kth_smallest_by(df, "g", "v", lambda n: {1, n // 2, n})
    )
    assert d == r


def test_kth_smallest_by_weighted_parity(spark):
    df = _data(spark)
    d, r = _both(
        lambda: kth_smallest_by(
            df, "g", "v", lambda w: {1, w // 2, w}, weight_col="w"
        )
    )
    assert d == r


def test_driver_route_abort_takes_descent(spark, monkeypatch):
    """The route's row-count probe does not bound bytes (string group
    keys can pass spark.driver.maxResultSize): a collect that Spark
    aborts on that limit must fall back to the descent and still
    return the right ranks, not raise."""
    df = _data(spark, seed=5)

    def run():
        return kth_smallest_by(
            df, "g", "v", lambda n: {1, (n + 1) // 2, n}
        )

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_ROUTES", "0")
    want = run()
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_ROUTES")
    calls = []

    def _boom(self):
        calls.append(1)
        raise Exception(
            "Total size of serialized results of 3 tasks (1126.0 "
            "MiB) is bigger than spark.driver.maxResultSize"
        )

    monkeypatch.setattr(type(df), "toArrow", _boom)
    assert run() == want
    assert calls  # the route tried its collect before the descent


def test_exact_median_by_parity(spark):
    df = _data(spark, seed=13)
    d, r = _both(lambda: exact_median_by(df, "g", "v"))
    assert d == r


def test_equi_depth_parity_weighted(spark):
    df = _data(spark, seed=99)
    d, r = _both(
        lambda: equi_depth_boundaries_by(df, "g", "v", 3, weight_col="w")
    )
    assert d == r


def test_keyless_and_stats_fastpath_parity(spark):
    df = _data(spark, seed=5)
    stats = {
        (): (0, 50, df.where(F.col("v").isNotNull()).count()),
    }

    def run():
        return kth_smallest_by(df, (), "v", {(): [1, 100, 2500]}, stats=stats)

    d, r = _both(run)
    assert d == r


def test_date_group_keys_stay_python_native(spark):
    """Regression: DATE group keys must come back as datetime.date
    (the Spark Row value), never numpy datetime64 ints — callers
    index the result dict with Row values (sketch_quantile_rollup)."""
    import datetime

    rows = [
        (datetime.date(2024, 1, 1 + (i % 3)), i % 17) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "day date, v long")
    d, r = _both(lambda: kth_smallest_by(df, "day", "v", lambda n: {1, n}))
    assert d == r
    assert all(
        isinstance(g[0], datetime.date) for g in r[0]
    ), list(r[0])


def test_timestamp_group_keys_complete_or_fallback(spark):
    """Regression (r14 advisor): TIMESTAMP group keys decode tz-aware
    from Arrow but naive from collected Rows, so the driver route's
    key lookup can miss every group. The completeness gate must then
    fall back to the descent — never return empty rank dicts."""
    import datetime

    rows = [
        (datetime.datetime(2024, 1, 1 + (i % 3), 12, 0), i % 13)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v long")
    d, r = _both(lambda: kth_smallest_by(df, "ts", "v", lambda n: {1, n}))
    assert d == r
    assert all(got for got in r[0].values()), r[0]


def test_nan_and_null_rows_excluded_parity(spark):
    rows = [("a", 1.0), ("a", float("nan")), ("a", None), ("a", 2.0),
            ("b", 5.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    d, r = _both(lambda: kth_smallest_by(df, "g", "v", lambda n: {1, n}))
    assert d == r
    assert r[0][("a",)] == {1: 1.0, 2: 2.0}
