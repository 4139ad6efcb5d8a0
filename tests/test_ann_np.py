"""A/B parity for the ANN driver routes (kmeans_fit, kcenter_greedy):
routed (one Arrow collect + numpy loop) and distributed paths must
return IDENTICAL centroids/assignments/selections. Toggled via
SPARK_GRAFT_DRIVER_ROUTES."""

import os

import pytest

from databridge_etl_tools_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def spark():
    from databridge_etl_tools_spark.session import get_session

    yield get_session("test-ann-np")


def _both(fn):
    os.environ["SPARK_GRAFT_DRIVER_ROUTES"] = "0"
    try:
        dist = fn()
    finally:
        del os.environ["SPARK_GRAFT_DRIVER_ROUTES"]
    routed = fn()
    return dist, routed


def _emb(spark, sf="/root/testdata/sf0.001"):
    from databridge_etl_tools_spark.registry import table

    return table(spark, sf, "embeddings")


def test_kmeans_fit_parity(spark):
    def run():
        cents, asg = SIM.kmeans_fit(_emb(spark), k=8, iters=3)
        return cents, sorted(map(tuple, asg.collect()))

    (dc, da), (rc, ra) = _both(run)
    assert dc == rc  # float centroid lists bit-identical
    assert da == ra


def test_kmeans_fit_parity_more_iters_and_small_k(spark):
    def run():
        cents, asg = SIM.kmeans_fit(_emb(spark), k=3, iters=6)
        return cents, sorted(map(tuple, asg.collect()))

    (dc, da), (rc, ra) = _both(run)
    assert dc == rc
    assert da == ra


def test_kcenter_parity(spark):
    def run():
        return sorted(
            map(tuple, SIM.kcenter_greedy(_emb(spark), k=8).collect())
        )

    d, r = _both(run)
    assert d == r


def test_kcenter_k_exceeds_rows(spark):
    emb = _emb(spark).limit(3)

    def run():
        return sorted(
            map(tuple, SIM.kcenter_greedy(emb, k=5).collect())
        )

    d, r = _both(run)
    assert d == r


def test_cosine_topk_parity_brute(spark):
    """Routed vs distributed exact cosine top-k, brute-force mode,
    on the real float32 embeddings (query subset)."""
    from pyspark.sql import functions as F

    def run():
        return sorted(
            map(
                tuple,
                SIM.cosine_topk(
                    _emb(spark), k=5, query_pred=F.col("vec_id") % 50 == 0
                ).collect(),
            )
        )

    dist, routed = _both(run)
    assert dist == routed
    assert routed  # non-empty


def test_cosine_topk_parity_self_mode(spark):
    """Self-kNN (query_pred=None): every row is a query; exact ties
    and self-exclusion must match."""
    def run():
        return sorted(map(tuple, SIM.cosine_topk(_emb(spark), k=3).collect()))

    dist, routed = _both(run)
    assert dist == routed


def test_cosine_topk_parity_cell_mode(spark):
    """Cell-restricted (IVF-style) mode on the label column."""
    from pyspark.sql import functions as F

    def run():
        return sorted(
            map(
                tuple,
                SIM.cosine_topk(
                    _emb(spark),
                    k=5,
                    query_pred=F.col("vec_id") % 50 == 0,
                    cell_col="label",
                ).collect(),
            )
        )

    dist, routed = _both(run)
    assert dist == routed


def test_cosine_topk_parity_exact_ties(spark):
    """Duplicate vectors produce exactly-equal cosines: the
    (cosine desc, neighbor_id asc) cut must break ties identically."""
    rows = [
        (1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0]),
        (4, [2.0, 0.0]), (5, [0.0, 1.0]), (6, [1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def run():
        return sorted(map(tuple, SIM.cosine_topk(df, k=3).collect()))

    dist, routed = _both(run)
    assert dist == routed


def test_cosine_topk_zero_norm_falls_back(spark):
    """A zero vector divides by zero, which the distributed plan
    raises under ANSI mode — the route must REFUSE such input (not
    silently emit inf/NaN rankings) so both paths surface the same
    ArithmeticException."""
    import pytest

    rows = [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def run():
        return sorted(map(str, SIM.cosine_topk(df, k=2).collect()))

    for mode in ("0", "1"):
        os.environ["SPARK_GRAFT_DRIVER_ROUTES"] = mode
        try:
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                run()
        finally:
            del os.environ["SPARK_GRAFT_DRIVER_ROUTES"]


def test_pca_prefilter_parity(spark):
    """Routed vs distributed coarse+rerank ANN on the real float32
    embeddings: identical rows incl. exact cosines and tie order."""
    from pyspark.sql import functions as F

    from databridge_etl_tools_spark.operators.pca import (
        pca_fit,
        pca_prefilter_topk,
    )

    emb = _emb(spark)
    model = pca_fit(emb, "embedding", k=8, iters=16)

    def run():
        return sorted(
            map(
                tuple,
                pca_prefilter_topk(
                    emb,
                    model,
                    k=5,
                    shortlist=50,
                    query_pred=F.col("vec_id") % 50 == 0,
                ).collect(),
            )
        )

    dist, routed = _both(run)
    assert dist == routed
    assert routed
