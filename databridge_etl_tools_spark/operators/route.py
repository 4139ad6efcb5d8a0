"""Driver routes: the one owner of the bounded-input policy.

The reference engine is one process. The Spark operators keep that
shape for BOUNDED inputs: at or under a size budget the input comes
to the driver in one Arrow collect and an exact numpy twin runs the
fixpoint there (graph, ANN/PCA, order statistics, BPE); past the
budget the distributed loop runs untouched — at 100 TB an edge table,
a vector corpus or a value column must never land on the driver.

Budgets (rows collected, per route family):

- ``graph``: 8M edges ≈ 200 MB collected (3 × int64 columns) —
  comfortable in the default 8g driver with a wide margin; numpy
  iteration at this size costs tens of milliseconds per round.
- ``ann``: 500k (id, vector) rows; 500k × 64-dim float64 ≈ 256 MB,
  replacing iters × (Arrow assign pass + mean collect) fixed-latency
  jobs (kmeans_fit / kcenter_greedy) or a top-k candidate join.
- ``orderstats``: 4M (group, value[, weight]) rows ≈ 100 MB; every
  requested rank resolves with one np.sort per group instead of the
  descent's stats/histogram/resolve job chain.
- ``bpe``: 1M distinct words. The merge loop is vocabulary-sized
  work (pair types are bigram-bounded, far below the vocabulary) with
  a sequential dependence between rounds; a Heaps-law vocabulary at
  100 TB is 10^8+ rows and takes the distributed loop.

``SPARK_GRAFT_DRIVER_ROUTES=0`` turns every budget to 0: the
distributed bench lane, the tests' A/B parity lever, and the honest
setting for clusters whose driver is memory-starved.

Why :func:`collect` is ONE plain parallel Arrow collect and not a
``limit(budget+1)`` probe: CollectLimit executes via ``executeTake``'s
incremental partition ramp (1, 4, 16, ... partitions per job —
``spark.sql.limit.initialNumPartitions``), which serializes what should
be one fully parallel pass; measured 3.08 s vs 0.67 s for a 3.6M-edge
union-of-joins lineage (r15, median-of-3), i.e. the r14 bounded probe
DOUBLED the routed path over even the old count+collect shape
(1.41 s). Raising the initial-partition count would instead let every
task ship up to budget rows to the driver at once — unbounded driver
memory at scale. So the row budget is checked AFTER the collect, and
the memory guard during it is Spark's own ``spark.driver.maxResultSize``
abort (1g default): a wildly over-budget input costs one partial scan,
never a driver OOM. Spark reads ``maxResultSize=0`` as "unlimited",
which would remove that guard, so the route refuses under it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.compute as pc

#: per-family row budgets (see the module docstring for the sizing)
BUDGETS = {
    "graph": 8_000_000,
    "ann": 500_000,
    "orderstats": 4_000_000,
    "bpe": 1_000_000,
}

#: the one switch: "0" disables every driver route
SWITCH = "SPARK_GRAFT_DRIVER_ROUTES"


def budget(name: str) -> int:
    """Row budget of route family ``name``; 0 when the switch is off.
    Read at call time so a process can toggle it."""
    if os.environ.get(SWITCH) == "0":
        return 0
    return BUDGETS[name]


def collect(df, budget: int):
    """One plain Arrow collect of ``df``, or None (the caller takes
    the distributed path) when the budget is ≤ 0, when
    ``spark.driver.maxResultSize`` is 0 (no memory guard), when Spark
    aborts the collect on ``maxResultSize``, or when it returns more
    than ``budget`` rows. Row order is whatever the collect returned —
    every routed twin normalizes on the arrays."""
    if budget <= 0:
        return None
    conf = df.sparkSession.sparkContext._jsc.sc().conf()
    if conf.getSizeAsBytes("spark.driver.maxResultSize", "1g") == 0:
        return None
    try:
        tbl = df.toArrow()
    except Exception as exc:  # over-size abort → distributed path
        if "maxResultSize" in str(exc) or "bigger than" in str(exc):
            return None
        raise
    if tbl.num_rows > budget:
        return None
    return tbl


def columns(tbl, names):
    """``names`` columns of ``tbl`` as numpy arrays, or None when
    ``tbl`` is None or any column has NULLs (distributed semantics
    own them)."""
    if tbl is None:
        return None
    out = []
    for n in names:
        col = tbl.column(n)
        if col.null_count:
            return None
        out.append(col.to_numpy(zero_copy_only=False))
    return out


def vectors(col):
    """A non-empty list column as an (rows, dim) float64 matrix, or
    None when a list or an element is NULL (NaN under numpy —
    argmax-divergent from the distributed null ordering) or the
    lengths are ragged."""
    flat = pc.list_flatten(col)
    if col.null_count or flat.null_count:
        return None
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if int(lens.min()) != int(lens.max()):
        return None
    return (
        flat.to_numpy(zero_copy_only=False)
        .astype(np.float64)
        .reshape(len(lens), int(lens[0]))
    )
