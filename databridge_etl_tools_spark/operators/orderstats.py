"""Exact distributed order statistics via bucketed selection —
global AND per-group.

The scale-safe way to get an EXACT k-th smallest / median / quantile
boundary without the two anti-patterns exact quantiles usually drag
in: a global sort (single-partition Exchange) or a single-reducer
``percentile`` buffer holding every distinct value (the round-5
verdict's curation-median hazard). Classic two-phase selection
(Blum-style bucket refinement, the Münz/IQR textbook construction):

1. one bounded aggregate gets (min, max, count) per group;
2. one map-side bucket assignment + one (range, bucket)-keyed
   histogram shuffle locates the bucket containing rank k — the
   histogram carries each bucket's actual (min, max, count), so one
   job per level both LOCATES and BOUNDS the next range (driver
   cumsum over ≤ ranges·buckets rows — bounded collect);
3. recurse INTO that bucket (re-filter the base scan map-side —
   predicate-pushdown friendly, nothing materialized) until the
   candidate set fits ``max_rows_exact``, then a range-tagged
   bounded window resolves the exact values (one job for ALL pending
   ranks, overlap-safe via the range tag; with a single range the
   tag constant-folds and WindowExec warns about the unpartitioned
   window — that task is ≤ ``max_rows_exact`` rows by construction,
   which is the point of the descent).

Depth is log_buckets(n / max_rows_exact): with the defaults (1024
buckets, 1 Mi-row resolve cap) one level resolves ≤ ~10⁹ rows, two
levels ≤ ~10¹² — at 100 TB the histogram shuffles stay 1024 rows per
range and the corpus is only ever SCANNED, never sorted or shuffled.
The resolve cap sizes ONE task's in-memory sort: 2²⁰ rows of
(tag, value[, weight]) ≈ 25–35 MB — ordinary Spark task territory
(the r7 default of 64 Ki paid a whole extra descent level for no
memory reason).

Per-level job latency (round-8): when a level's pending ranges are
few (≤ ``_LITERAL_MAX_RANGES``) and pairwise disjoint within each
group — true by construction for every batch a single descent emits,
since same-level ranges of one group descend from distinct value
buckets — range tagging compiles to a chained literal CASE WHEN
instead of a broadcast range join, and small pick sets resolve with a
literal filter instead of a broadcast pick join: zero broadcast
exchanges in the common descent (measured 1.47 s → 0.65 s per resolve
at sf0.1 local[32]). The projected (group, value[, weight]) input is
persisted (MEMORY_AND_DISK) for the descent's lifetime so the stats,
histogram, and resolve jobs scan the source once, not once per job —
at 100 TB the projection is a few % of the corpus and spills to local
disk; pass ``cache=False`` to keep the re-scan behavior.

The GROUPED form (:func:`kth_smallest_by`) keys every stage by the
group columns as well: per-group ranges ride a broadcast range table
into the scan, histograms key on (range, bucket). This is the scale
path for percent-rank/top-k style features over FEW HOT GROUPS —
where ``Window.partitionBy(hot_key)`` would sort a constant fraction
of the corpus inside one task. Driver state is O(|groups| · buckets)
rows per level, so it targets group cardinalities up to ~10⁴; beyond
that, groups are small by pigeonhole and the per-group window IS the
right plan.

NULL and NaN values are excluded (NaN would otherwise land in bucket
0 while Spark's ordering treats it as the largest value — advisor
r6); counts returned by these functions therefore count rows with a
real, orderable value.

Determinism: bucket assignment is pure scalar arithmetic on (v, lo,
hi) — identical IEEE ops on identical operands — and the final
in-bucket selection orders by the value alone, whose k-th element is
the k-th order statistic of the multiset regardless of tie order.
Safe for oracle-checked queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import route as RT


def _is_float(dt: T.DataType) -> bool:
    return isinstance(dt, (T.FloatType, T.DoubleType))


#: literal-plan thresholds: below these, range tagging / pick
#: selection compile to chained CASE WHEN / IN-list filters (pure
#: map-side, no broadcast exchange); above, the broadcast-join path
#: wins (measured r8 crossover at sf0.1: a 10-pick resolve runs
#: ~1.25× faster literal, a 45-pick resolve ~1.7× faster broadcast —
#: driver expression-tree cost grows with the pick count while the
#: broadcast pays two flat exchanges).
_LITERAL_MAX_RANGES = 64
_LITERAL_MAX_PICKS = 32


def _disjoint_per_group(rows) -> bool:
    """True when no two ranges of the SAME group overlap (closed
    intervals). Every batch one descent emits satisfies this — same-
    level ranges of a group descend from distinct value buckets, whose
    value sets are disjoint because bucket index is a function of the
    value — but the literal CASE WHEN tagger assigns only the FIRST
    matching range, so it is only used when this check passes."""
    by_g: dict = {}
    for rid, *gvals, lo, hi in rows:
        by_g.setdefault(tuple(gvals), []).append((lo, hi))
    for spans in by_g.values():
        spans.sort()
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            if hi1 >= lo2:
                return False
    return True


def _ranges_df(spark, rows, gfields, vtype):
    """Tiny broadcastable range table: (_rid, group key cols, _lo, _hi)."""
    schema = T.StructType(
        [T.StructField("_rid", T.IntegerType(), False)]
        + [T.StructField(f.name, f.dataType) for f in gfields]
        + [T.StructField("_lo", vtype), T.StructField("_hi", vtype)]
    )
    return spark.createDataFrame(rows, schema)


def _join_ranges(
    vals: DataFrame,
    rows: list,
    gcols: "list[str]",
    gfields,
    vtype,
    literal_ranges: bool = True,
) -> DataFrame:
    """Tag vals rows with the pending ranges they fall in.

    Single range (the whole global descent, and any level whose
    pending ranks share one range): pure LITERAL filter + literal
    tag columns — the predicate pushes down to the parquet scan's
    row-group stats, which a join-column comparison never does
    (r7 bench: the join-only rewrite cost the global-path queries
    1.5-2× exactly here). Multiple ranges: a literal BOUNDING-BOX
    prefilter (min lo, max hi — pushable) ahead of the broadcast
    range join (null-safe on the group key) that does the exact
    per-range tagging."""
    lo_min = min(r[-2] for r in rows)
    hi_max = max(r[-1] for r in rows)
    pruned = vals.where(
        (F.col("_v") >= F.lit(lo_min)) & (F.col("_v") <= F.lit(hi_max))
    )
    if len(rows) == 1:
        rid, *gvals, lo, hi = rows[0]
        cond = None
        for g, gv in zip(gcols, gvals):
            eq = pruned[g].isNull() if gv is None else (pruned[g] == F.lit(gv))
            cond = eq if cond is None else (cond & eq)
        if cond is not None:
            pruned = pruned.where(cond)
        return pruned.select(
            "*",
            F.lit(rid).cast("int").alias("_rid"),
            F.lit(lo).cast(vtype).alias("_lo"),
            F.lit(hi).cast(vtype).alias("_hi"),
        )
    if (
        literal_ranges
        and len(rows) <= _LITERAL_MAX_RANGES
        and _disjoint_per_group(rows)
    ):
        # literal CASE WHEN tagger: scalar map-side expressions, zero
        # broadcast exchanges (the dominant per-level cost at small
        # range counts — measured r8). One rid chain evaluates the
        # full (group, range) conditions; the _lo/_hi chains key on
        # the already-computed int _rid (trivial comparisons).
        tag = None
        for rid, *gvals, lo, hi in rows:
            cond = (pruned["_v"] >= F.lit(lo).cast(vtype)) & (
                pruned["_v"] <= F.lit(hi).cast(vtype)
            )
            for g, gv in zip(gcols, gvals):
                eq = pruned[g].isNull() if gv is None else (pruned[g] == F.lit(gv))
                cond = cond & eq
            lit_rid = F.lit(rid).cast("int")
            tag = F.when(cond, lit_rid) if tag is None else tag.when(cond, lit_rid)
        cols = pruned.columns
        tagged = pruned.withColumn("_rid", tag).where(F.col("_rid").isNotNull())
        lo_c, hi_c = None, None
        for rid, *gvals, lo, hi in rows:
            m = F.col("_rid") == rid
            llo, lhi = F.lit(lo).cast(vtype), F.lit(hi).cast(vtype)
            lo_c = F.when(m, llo) if lo_c is None else lo_c.when(m, llo)
            hi_c = F.when(m, lhi) if hi_c is None else hi_c.when(m, lhi)
        return tagged.select(
            *cols, "_rid", lo_c.alias("_lo"), hi_c.alias("_hi")
        )
    rdf = _ranges_df(vals.sparkSession, rows, gfields, vtype)
    cond = None
    for g in gcols:
        eq = pruned[g].eqNullSafe(rdf[g])
        cond = eq if cond is None else (cond & eq)
    j = (
        pruned.join(F.broadcast(rdf), cond)
        if cond is not None
        else pruned.crossJoin(F.broadcast(rdf))
    )
    return j.where((pruned["_v"] >= rdf["_lo"]) & (pruned["_v"] <= rdf["_hi"]))


def _resolve_exact_by(vals, gcols, resolve, spark, gfields, vtype, weighted):
    """Final in-bucket selection, BATCHED: every pending (group, k)
    whose candidate set fits ``max_rows_exact`` resolves in ONE job —
    a range-tagged join (tag = _rid, so overlapping ranges are safe:
    a row in two ranges appears once per tag) + a per-tag bounded
    window picking the requested in-range ranks. Weighted mode picks
    the row whose cumulative-weight span contains the rank
    (``cw − w < rank ≤ cw`` — unique because weights are positive;
    value-deterministic under ties because a tie block's boundary
    weights are order-invariant)."""
    from pyspark.sql import Window

    ranges: dict[tuple, int] = {}  # (group, lo, hi) -> rid
    picks: dict[tuple[int, int], list] = {}  # (rid, rank) -> [(g, k), ...]
    per_rid: dict[int, list[int]] = {}  # rid -> sorted wanted ranks
    rows = []
    for g, k, lo, hi, rank in resolve:
        rid = ranges.setdefault((g, lo, hi), len(ranges))
        if rid == len(rows):
            rows.append((rid, *g, lo, hi))
        picks.setdefault((rid, int(rank)), []).append((g, k))
    for rid, rank in picks:
        per_rid.setdefault(rid, []).append(rank)
    literal = len(picks) <= _LITERAL_MAX_PICKS
    tagged = _join_ranges(
        vals, rows, gcols, gfields, vtype, literal_ranges=literal
    )
    w = Window.partitionBy("_rid").orderBy("_v")
    if weighted:
        cw = F.sum("_w").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        left = tagged.select("_rid", "_v", "_w").withColumn("_cw", cw)
        if literal:
            # literal pick selection: per-rid wanted-rank arrays via
            # chained CASE WHEN, exploded (a wide row's weight span
            # can contain SEVERAL wanted ranks — the explode keeps
            # one output row per matched rank, like the join would)
            arr = None
            for rid, rks in per_rid.items():
                branch = F.array(
                    *[F.lit(int(r)).cast("bigint") for r in sorted(rks)]
                )
                arr = (
                    F.when(F.col("_rid") == rid, branch)
                    if arr is None
                    else arr.when(F.col("_rid") == rid, branch)
                )
            hits = (
                left.withColumn("_rn", F.explode(arr))
                .where(
                    (F.col("_cw") - F.col("_w") < F.col("_rn"))
                    & (F.col("_rn") <= F.col("_cw"))
                )
                .select("_rid", "_rn", "_v")
                .collect()
            )
        else:
            pdf = spark.createDataFrame(
                [(rid, rank) for rid, rank in picks], "_rid int, _rn bigint"
            )
            hits = (
                left.join(
                    F.broadcast(pdf),
                    (left["_rid"] == pdf["_rid"])
                    & (left["_cw"] - left["_w"] < pdf["_rn"])
                    & (pdf["_rn"] <= left["_cw"]),
                )
                .select(pdf["_rid"], pdf["_rn"], left["_v"])
                .collect()
            )
    else:
        ranked = tagged.select("_rid", "_v").withColumn(
            "_rn", F.row_number().over(w).cast("bigint")
        )
        if literal:
            cond = None
            for rid, rks in per_rid.items():
                c = (F.col("_rid") == rid) & F.col("_rn").isin(
                    [int(r) for r in rks]
                )
                cond = c if cond is None else (cond | c)
            hits = ranked.where(cond).collect()
        else:
            pdf = spark.createDataFrame(
                [(rid, rank) for rid, rank in picks], "_rid int, _rn bigint"
            )
            hits = ranked.join(F.broadcast(pdf), ["_rid", "_rn"]).collect()
    out: dict[tuple, dict] = {}
    for r in hits:
        for g, k in picks[(int(r["_rid"]), int(r["_rn"]))]:
            out.setdefault(g, {})[k] = r["_v"]
    return out


def kth_smallest_by(
    df: DataFrame,
    key,
    col: str,
    ranks,
    *,
    buckets: int = 1024,
    max_rows_exact: int = 1 << 20,
    weight_col: "str | None" = None,
    max_groups: int = 65536,
    stats: "dict[tuple, tuple] | None" = None,
    return_stats: bool = False,
    cache: bool = True,
) -> "tuple[dict[tuple, dict[int, object]], dict[tuple, int]]":
    """Exact per-group k-th smallest values via keyed bucketed
    selection. Returns ``(values, counts)``: ``values[group][k]`` is
    the k-th smallest (1-based, over rows whose value is non-null and
    non-NaN) of ``col`` within ``group``, and ``counts[group]`` that
    group's orderable-row count. Group keys are always TUPLES of the
    ``key`` columns' values (``()`` for the global, key-less form).

    ``ranks`` is either a dict ``{group_tuple: iterable[int]}`` or a
    callable ``n -> iterable[int]`` evaluated per group on its count
    (e.g. ``lambda n: [n - 4]`` for the 5th largest, or the median's
    ``lambda n: {(n + 1) // 2, n // 2 + 1}``) — the callable form
    gets per-group thresholds without a separate count job. Groups
    for which the callable returns nothing are skipped; a dict naming
    an absent group raises.

    ``weight_col`` switches to WEIGHTED order statistics (integer
    weights; rows with NULL or non-positive weight are excluded): the
    k-th value is the smallest v whose cumulative weight reaches k,
    ranks run over 1..Σw, ``counts`` returns Σw per group, and the
    callable form receives Σw. This is the token-budget quantile
    (e.g. the document length below which half the corpus' TOKENS
    sit, rank = (W+1)//2) — identical descent, histograms locate by
    per-bucket weight sums while refinement bounds still use ROW
    counts (memory is rows, not weight).

    One (min, max, count) aggregate keyed by group, then per level
    ONE job: tag rows with their pending range (literal filter for a
    single range — parquet-pushable; a chained literal CASE WHEN for
    few disjoint ranges; bounding-box prefilter + a broadcast range
    join otherwise), bucket map-side, aggregate (range, bucket) →
    (count, weight, min, max). See module docstring for depth/driver-
    state bounds and the few-hot-groups argument.

    ``max_groups`` bounds the driver state the grouped descent holds
    (O(|groups| · buckets) histogram rows per level, |groups| stats
    rows up front — r7 verdict): the stats aggregate collects at most
    ``max_groups + 1`` rows and raises an actionable ``ValueError``
    beyond it, BEFORE any unbounded collect. When |groups| is genuinely
    large, every group is small by pigeonhole and the plain per-group
    window (``row_number().over(Window.partitionBy(key).orderBy(col))``)
    is the right plan — this primitive exists for FEW HOT groups.

    ``stats`` skips the (min, max, count) job with caller-supplied
    per-group ``(lo, hi, n)`` (or ``(lo, hi, n, nrows)``; weighted
    descents require the 4-tuple since n is then Σw, not rows): bounds
    need only CONTAIN the group's values (loose bounds cost bucket
    resolution, never correctness — per-bucket min/max re-tighten at
    the first histogram), but ``n``/``nrows`` must be exact. This is
    the stacked-descent fast path: a second descent over a derived
    column (e.g. MAD's |v − median|) whose count equals the first's
    and whose bounds follow arithmetically skips one full-scan job.
    ``return_stats=True`` returns ``(values, counts, stats)`` so the
    first descent can hand its stats to the second.

    ``cache=True`` (default) persists the projected (group, value[,
    weight]) rows for the descent's lifetime (MEMORY_AND_DISK,
    unpersisted before returning) — the stats, histogram, and resolve
    jobs scan the source once instead of once per job.
    """
    gcols_in = [key] if isinstance(key, str) else list(key)
    spark = df.sparkSession
    vtype = df.schema[col].dataType
    weighted = weight_col is not None
    gfields = [
        T.StructField(f"_gk{i}", df.schema[k].dataType)
        for i, k in enumerate(gcols_in)
    ]
    gcols = [f.name for f in gfields]
    extra = (
        [F.col(weight_col).cast("bigint").alias("_w")] if weighted else []
    )
    vals = df.select(
        *[F.col(k).alias(g) for k, g in zip(gcols_in, gcols)],
        F.col(col).alias("_v"),
        *extra,
    ).where(F.col("_v").isNotNull())
    if _is_float(vtype):
        vals = vals.where(~F.isnan("_v"))
    if weighted:
        vals = vals.where(F.col("_w").isNotNull() & (F.col("_w") > 0))
    if cache:
        from pyspark import StorageLevel

        vals = vals.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _descend(
            vals, gcols, gfields, vtype, spark, ranks, col,
            buckets=buckets, max_rows_exact=max_rows_exact,
            weighted=weighted, max_groups=max_groups,
            stats_in=stats, return_stats=return_stats,
        )
    finally:
        if cache:
            vals.unpersist(blocking=False)


def _resolve_driver_np(vals, gcols, want, weighted, budget):
    """Exact per-group k-th smallest on the collected projection —
    bit-identical to the descent's resolution: unweighted rank k is
    the k-th value in ascending order (1-based); weighted rank k is
    the smallest value whose cumulative weight reaches k (weights
    summed per distinct value, so tie order is immaterial). Returns
    ``{group: {k: value}}`` with plain Python scalars, or None when
    the route collect refuses (``operators.route``: the row count
    does not bound bytes — string group keys can pass Spark's
    result-size cap) or the route cannot certify exactness (NULL
    group keys)."""
    import numpy as np

    tbl = RT.collect(vals, budget)
    if tbl is None:
        return None
    tbl = tbl.combine_chunks()
    for g in gcols:
        if tbl.column(g).null_count:
            return None  # NULL group keys: descent owns that grouping
    v = tbl.column("_v").to_numpy(zero_copy_only=False)
    n = len(v)
    if n == 0:
        return {}
    w = (
        tbl.column("_w").to_numpy(zero_copy_only=False)
        if weighted
        else None
    )
    # group rows WITHOUT per-row Python objects: dictionary-encode
    # each key column (arrow-side, vectorized), compose a mixed-radix
    # int64 group code, and decode codes back to PYTHON-NATIVE key
    # tuples only once per distinct group (to_pylist of the small
    # dictionaries — datetime.date for DATE keys, str, int: the
    # returned dict keys must compare equal to Spark Row values)
    radices: list[int] = []
    keymaps: list[list] = []
    gid = np.zeros(n, np.int64)
    for g in gcols:
        enc = tbl.column(g).dictionary_encode().combine_chunks()
        idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        keys = enc.dictionary.to_pylist()
        if not keys:
            return {}
        combos = len(keys)
        for r in radices:
            combos *= r
        if combos >= (1 << 62):
            return None
        radices.append(len(keys))
        keymaps.append(keys)
        gid = gid * len(keys) + idx
    order = np.lexsort((v, gid))
    gs, vs = gid[order], v[order]
    ws = w[order] if weighted else None
    newg = np.empty(n, dtype=bool)
    newg[0] = True
    newg[1:] = gs[1:] != gs[:-1]
    starts = np.flatnonzero(newg)
    ends = np.append(starts[1:], n)
    out: dict[tuple, dict] = {}
    for s, e in zip(starts, ends):
        code = int(gs[s])
        digits = []
        for r in reversed(radices):
            code, d = divmod(code, r)
            digits.append(d)
        gkey = tuple(
            keymaps[i][d] for i, d in enumerate(reversed(digits))
        )
        ks = want.get(gkey)
        if not ks:
            continue
        seg = vs[s:e]
        got: dict[int, object] = {}
        if weighted:
            cw = np.cumsum(ws[s:e])
            for k in ks:
                i = int(np.searchsorted(cw, k, side="left"))
                got[k] = seg[i].item()
        else:
            for k in ks:
                got[k] = seg[k - 1].item()
        out[gkey] = got
    return out


def _descend(
    vals, gcols, gfields, vtype, spark, ranks, col, *,
    buckets, max_rows_exact, weighted, max_groups, stats_in, return_stats,
):
    wagg = F.sum("_w") if weighted else F.count(F.lit(1))
    if stats_in is not None:
        gstats = {}
        for g, tup in stats_in.items():
            if len(tup) == 3:
                if weighted:
                    raise ValueError(
                        "kth_smallest_by: weighted descents need "
                        "stats 4-tuples (lo, hi, n, nrows) — n is Σw"
                    )
                lo, hi, n = tup
                gstats[tuple(g)] = (lo, hi, int(n), int(n))
            else:
                lo, hi, n, nrows = tup
                gstats[tuple(g)] = (lo, hi, int(n), int(nrows))
    else:
        st = (
            vals.groupBy(*gcols)
            .agg(
                F.min("_v").alias("lo"),
                F.max("_v").alias("hi"),
                F.count(F.lit(1)).alias("rows"),
                wagg.alias("n"),
            )
            .limit(max_groups + 1)
            .collect()
        )
        if len(st) > max_groups:
            raise ValueError(
                f"kth_smallest_by: more than max_groups={max_groups} "
                f"distinct groups in {gcols!r} — the grouped descent "
                "holds O(|groups|·buckets) driver rows per level and "
                "targets FEW HOT groups. At this cardinality every "
                "group is small by pigeonhole: use the per-group "
                "window plan instead (row_number().over("
                "Window.partitionBy(key).orderBy(col))), or raise "
                "max_groups= explicitly if the driver can hold it."
            )
        gstats = {
            tuple(r[g] for g in gcols): (
                r["lo"], r["hi"], int(r["n"]), int(r["rows"])
            )
            for r in st
        }
    counts = {g: n for g, (_, _, n, _) in gstats.items()}
    import math

    bad_inf = [
        g
        for g, (lo, hi, _, _) in gstats.items()
        if isinstance(lo, float) and (math.isinf(lo) or math.isinf(hi))
    ]
    if bad_inf:
        raise ValueError(
            f"kth_smallest_by: groups {bad_inf[:5]!r} contain ±Infinity "
            f"in {col!r} — an infinite range cannot be bucketed "
            "(width becomes Inf, indices NaN). Filter infinities out "
            "(they rank first/last trivially: k-th smallest over the "
            "finite rows + the two infinity counts recovers any rank) "
            "or replace them with finite sentinels first."
        )
    if not callable(ranks):
        missing = set(ranks) - set(gstats)
        if missing:
            raise ValueError(
                f"kth_smallest_by: groups {sorted(missing)!r} have no "
                f"orderable rows in {col!r}"
            )
    out: dict[tuple, dict] = {}
    # state: (group, k, lo, hi, rank-in-range [weight rank when
    # weighted], rows-in-range, cap) — refinement/resolve bounds are
    # ROW counts regardless of weighting (memory is rows)
    pending = []
    for g, (lo, hi, n, nrows) in gstats.items():
        ks = ranks(n) if callable(ranks) else ranks.get(g)
        if not ks:
            continue
        ks = sorted({int(k) for k in ks})
        bad = [k for k in ks if not 1 <= k <= n]
        if bad:
            raise ValueError(
                f"kth_smallest_by: group {g!r} ranks {bad} outside 1..{n}"
            )
        out[g] = {}
        pending.extend((g, k, lo, hi, k, nrows, max_rows_exact) for k in ks)
    # numpy driver route (guide §1.2 — same size-aware pattern as
    # operators.graph_np): when the WHOLE projection fits the row
    # budget, one Arrow collect + np.sort per group resolves every
    # rank exactly, replacing the descent's job chain. The probe is
    # free (row counts already in gstats); value types beyond
    # int/float, NULL group keys, or an over-budget projection fall
    # through to the descent unchanged.
    if pending and isinstance(
        vtype,
        (
            T.ByteType,
            T.ShortType,
            T.IntegerType,
            T.LongType,
            T.FloatType,
            T.DoubleType,
        ),
    ):
        budget = RT.budget("orderstats")
        total_rows = sum(nr for (_, _, _, nr) in gstats.values())
        if 0 < total_rows <= budget:
            want: dict[tuple, list] = {}
            for g, k, _, _, _, _, _ in pending:
                want.setdefault(g, []).append(k)
            routed = _resolve_driver_np(vals, gcols, want, weighted, budget)
            # completeness gate (r14 advisor): the routed dict's keys
            # come from Arrow to_pylist() while want's come from
            # collected Rows — representations can diverge (tz-aware
            # UTC vs naive local TIMESTAMP, NaN float keys that never
            # compare equal). A partial or empty match must fall
            # through to the descent, never return missing ranks.
            if routed is not None and all(
                not set(ks) - set(routed.get(g, ()))
                for g, ks in want.items()
            ):
                for g, got in routed.items():
                    out[g].update(got)
                if return_stats:
                    return out, counts, gstats
                return out, counts
    while pending:
        nxt, resolve = [], []
        for g, k, lo, hi, rank, cnt, cap in pending:
            if lo == hi:
                out[g][k] = lo
            elif cnt <= cap:
                resolve.append((g, k, lo, hi, rank))
            else:
                nxt.append((g, k, lo, hi, rank, cnt, cap))
        if resolve:
            for g, got in _resolve_exact_by(
                vals, gcols, resolve, spark, gfields, vtype, weighted
            ).items():
                out[g].update(got)
        if not nxt:
            break
        ranges: dict[tuple, int] = {}  # (group, lo, hi) -> rid
        rows = []
        for g, k, lo, hi, rank, cnt, cap in nxt:
            rid = ranges.setdefault((g, lo, hi), len(ranges))
            if rid == len(rows):
                rows.append((rid, *g, lo, hi))
        # bucket 0..buckets-1 over [_lo, _hi]; the hi edge and any
        # float-rounding overshoot clamp into the last bucket
        # cast BEFORE subtracting: a bigint range straddling ±2^62
        # overflows int64 under ANSI mode (hi − lo ≥ 2^63 — caught by
        # the r8 extremes test). double() is monotone, so bucket
        # assignment stays order-preserving; per-bucket blo/bhi are
        # actual values, so any precision collapse only costs a
        # refinement level, never correctness.
        width = (
            F.col("_hi").cast("double") - F.col("_lo").cast("double")
        ) / F.lit(float(buckets))
        raw = F.floor(
            (F.col("_v").cast("double") - F.col("_lo").cast("double")) / width
        ).cast("int")
        idx = F.least(F.greatest(raw, F.lit(0)), F.lit(buckets - 1))
        bucket_w = F.sum("_w") if weighted else F.count(F.lit(1))
        hist = (
            _join_ranges(vals, rows, gcols, gfields, vtype)
            .groupBy("_rid", idx.alias("_b"))
            .agg(
                F.count(F.lit(1)).alias("c"),
                bucket_w.alias("ws"),
                F.min("_v").alias("blo"),
                F.max("_v").alias("bhi"),
            )
            .collect()
        )
        per_rid: dict[int, dict[int, tuple]] = {}
        for r in hist:
            per_rid.setdefault(int(r["_rid"]), {})[int(r["_b"])] = (
                int(r["c"]),
                int(r["ws"]),
                r["blo"],
                r["bhi"],
            )
        pending = []
        for g, k, lo, hi, rank, cnt, cap in nxt:
            hbuckets = per_rid[ranges[(g, lo, hi)]]
            acc = 0  # cumulative weight (== cumulative rows unweighted)
            for b in sorted(hbuckets):
                c, ws, blo, bhi = hbuckets[b]
                if acc + ws >= rank:
                    if blo == lo and bhi == hi:
                        # degenerate refinement (pathological float
                        # spacing): force exact resolution next pass
                        cap = max(cap, c)
                    pending.append((g, k, blo, bhi, rank - acc, c, cap))
                    break
                acc += ws
    if return_stats:
        return out, counts, gstats
    return out, counts


def kth_smallest(
    df: DataFrame,
    col: str,
    ks: "list[int]",
    *,
    buckets: int = 1024,
    max_rows_exact: int = 1 << 20,
) -> "dict[int, float]":
    """Exact k-th smallest values (1-based ranks over non-null,
    non-NaN rows) for every k in ``ks``, as ``{k: value}`` — the
    key-less form of :func:`kth_smallest_by` (|groups| = 1). Raises
    ``ValueError`` when no orderable rows exist or a rank is outside
    1..n, matching :func:`kth_smallest_by`."""
    vals, _ = kth_smallest_by(
        df, (), col, {(): list(ks)}, buckets=buckets, max_rows_exact=max_rows_exact
    )
    return vals[()]


def exact_median(
    df: DataFrame,
    col: str,
    *,
    buckets: int = 1024,
    max_rows_exact: int = 1 << 20,
    cache: bool = True,
) -> "tuple[int, float]":
    """Exact interpolated median (``quantile_cont(0.5)`` semantics:
    even n averages the two middle order statistics) without a global
    sort or a single-reducer value buffer — the scale-safe exact
    variant the round-5 verdict asked the curation median to have.
    Returns ``(n, median)``; n counts non-null, non-NaN rows."""
    vals, counts = kth_smallest_by(
        df,
        (),
        col,
        lambda n: {(n + 1) // 2, n // 2 + 1},
        buckets=buckets,
        max_rows_exact=max_rows_exact,
        cache=cache,
    )
    if not counts:
        raise ValueError(f"exact_median: no non-null rows in {col!r}")
    n = counts[()]
    got = vals[()]
    k1, k2 = (n + 1) // 2, n // 2 + 1
    return n, (float(got[k1]) + float(got[k2])) / 2.0


def exact_median_by(
    df: DataFrame,
    key,
    col: str,
    *,
    buckets: int = 1024,
    max_rows_exact: int = 1 << 20,
) -> "dict[tuple, tuple[int, float]]":
    """Per-group exact interpolated medians: ``{group_tuple: (n,
    median)}`` — one grouped bucketed selection, no per-group sort,
    no ``Window.partitionBy(hot_key)``."""
    vals, counts = kth_smallest_by(
        df,
        key,
        col,
        lambda n: {(n + 1) // 2, n // 2 + 1},
        buckets=buckets,
        max_rows_exact=max_rows_exact,
    )
    out = {}
    for g, got in vals.items():
        n = counts[g]
        k1, k2 = (n + 1) // 2, n // 2 + 1
        out[g] = (n, (float(got[k1]) + float(got[k2])) / 2.0)
    return out


def equi_depth_boundaries_by(
    df: DataFrame,
    key,
    col: str,
    n_bins: int,
    *,
    buckets: int = 1024,
    max_rows_exact: int = 1 << 20,
    weight_col: "str | None" = None,
) -> "dict[tuple, list]":
    """Per-group exact equi-depth boundaries: for each group, the
    order statistics at ranks ``max(1, n·i/n_bins)`` for
    i = 1..n_bins-1 (``n`` is the group's row count, or its weight
    total with ``weight_col`` — token-budget bins), as
    ``{group_tuple: [b₁ … b_{n_bins−1}]}`` with duplicates preserved
    (tied ranks repeat their boundary value, keeping the bin-by-
    comparison formula ``1 + Σ[v > bᵢ]`` engine-identical). One
    grouped bucketed-selection descent; no per-group sort."""
    vals, counts = kth_smallest_by(
        df,
        key,
        col,
        lambda n: {max(1, (n * i) // n_bins) for i in range(1, n_bins)},
        buckets=buckets,
        max_rows_exact=max_rows_exact,
        weight_col=weight_col,
    )
    return {
        g: [vals[g][max(1, (counts[g] * i) // n_bins)] for i in range(1, n_bins)]
        for g in vals
    }


def equi_depth_boundaries(
    df: DataFrame,
    col: str,
    n_bins: int,
    *,
    buckets: int = 1024,
    max_rows_exact: int = 1 << 20,
) -> "list[float]":
    """Exact equi-depth bin boundaries: the order statistics at ranks
    ``floor(n·i/n_bins)`` for i = 1..n_bins-1 (n_bins-1 values,
    ascending). Rows then bin by value comparison (``1 + Σ[v > bᵢ]``)
    — map-side, no global sort, no ntile window over a single
    partition. The quantile-binning primitive behind length bucketing
    for sequence packing and score binning for curation."""
    vals, counts = kth_smallest_by(
        df,
        (),
        col,
        lambda n: {max(1, (n * i) // n_bins) for i in range(1, n_bins)},
        buckets=buckets,
        max_rows_exact=max_rows_exact,
    )
    if not counts:
        raise ValueError(f"equi_depth_boundaries: no non-null rows in {col!r}")
    n = counts[()]
    got = vals[()]
    return [got[max(1, (n * i) // n_bins)] for i in range(1, n_bins)]
