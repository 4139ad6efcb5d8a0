"""Fixed-point PageRank: exactness vs a pure-python integer replay,
quality vs the float fixpoint, layout invariance, and the structural
properties (mass conservation up to floors, hub dominance)."""

from __future__ import annotations

import pytest

from databridge_etl_tools_spark.operators.graph import Q_RANK, pagerank


def _py_pagerank(edges, iters=8, num=85, den=100):
    """Pure-python replay of the operator's integer fixpoint."""
    edges = sorted(set(edges))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    out = {n: 0 for n in nodes}
    for u, _ in edges:
        out[u] += 1
    n_nodes = len(nodes)
    teleport = ((den - num) * (1 << Q_RANK)) // den
    r = {n: 1 << Q_RANK for n in nodes}
    for _ in range(iters):
        inc = {n: 0 for n in nodes}
        for u, v in edges:
            if out[u] > 0:
                inc[v] += r[u] // out[u]
        dang = sum(r[n] for n in nodes if out[n] == 0)
        share = dang // n_nodes
        r = {
            n: teleport + (num * (inc[n] + share)) // den for n in nodes
        }
    return r


EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 3), (6, 3), (3, 7),
    (7, 3), (8, 1),
]


def _spark_ranks(spark, edges, iters=8):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["rank_q"]
        for r in pagerank(df, iters=iters).collect()
    }


def test_pagerank_matches_python_replay_bit_for_bit(spark):
    got = _spark_ranks(spark, EDGES)
    want = _py_pagerank(EDGES)
    assert got == want


def test_pagerank_layout_invariant(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    a = sorted((r["node"], r["rank_q"]) for r in pagerank(df).collect())
    b = sorted(
        (r["node"], r["rank_q"])
        for r in pagerank(df.repartition(7)).collect()
    )
    assert a == b


def test_pagerank_quality_vs_float_fixpoint(spark):
    """The q40 integer fixpoint tracks the standard float PageRank:
    same ranking, values within ~1e-6 relative after 8 rounds."""
    nodes = sorted({u for u, _ in EDGES} | {v for _, v in EDGES})
    out = {n: 0 for n in nodes}
    for u, _ in EDGES:
        out[u] += 1
    d, n_nodes = 0.85, len(nodes)
    fr = {n: 1.0 for n in nodes}
    for _ in range(8):
        inc = {n: 0.0 for n in nodes}
        for u, v in EDGES:
            if out[u]:
                inc[v] += fr[u] / out[u]
        dang = sum(fr[n] for n in nodes if not out[n])
        fr = {
            n: (1 - d) + d * (inc[n] + dang / n_nodes) for n in nodes
        }
    got = _spark_ranks(spark, EDGES)
    for n in nodes:
        assert got[n] / (1 << Q_RANK) == pytest.approx(fr[n], rel=1e-5)
    # node 3 is the hub: highest rank on both sides
    assert max(got, key=got.get) == 3
    assert max(fr, key=fr.get) == 3


def test_pagerank_mass_conserved_up_to_floors(spark):
    """Total mass stays within iters·(nodes + edges) floor ulps of
    the initial N·2^40 — the fixed-point conservation bound."""
    got = _spark_ranks(spark, EDGES)
    nodes = len(got)
    total = sum(got.values())
    init = nodes * (1 << Q_RANK)
    slack = 8 * (nodes + len(EDGES) + 2) * 100  # generous floor budget
    assert init - slack <= total <= init


def test_pagerank_empty_graph_raises(spark):
    df = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df)


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by nothing: each collapses to its min-id
    label; the bridge-free components never mix."""
    from databridge_etl_tools_spark.operators.graph import label_propagation

    tri1 = [(1, 2), (2, 3), (3, 1)]
    tri2 = [(10, 11), (11, 12), (12, 10)]
    und = [(a, b) for a, b in tri1 + tri2] + [
        (b, a) for a, b in tri1 + tri2
    ]
    df = spark.createDataFrame(und, "src long, dst long")
    got = {r.node: r.label for r in label_propagation(df, iters=4).collect()}
    assert {got[1], got[2], got[3]} == {1}
    assert {got[10], got[11], got[12]} == {10}


def test_label_propagation_layout_invariant_and_deterministic(spark):
    from databridge_etl_tools_spark.operators.graph import label_propagation

    edges = [(i, (i * 7) % 23 + 1) for i in range(1, 23)]
    und = edges + [(b, a) for a, b in edges]
    df = spark.createDataFrame(und, "src long, dst long")
    a = sorted((r.node, r.label) for r in label_propagation(df).collect())
    b = sorted(
        (r.node, r.label)
        for r in label_propagation(df.repartition(9)).collect()
    )
    assert a == b


def test_bfs_distances_exact_hops(spark):
    """Path graph 1-2-3-4-5 (+ an unreachable 100-101 pair): exact
    hop distances from node 1, unreached nodes absent, max_hops cap
    respected."""
    from databridge_etl_tools_spark.operators.graph import bfs_distances

    path = [(1, 2), (2, 3), (3, 4), (4, 5), (100, 101)]
    und = path + [(b, a) for a, b in path]
    edges = spark.createDataFrame(und, "src long, dst long")
    src = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist for r in bfs_distances(edges, src, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 is 4 hops: beyond cap


def test_bfs_frontier_delta_high_expansion(spark):
    """High-expansion fixture where settled ≫ frontier after hop 1:
    a 120-leaf star (all leaves back-edged to the hub) plus a thin
    tail. Frontier-delta expansion must still produce EXACTLY the
    distances of a reference python BFS (full re-expansion) — the
    min-merge absorbs every re-derived larger distance."""
    from collections import deque

    from databridge_etl_tools_spark.operators.graph import bfs_distances

    edges = [(0, i) for i in range(1, 121)] + [(i, 0) for i in range(1, 121)]
    edges += [(1, 201), (201, 202), (202, 203), (203, 204)]
    df = spark.createDataFrame(edges, "src long, dst long")
    src = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.dist for r in bfs_distances(df, src, max_hops=4).collect()}

    adj: dict[int, list[int]] = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
    want, dq = {0: 0}, deque([0])
    while dq:
        u = dq.popleft()
        if want[u] >= 4:
            continue
        for v in adj.get(u, []):
            if v not in want:
                want[v] = want[u] + 1
                dq.append(v)
    assert got == want


def test_weighted_pagerank_python_replay_and_weight_sensitivity(spark):
    """Weighted walk: bit-exact python replay, and a heavy edge pulls
    rank toward its target vs the unweighted walk."""
    from databridge_etl_tools_spark.operators.graph import pagerank

    wedges = [(1, 2, 9), (1, 3, 1), (2, 1, 1), (3, 1, 1)]
    df = spark.createDataFrame(wedges, "src long, dst long, w long")
    got = {
        r.node: r.rank_q
        for r in pagerank(df, iters=8, weight_col="w").collect()
    }

    # pure-python replay of the weighted fixpoint
    nodes = sorted({u for u, _, _ in wedges} | {v for _, v, _ in wedges})
    wout = {n: 0 for n in nodes}
    for u, _, w in wedges:
        wout[u] += w
    n_nodes = len(nodes)
    teleport = (15 * (1 << 40)) // 100
    r = {n: 1 << 40 for n in nodes}
    for _ in range(8):
        inc = {n: 0 for n in nodes}
        for u, v, w in wedges:
            if wout[u] > 0:
                inc[v] += (r[u] * w) // wout[u]
        dang = sum(r[n] for n in nodes if wout[n] == 0)
        share = dang // n_nodes
        r = {n: teleport + (85 * (inc[n] + share)) // 100 for n in nodes}
    assert got == r

    # unweighted: 2 and 3 are symmetric; weighted: 2 dominates 3
    un = {
        x.node: x.rank_q
        for x in pagerank(
            df.select("src", "dst"), iters=8
        ).collect()
    }
    assert un[2] == un[3]
    assert got[2] > got[3]


def test_weighted_pagerank_rejects_nonpositive_weights(spark):
    import pytest

    from databridge_etl_tools_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(1, 2, 0), (2, 1, 3)], "src long, dst long, w long"
    )
    with pytest.raises(ValueError, match="positive"):
        pagerank(df, weight_col="w")


def test_connected_components_multi_component(spark):
    """Three components (path, triangle, isolate-pair): every node
    carries its component minimum after iters >= diameter, and the
    changed-frontier engine equals a full-propagation python twin at
    the SAME iteration count."""
    from databridge_etl_tools_spark.operators.graph import (
        connected_components,
    )

    und = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    for iters in (1, 2, 6):
        got = {
            (r.node, r.label)
            for r in connected_components(df, iters=iters).collect()
        }
        # python twin: full re-propagation, same fixed iteration count
        adj = {}
        for u, v in edges:
            adj.setdefault(v, []).append(u)
        lab = {n: n for n in {u for u, _ in edges} | {v for _, v in edges}}
        for _ in range(iters):
            lab = {
                n: min([lab[n]] + [lab[u] for u in adj.get(n, [])])
                for n in lab
            }
        assert got == {(n, l) for n, l in lab.items()}, iters
    # converged labels = component minima
    final = {r.node: r.label for r in connected_components(df, iters=6).collect()}
    assert final == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_weighted_label_propagation_python_replay(spark):
    """Weighted LPA: bit-exact python replay of the vote sums, and a
    heavy edge flips a node's community vs the unweighted vote."""
    from databridge_etl_tools_spark.operators.graph import label_propagation

    # node 3 has two light edges into {1,2}'s community and one heavy
    # edge to 9: unweighted it joins min-label 1, weighted it joins 9
    wedges = [
        (1, 2, 1), (2, 1, 1), (1, 3, 1), (3, 1, 1), (2, 3, 1), (3, 2, 1),
        (3, 9, 5), (9, 3, 5),
    ]
    df = spark.createDataFrame(wedges, "src long, dst long, w long")
    got_w = {
        (r.node, r.label)
        for r in label_propagation(df, iters=4, weight_col="w").collect()
    }
    got_u = {
        (r.node, r.label)
        for r in label_propagation(df.select("src", "dst"), iters=4).collect()
    }

    def py_lpa(weighted: bool) -> set:
        nodes = sorted({u for u, _, _ in wedges} | {v for _, v, _ in wedges})
        lab = {n: n for n in nodes}
        inw = {}
        for u, v, w in wedges:
            inw.setdefault(v, []).append((u, w if weighted else 1))
        for _ in range(4):
            new = {}
            for n in nodes:
                votes = {}
                votes[lab[n]] = votes.get(lab[n], 0) + 1  # self-vote
                for u, w in inw.get(n, []):
                    votes[lab[u]] = votes.get(lab[u], 0) + w
                best = sorted(votes.items(), key=lambda t: (-t[1], t[0]))[0]
                new[n] = best[0]
            lab = new
        return {(n, l) for n, l in lab.items()}

    assert got_w == py_lpa(True)
    assert got_u == py_lpa(False)
    assert got_w != got_u  # the heavy edge changed at least one label


def test_label_propagation_rejects_nonpositive_weights(spark):
    import pytest

    from databridge_etl_tools_spark.operators.graph import label_propagation

    df = spark.createDataFrame([(1, 2, 0)], "src long, dst long, w long")
    with pytest.raises(ValueError, match="positive"):
        label_propagation(df, weight_col="w")


def test_triangle_counts_known_graph(spark):
    """Two triangles sharing edge (2,3), a pendant, an isolate-pair:
    hand-counted per-node triangle membership, zero for
    triangle-free nodes."""
    from databridge_etl_tools_spark.operators.graph import triangle_counts

    und = [(1, 2), (2, 3), (3, 1), (2, 4), (3, 4), (4, 5), (10, 11)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1, 5: 0, 10: 0, 11: 0}


def test_triangle_counts_matches_bruteforce_random(spark):
    """Degree-ordered enumeration equals the brute-force count on a
    pseudo-random graph (including hubs where the ordering matters)."""
    from itertools import combinations

    from databridge_etl_tools_spark.operators.graph import triangle_counts

    pairs = sorted({(min(a, b), max(a, b)) for a, b in (
        ((i * 7919) % 30, (i * i * 104729 + i) % 30) for i in range(160)
    ) if a != b})
    edges = pairs + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    eset = set(pairs)
    nodes = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    want = {n: 0 for n in nodes}
    for a, b, c in combinations(nodes, 3):
        if (a, b) in eset and (b, c) in eset and (a, c) in eset:
            want[a] += 1
            want[b] += 1
            want[c] += 1
    assert got == want


def test_shortest_paths_bounded_exact_and_hop_capped(spark):
    """Weighted path with a shortcut: the 2-edge cheap route beats the
    1-edge expensive one; the hop cap excludes longer routes; python
    Bellman-Ford twin at the same hop count agrees exactly."""
    from databridge_etl_tools_spark.operators.graph import (
        shortest_paths_bounded,
    )

    wedges = [
        (1, 2, 10), (1, 3, 1), (3, 2, 2),          # 1→2 direct 10, via 3: 3
        (2, 4, 1), (4, 5, 1), (5, 6, 1), (6, 7, 1)  # long tail
    ]
    df = spark.createDataFrame(wedges, "src long, dst long, w long")
    srcs = spark.createDataFrame([(1,)], "node long")
    for hops in (1, 2, 4):
        got = {
            r.node: r.dist
            for r in shortest_paths_bounded(
                df, srcs, max_hops=hops
            ).collect()
        }
        dist = {1: 0}
        for _ in range(hops):
            new = dict(dist)
            for u, v, w in wedges:
                if u in dist and dist[u] + w < new.get(v, 1 << 62):
                    new[v] = dist[u] + w
            dist = new
        assert got == dist, hops


def test_shortest_paths_rejects_nonpositive_weights(spark):
    import pytest

    from databridge_etl_tools_spark.operators.graph import (
        shortest_paths_bounded,
    )

    df = spark.createDataFrame([(1, 2, -1)], "src long, dst long, w long")
    srcs = spark.createDataFrame([(1,)], "node long")
    with pytest.raises(ValueError, match="positive"):
        shortest_paths_bounded(df, srcs)


def test_fractional_weights_rejected_loudly(spark):
    """r10 advice: a double weight column must raise, not silently
    floor (1.5 → 1) against the integer replay contract."""
    from databridge_etl_tools_spark.operators.graph import (
        label_propagation,
        shortest_paths_bounded,
    )
    from pyspark.sql import functions as F

    e = spark.createDataFrame(
        [(1, 2, 1.5), (2, 1, 2.5)], "src long, dst long, w double"
    )
    for fn in (
        lambda: pagerank(e, weight_col="w", iters=1),
        lambda: label_propagation(e, weight_col="w", iters=1),
        lambda: shortest_paths_bounded(
            e, spark.range(1).select(F.lit(1).alias("node")), max_hops=1
        ),
    ):
        with pytest.raises(ValueError, match="must be integral"):
            fn()


def test_pagerank_rank_bits_scales_quantization(spark):
    """rank_bits=20 (the web-scale headroom remediation) reproduces
    the default ranking to ~2^-20 and keeps the same order."""
    e = spark.createDataFrame(EDGES, "src long, dst long")
    full = {r["node"]: r["rank"] for r in pagerank(e, iters=4).collect()}
    narrow = {
        r["node"]: r["rank"]
        for r in pagerank(e, iters=4, rank_bits=20).collect()
    }
    assert set(full) == set(narrow)
    for n in full:
        assert abs(full[n] - narrow[n]) < 1e-4, (n, full[n], narrow[n])
    assert sorted(full, key=full.get) == sorted(narrow, key=narrow.get)
    with pytest.raises(ValueError, match="rank_bits"):
        pagerank(e, iters=1, rank_bits=63)


def test_pagerank_unpersists_edge_cache(spark, monkeypatch):
    """r10 advice: the shuffle-regime edges_ready persist() must be
    released after the fixpoint — repeated calls must not accumulate
    executor cache. Counting ALL persistent RDDs is the wrong probe
    (materialize()'s localCheckpoints legitimately persist the setup
    table and the returned ranks); capture the persisted edge
    DataFrame itself and assert its cache entry is gone."""
    # the persist/unpersist discipline under test is the DISTRIBUTED
    # shuffle regime — disable the numpy driver route
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_ROUTES", "0")
    e = spark.createDataFrame(EDGES, "src long, dst long").distinct()
    # patch the CONCRETE class (pyspark 4's sessions hand out
    # sql.classic DataFrames that override persist; patching the
    # abstract base would intercept nothing)
    _DF = type(e)
    captured = []
    orig_persist = _DF.persist

    def spy(self, *a, **k):
        out = orig_persist(self, *a, **k)
        captured.append(out)
        return out

    monkeypatch.setattr(_DF, "persist", spy)
    pagerank(e, iters=1, edges_ready=True, broadcast_node_budget=0).collect()
    assert captured, "shuffle regime must persist the edge table"
    for df in captured:
        lvl = df.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), (
            "edge cache still registered after the fixpoint"
        )


def _py_pagerank_seeded(edges, seed_set, iters=4, num=85, den=100):
    """Pure-python replay of the SEEDED integer fixpoint (TrustRank):
    init/teleport/dangling confined to the seed set."""
    edges = sorted(set(edges))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    seed_set = {s for s in seed_set if s in set(nodes)}
    out = {n: 0 for n in nodes}
    for u, _ in edges:
        out[u] += 1
    teleport = ((den - num) * (1 << Q_RANK)) // den
    r = {n: (1 << Q_RANK) if n in seed_set else 0 for n in nodes}
    for _ in range(iters):
        inc = {n: 0 for n in nodes}
        for u, v in edges:
            if out[u] > 0:
                inc[v] += r[u] // out[u]
        dang = sum(r[n] for n in nodes if out[n] == 0)
        share = dang // len(seed_set)
        r = {
            n: (teleport if n in seed_set else 0)
            + (num * (inc[n] + (share if n in seed_set else 0))) // den
            for n in nodes
        }
    return r


def test_personalized_pagerank_seed_semantics(spark):
    """Seeded walk (TrustRank): bit-exact vs the pure-python seeded
    replay; nodes unreachable from the seed set stay exactly 0."""
    # path graph 1 -> 2 -> 3 plus an isolated pair 10 -> 11
    edges = [(1, 2), (2, 3), (10, 11)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    r = {
        row["node"]: row["rank_q"]
        for row in pagerank(e, iters=4, seeds=seeds).collect()
    }
    assert r == _py_pagerank_seeded(edges, {1}, iters=4)
    assert r[1] > 0 and r[2] > 0 and r[3] > 0
    assert r[10] == 0 and r[11] == 0  # unreachable from the seed set


def test_personalized_pagerank_all_seeds_equals_global(spark):
    """Seeding EVERY node degenerates to global PageRank bit-for-bit:
    same init (2^q each), same teleport, dangling share // n_seeds ==
    // n_nodes."""
    e = spark.createDataFrame(EDGES, "src long, dst long")
    nodes = (
        e.selectExpr("src AS node")
        .unionByName(e.selectExpr("dst AS node"))
        .distinct()
    )
    seeded = {
        r["node"]: r["rank_q"]
        for r in pagerank(e, iters=4, seeds=nodes).collect()
    }
    global_ = {
        r["node"]: r["rank_q"] for r in pagerank(e, iters=4).collect()
    }
    assert seeded == global_


def test_personalized_pagerank_seed_validation(spark):
    """Seed ids absent from the graph are ignored; an all-absent seed
    set raises instead of silently returning zeros."""
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    mixed = spark.createDataFrame([(1,), (99,)], "node long")
    r = {
        row["node"]: row["rank_q"]
        for row in pagerank(e, iters=2, seeds=mixed).collect()
    }
    assert set(r) == {1, 2} and r[1] > 0
    absent = spark.createDataFrame([(99,)], "node long")
    with pytest.raises(ValueError, match="seed ids"):
        pagerank(e, iters=1, seeds=absent)


def test_kcore_peels_tail_and_keeps_clique(spark):
    """A 4-clique with a pendant path: the 3-core is exactly the
    clique (degree 3 each); the path peels away across rounds. Also
    bit-matches a pure-python peel replay."""
    from databridge_etl_tools_spark.operators.graph import kcore

    clique = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a != b]
    path = [(4, 5), (5, 4), (5, 6), (6, 5)]
    df = spark.createDataFrame(clique + path, "src long, dst long")
    got = {r["node"]: r["deg"] for r in kcore(df, k=3, rounds=4).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    # python replay of the bounded peel
    edges = set(clique + path)
    for _ in range(4):
        deg = {}
        for u, _v in edges:
            deg[u] = deg.get(u, 0) + 1
        keep = {u for u, d in deg.items() if d >= 3}
        edges = {(u, v) for u, v in edges if u in keep and v in keep}
    want = {}
    for u, _v in edges:
        want[u] = want.get(u, 0) + 1
    assert got == want


def test_kcore_demo_rounds_converged(spark):
    """The demo's replay contract: 6 peel rounds equal 7 on the demo
    subgraph (converged), so the unrolled oracle computes the true
    3-core."""
    from pyspark.sql import functions as F

    from databridge_etl_tools_spark.operators.graph import kcore
    from databridge_etl_tools_spark.registry import table

    sf = "/root/testdata/sf0.001"
    ord_ = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 3)
    )
    edges = pairs.selectExpr("c AS src", "s AS dst").unionByName(
        pairs.selectExpr("s AS src", "c AS dst")
    )
    a = sorted((r["node"], r["deg"]) for r in kcore(edges, k=3, rounds=6).collect())
    b = sorted((r["node"], r["deg"]) for r in kcore(edges, k=3, rounds=7).collect())
    assert a == b and a


def test_kcore_validation(spark):
    from databridge_etl_tools_spark.operators.graph import kcore

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="k must"):
        kcore(df, k=0)


def test_kcore_random_graphs_match_python_peel(spark):
    """Property sweep: on deterministic pseudo-random graphs of
    several densities, bounded k-core peeling matches the pure-python
    replay exactly (same surviving nodes AND degrees)."""
    from databridge_etl_tools_spark.operators.graph import kcore

    def py_peel(edges, k, rounds):
        es = set(edges)
        for _ in range(rounds):
            deg = {}
            for u, _v in es:
                deg[u] = deg.get(u, 0) + 1
            keep = {u for u, d in deg.items() if d >= k}
            es = {(u, v) for u, v in es if u in keep and v in keep}
        out = {}
        for u, _v in es:
            out[u] = out.get(u, 0) + 1
        return out

    for seed, n, m, k in [(1, 12, 18, 2), (2, 20, 45, 3), (3, 9, 8, 2)]:
        # deterministic LCG edge set (no Math.random — replayable)
        x, es = seed, set()
        while len(es) < m:
            x = (x * 1103515245 + 12345) % (1 << 31)
            a = x % n
            x = (x * 1103515245 + 12345) % (1 << 31)
            b = x % n
            if a != b:
                es.add((a, b))
                es.add((b, a))
        df = spark.createDataFrame(sorted(es), "src long, dst long")
        got = {
            r["node"]: r["deg"] for r in kcore(df, k=k, rounds=5).collect()
        }
        assert got == py_peel(es, k, 5), (seed, n, m, k)


def test_coreness_nested_cores_match_python(spark):
    """Constructed nesting: a 5-clique (coreness 4), a triangle
    hanging off it (coreness 2), and a pendant node (coreness 1) —
    plus the pure-python successive-peel replay on a random graph."""
    from databridge_etl_tools_spark.operators.graph import coreness

    clique = [
        (a, b) for a in range(1, 6) for b in range(1, 6) if a != b
    ]
    tri = [(5, 10), (10, 11), (11, 5)]
    tri = tri + [(b, a) for a, b in tri]
    pend = [(11, 20), (20, 11)]
    df = spark.createDataFrame(clique + tri + pend, "src long, dst long")
    got = {
        r["node"]: r["coreness"]
        for r in coreness(df, k_max=4, rounds=5).collect()
    }
    assert got[1] == got[2] == got[3] == got[4] == 4
    assert got[5] == 4  # clique member (also on the triangle)
    assert got[10] == got[11] == 2
    assert got[20] == 1

    def py_coreness(edges, k_max, rounds):
        es = set(edges)
        nodes = {u for u, _ in es}
        core = {n: 1 for n in nodes}
        for k in range(2, k_max + 1):
            for _ in range(rounds):
                deg = {}
                for u, _v in es:
                    deg[u] = deg.get(u, 0) + 1
                keep = {u for u, d in deg.items() if d >= k}
                es = {(u, v) for u, v in es if u in keep and v in keep}
            for u in {u for u, _ in es}:
                core[u] = k
        return core

    x, es = 13, set()
    while len(es) < 60:
        x = (x * 1103515245 + 12345) % (1 << 31)
        a = x % 18
        x = (x * 1103515245 + 12345) % (1 << 31)
        b = x % 18
        if a != b:
            es.add((a, b))
            es.add((b, a))
    rdf = spark.createDataFrame(sorted(es), "src long, dst long")
    got_r = {
        r["node"]: r["coreness"]
        for r in coreness(rdf, k_max=4, rounds=6).collect()
    }
    assert got_r == py_coreness(es, 4, 6)


def test_coreness_demo_rounds_converged(spark):
    """Replay contract for graph_coreness_census: 6 peel rounds per k
    equal 7 on the demo subgraph."""
    from pyspark.sql import functions as F

    from databridge_etl_tools_spark.operators.graph import coreness
    from databridge_etl_tools_spark.registry import table

    sf = "/root/testdata/sf0.001"
    ord_ = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
    )
    edges = pairs.selectExpr("c AS src", "s AS dst").unionByName(
        pairs.selectExpr("s AS src", "c AS dst")
    )
    a = sorted(
        (r["node"], r["coreness"])
        for r in coreness(edges, k_max=4, rounds=6).collect()
    )
    b = sorted(
        (r["node"], r["coreness"])
        for r in coreness(edges, k_max=4, rounds=7).collect()
    )
    assert a == b and a


def test_score_weighted_kcore_python_replay_and_contract(spark):
    """Weighted (strength) peeling matches a python replay, rejects
    fractional weights, and differs from the unweighted peel where
    one strong tie outweighs many weak ones."""
    from databridge_etl_tools_spark.operators.graph import kcore

    # node 1-2 bound by one strong tie (w=10); 3 has three weak ties
    wed = [(1, 2, 10), (2, 1, 10), (3, 1, 1), (1, 3, 1),
           (3, 2, 1), (2, 3, 1), (3, 4, 1), (4, 3, 1)]
    df = spark.createDataFrame(wed, "src long, dst long, w long")
    got = {
        r["node"]: r["deg"]
        for r in kcore(df, k=5, rounds=4, weight_col="w").collect()
    }

    def py_peel(edges, k, rounds):
        es = {}
        for u, v, w in edges:
            es[(u, v)] = es.get((u, v), 0) + w
        for _ in range(rounds):
            s = {}
            for (u, _v), w in es.items():
                s[u] = s.get(u, 0) + w
            keep = {u for u, x in s.items() if x >= k}
            es = {
                (u, v): w for (u, v), w in es.items()
                if u in keep and v in keep
            }
        out = {}
        for (u, _v), w in es.items():
            out[u] = out.get(u, 0) + w
        return out

    assert got == py_peel(wed, 5, 4)
    # strong-tie pair survives; weakly-tied 3 and 4 peel away
    assert set(got) == {1, 2}

    bad = spark.createDataFrame([(1, 2, 1.5)], "src long, dst long, w double")
    with pytest.raises(ValueError, match="integral"):
        kcore(bad, k=1, weight_col="w")


def test_score_demo_rounds_converged(spark):
    """Replay contract for graph_score_suppliers: 6 strength-peel
    rounds equal 7 on the demo graph."""
    from pyspark.sql import functions as F

    from databridge_etl_tools_spark.operators.graph import kcore
    from databridge_etl_tools_spark.registry import table

    sf = "/root/testdata/sf0.001"
    ord_ = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    edges = pairs.selectExpr("c AS src", "s AS dst", "w").unionByName(
        pairs.selectExpr("s AS src", "c AS dst", "w")
    )
    a = sorted(
        (r["node"], r["deg"])
        for r in kcore(edges, k=5, rounds=6, weight_col="w").collect()
    )
    b = sorted(
        (r["node"], r["deg"])
        for r in kcore(edges, k=5, rounds=7, weight_col="w").collect()
    )
    assert a == b and a


def test_er_entities_link_every_planted_variant(spark):
    """Entity resolution behavior: every planted dirty record lands
    in an entity whose canonical record is its source customer (the
    blocking never separates a variant from its original — the edit
    is inside the block key's prefix), and component iteration has
    converged at the demo depth."""
    from databridge_etl_tools_spark.queries.analytics import (
        er_customer_entities,
    )
    from databridge_etl_tools_spark.registry import table

    sf = "/root/testdata/sf0.001"
    ents = er_customer_entities(spark, sf).collect()
    cust = {
        r["c_custkey"]: r["c_name"]
        for r in table(spark, sf, "customer").collect()
    }
    planted = {k for k in cust if k % 7 == 0}
    # every entity that contains a dirty record must be canonically
    # named by SOME original (entity ids < 1e8 - labels are min ids)
    n_dirty_total = sum(r["n_dirty"] for r in ents)
    assert n_dirty_total == len(planted)
    for r in ents:
        assert r["entity"] < 100000000  # canonical record is original
        assert r["n_records"] >= 2  # matched entities only
        assert r["canonical_name"] == cust[r["entity"]]


def test_harmonic_product_trick_equals_per_seed_runs(spark):
    """The graph-product multi-source BFS must produce exactly the
    per-seed distances of separate runs: harmonic scores from the
    replicated graph equal the sum of per-seed 1/d over individual
    BFS traversals."""
    from databridge_etl_tools_spark.operators.graph import bfs_distances

    path = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    und = path + [(b, a) for a, b in path]
    edges = spark.createDataFrame(und, "src long, dst long")
    seeds = [1, 4]

    # per-seed reference
    want = {}
    for s in seeds:
        src = spark.createDataFrame([(s,)], "node long")
        for r in bfs_distances(edges, src, max_hops=3).collect():
            if r["dist"] > 0:
                want[r["node"]] = want.get(r["node"], 0) + 6 // r["dist"]

    reps = None
    for si in range(len(seeds)):
        r = edges.selectExpr(f"src * 8 + {si} AS src", f"dst * 8 + {si} AS dst")
        reps = r if reps is None else reps.unionByName(r)
    sources = spark.createDataFrame(
        [(s * 8 + si,) for si, s in enumerate(seeds)], "node long"
    )
    got = {}
    for r in bfs_distances(reps, sources, max_hops=3).collect():
        if r["dist"] > 0:
            n = r["node"] // 8
            got[n] = got.get(n, 0) + 6 // r["dist"]
    assert got == want
