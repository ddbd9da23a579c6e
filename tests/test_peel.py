"""A-direction threshold peeling vs an independent python oracle."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from accelerating_tc_spark.operators import peel, prep, triangles
from accelerating_tc_spark.sources import synthetic


def py_peel(pairs, thre_param=1.0, inner_rounds=5):
    """Deterministic batch peel: identical rule to peel.peel_priorities."""
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    n = len(deg)
    avg = sum(deg.values()) / n
    threshold = avg
    step = avg * thre_param / 5.0
    prio: dict[int, int] = {}
    rdeg = dict(deg)
    level = 0
    while len(prio) < n:
        frontier = [v for v in deg if v not in prio and rdeg[v] <= threshold]
        for v in frontier:
            prio[v] = level
        level += 1
        inner = 0
        while frontier and inner < inner_rounds:
            dec: Counter = Counter()
            for v in frontier:
                for u in adj[v]:
                    dec[u] += 1
            for u, c in dec.items():
                if u not in prio:
                    rdeg[u] -= c
            frontier = [u for u in deg if u not in prio and rdeg[u] <= threshold]
            for u in frontier:
                prio[u] = level
            level += 1
            inner += 1
        if frontier:
            # inner cap hit with a live frontier: its decrements still fire
            # before the threshold rises (mirrors peel.peel_priorities)
            dec = Counter()
            for v in frontier:
                for u in adj[v]:
                    dec[u] += 1
            for u, c in dec.items():
                if u not in prio:
                    rdeg[u] -= c
        if len(prio) == n:
            break
        threshold += step
    return prio


@pytest.mark.parametrize("seed,thre_param", [(42, 1.0), (9, 2.0)])
def test_peel_matches_python_oracle(spark, seed, thre_param):
    pairs = synthetic.powerlaw_edge_pairs(250, 1200, seed=seed)
    clean = sorted({(min(a, b), max(a, b)) for a, b in pairs.tolist() if a != b})
    edges = synthetic.edges_df(spark, clean)
    canonical = prep.canonicalize_edges(edges)
    got = {
        r["vertex"]: r["priority"]
        for r in peel.peel_priorities(spark, canonical, thre_param=thre_param).collect()
    }
    expected = py_peel(clean, thre_param=thre_param)
    assert got == expected


def test_peel_inner_cap_orphan_decrements(spark):
    """A path graph cascades one wave per removed endpoint pair, so a tiny
    inner_rounds cap fires constantly — the capped wave's decrements must
    still apply before the threshold rises (levels would drift from the
    oracle otherwise)."""
    n = 40
    path = [(i, i + 1) for i in range(n - 1)]
    canonical = prep.canonicalize_edges(synthetic.edges_df(spark, path))
    pr = peel.peel_priorities(spark, canonical, thre_param=1.0, inner_rounds=2)
    got = {r["vertex"]: r["priority"] for r in pr.collect()}
    assert got == py_peel(path, thre_param=1.0, inner_rounds=2)


def test_peel_total_and_orientation_acyclic(spark):
    edges = synthetic.hub_edges(spark, n_vertices=150)
    canonical = prep.canonicalize_edges(edges)
    pr = peel.peel_priorities(spark, canonical, thre_param=1.0)
    assert pr.where(pr["priority"].isNull()).count() == 0
    # peel orientation is acyclic -> triangle counts must equal the oracle
    oriented = peel.orient_by_peel(canonical, pr)
    pairs = [(r["src"], r["dst"]) for r in canonical.collect()]
    expected = synthetic.numpy_triangle_count(pairs)
    got = triangles.triangle_count_blocked(oriented, n_blocks=3).collect()[0]["triangles"]
    assert got == expected
    # every edge oriented exactly once
    assert oriented.count() == len(pairs)


def test_peel_vs_degree_balance_row(spark):
    edges = synthetic.powerlaw_edges(spark, n_vertices=200, n_edges=900, seed=3)
    canonical = prep.canonicalize_edges(edges)
    row = peel.peel_vs_degree_balance(spark, canonical).collect()[0]
    assert row["peel_balance_cost"] >= 0.0
    assert row["degree_balance_cost"] >= 0.0
    assert row["n_levels"] >= 1


def test_peel_bounds_cut_chain_on_planted_clique(spark, cut_log):
    """A 12-clique with a 20-edge tail peels in 23 levels at thre_param
    0.25, more than twice the chain bound, yet no more than
    CUT_CHAIN_BOUND - 1 localCheckpoints chain between parquet hard cuts,
    and the priorities still match the python oracle."""
    import itertools

    from accelerating_tc_spark.operators import supersteps

    pairs = list(itertools.combinations(range(12), 2)) + [(11 + i, 12 + i) for i in range(20)]
    expected = py_peel(pairs, thre_param=0.25)
    n_levels = max(expected.values()) + 1
    assert n_levels >= 2 * supersteps.CUT_CHAIN_BOUND
    canonical = prep.canonicalize_edges(synthetic.edges_df(spark, pairs))
    got = {
        r["vertex"]: r["priority"]
        for r in peel.peel_priorities(spark, canonical, thre_param=0.25).collect()
    }
    assert got == expected
    assert len([e for e in cut_log if e != "L"]) >= 2
    assert 0 < cut_log.longest_local_chain() <= supersteps.CUT_CHAIN_BOUND - 1
