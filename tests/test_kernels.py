"""Kernel goldens vs the NumPy oracle on micro-graphs (FIXTURES.md F3/F4).

allclose 1e-6 for PageRank (BASELINE.json contract), exact for CC / LP /
TC / BFS / SSSP / degrees.
"""

from __future__ import annotations

import math

import pytest

from tests import oracle
from tests.conftest import (
    CHAIN10,
    K3,
    SELF_LOOPS_DUPS,
    STAR_HUB,
    edges_df,
    rmat_edges,
    two_islands,
)

GRAPHS = {
    "k3": K3,
    "chain10": CHAIN10,
    "star_hub": STAR_HUB,
    "two_islands": two_islands(),
    "self_loops_dups": SELF_LOOPS_DUPS,
    "rmat_s8": rmat_edges(scale=8, avg_degree=4),
}


@pytest.fixture(scope="module", params=list(GRAPHS))
def graph(request, spark):
    pairs = GRAPHS[request.param]
    return request.param, pairs, edges_df(spark, pairs)


# Every micro-graph sits under the tiny-state threshold, so the default
# runs only the broadcast side of plans.fixpoint.state_side; a threshold
# of 0 drives the same kernels down the shuffled-hash (big-state) side.
STATE_CASES = [(g, None) for g in GRAPHS] + [
    (g, 0) for g in ("star_hub", "two_islands", "rmat_s8")
]


@pytest.fixture(
    params=STATE_CASES,
    ids=[g if rows is None else f"{g}-big_state" for g, rows in STATE_CASES],
)
def state_graph(request, spark, monkeypatch):
    name, rows = request.param
    if rows is not None:
        from llama_spark.plans import fixpoint

        monkeypatch.setattr(fixpoint, "TINY_STATE_ROWS", rows)
    pairs = GRAPHS[name]
    return name, pairs, edges_df(spark, pairs)


def test_state_side_policy(spark, monkeypatch):
    from llama_spark.plans import fixpoint

    small = edges_df(spark, K3)

    def join_plan():
        joined = small.join(fixpoint.state_side(small.select("src"), len(K3)), "src")
        return joined._jdf.queryExecution().executedPlan().toString()

    assert fixpoint.tiny_state(fixpoint.TINY_STATE_ROWS)
    assert not fixpoint.tiny_state(fixpoint.TINY_STATE_ROWS + 1)
    assert "BroadcastHashJoin" in join_plan()
    monkeypatch.setattr(fixpoint, "TINY_STATE_ROWS", 0)
    assert "ShuffledHashJoin" in join_plan()


def test_pagerank_allclose(state_graph):
    from llama_spark.operators.pagerank import pagerank

    name, pairs, df = state_graph
    got = {r["id"]: r["rank"] for r in pagerank(df, max_iter=10).collect()}
    want = oracle.pagerank(pairs, max_iter=10)
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=0, abs_tol=1e-6), (name, k)


def test_personalized_pagerank(spark):
    """PPR vs a python power iteration with the same restart vector; mass
    concentrates on/near the teleport set."""
    from llama_spark.operators.pagerank import personalized_pagerank

    pairs = rmat_edges(scale=7, avg_degree=4)
    df = edges_df(spark, pairs)
    sources = [0, 5]
    got = {r["id"]: r["rank"] for r in personalized_pagerank(df, sources, max_iter=10).collect()}

    # python oracle over the RAW pair list (dups/self-loops kept, exactly
    # like oracle.pagerank and the DataFrame plan)
    from collections import defaultdict

    nodes = sorted({u for e in pairs for u in e})
    out_deg = defaultdict(int)
    for s, _d in pairs:
        out_deg[s] += 1
    e_v = {v: (1 / len(sources) if v in sources else 0.0) for v in nodes}
    rank = dict(e_v)
    for _ in range(10):
        contrib = defaultdict(float)
        for s, d in pairs:
            contrib[d] += rank[s] / out_deg[s]
        rank = {v: (1.0 - 0.85) * e_v[v] + 0.85 * contrib[v] for v in nodes}
    assert set(got) == set(rank)
    for k in rank:
        assert math.isclose(got[k], rank[k], rel_tol=0, abs_tol=1e-9), k
    # teleport mass: sources dominate their neighborhoods
    assert got[0] > sorted(got.values())[len(got) // 2]


def test_pagerank_dangling_mass_lost(spark):
    """chain10's node 9 has out-degree 0 → rank sum < 1 (pagerank.h:287-288)."""
    from llama_spark.operators.pagerank import pagerank

    df = edges_df(spark, CHAIN10)
    total = sum(r["rank"] for r in pagerank(df, max_iter=10).collect())
    want = sum(oracle.pagerank(CHAIN10, max_iter=10).values())
    assert total < 0.999
    assert math.isclose(total, want, abs_tol=1e-9)


def test_pagerank_dangling_redistribute(spark):
    """The textbook variant conserves Σrank = 1 on a graph with dangling
    nodes and matches a python power iteration with mass spreading."""
    from collections import defaultdict

    from llama_spark.operators.pagerank import pagerank

    pairs = [(s, d) for s, d in rmat_edges(scale=6, avg_degree=3) if s % 5 != 0]
    df = edges_df(spark, pairs)
    got = {r["id"]: r["rank"] for r in pagerank(df, max_iter=10, dangling="redistribute").collect()}
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)

    nodes = sorted({u for e in pairs for u in e})
    n = len(nodes)
    out_deg = defaultdict(int)
    for s, _d in pairs:
        out_deg[s] += 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(10):
        dm = sum(rank[v] for v in nodes if out_deg[v] == 0)
        contrib = defaultdict(float)
        for s, d in pairs:
            contrib[d] += rank[s] / out_deg[s]
        rank = {v: 0.15 / n + 0.85 * contrib[v] + 0.85 * dm / n for v in nodes}
    assert set(got) == set(rank)
    for k in rank:
        assert math.isclose(got[k], rank[k], rel_tol=0, abs_tol=1e-9), k


def test_weighted_pagerank(spark):
    """weight_col: contributions are rank*w/Σw per out-edge; matches a
    python power iteration with the same synthetic weights, and differs
    from the unweighted ranking (the weights are non-uniform)."""
    import numpy as np

    from llama_spark.graph import with_synthetic_weights
    from llama_spark.operators.pagerank import pagerank

    pairs = sorted(set(rmat_edges(scale=6, avg_degree=4)))
    pairs = [(s, d) for s, d in pairs if s != d]
    df = with_synthetic_weights(edges_df(spark, pairs))
    got = {r["id"]: r["rank"] for r in pagerank(df, max_iter=10, weight_col="weight").collect()}

    ids = sorted({u for e in pairs for u in e})
    idx = {u: i for i, u in enumerate(ids)}
    n = len(ids)
    w = {(s, d): 1.0 + ((s * 31 + d) % 100) / 100.0 for s, d in pairs}
    ow = np.zeros(n)
    for s, d in pairs:
        ow[idx[s]] += w[(s, d)]
    rank = np.full(n, 1.0 / n)
    for _ in range(10):
        contrib = np.zeros(n)
        for s, d in pairs:
            contrib[idx[d]] += rank[idx[s]] * w[(s, d)] / ow[idx[s]]
        rank = (1.0 - 0.85) / n + 0.85 * contrib
    want = dict(zip(ids, rank.tolist()))
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], abs_tol=1e-9), k

    unweighted = {r["id"]: r["rank"] for r in pagerank(edges_df(spark, pairs), max_iter=10).collect()}
    assert any(abs(unweighted[k] - got[k]) > 1e-6 for k in got)


def test_pagerank_tol_mode(spark):
    """Convergence mode (examples/llama-pagerank.cc:183-185)."""
    from llama_spark.operators.pagerank import pagerank_result

    df = edges_df(spark, K3)
    res = pagerank_result(df, max_iter=50, tol=1e-6)
    assert res.converged
    # K3 is symmetric: all ranks equal 1/3
    for r in res.state.collect():
        assert math.isclose(r["rank"], 1 / 3, abs_tol=1e-6)


def test_pagerank_warm_start_converges_same(spark):
    """Warm start from a previous snapshot's scores converges (in tol mode)
    to the same fixpoint as a cold run, in no more iterations."""
    from llama_spark.operators.pagerank import pagerank_result

    pairs = rmat_edges(scale=6, avg_degree=4)
    df = edges_df(spark, pairs)
    # L1 diff decays ~0.85^k, so tol=1e-4 needs ~50 iterations from cold
    cold = pagerank_result(df, max_iter=80, tol=1e-4)
    assert cold.converged
    warm = pagerank_result(df, max_iter=80, tol=1e-4, initial_ranks=cold.state)
    # starting AT the fixpoint: first step's L1 diff is already under tol
    assert warm.converged and warm.iterations <= 3
    a = {r["id"]: r["rank"] for r in cold.state.collect()}
    b = {r["id"]: r["rank"] for r in warm.state.collect()}
    for k in a:
        assert math.isclose(a[k], b[k], abs_tol=2e-4), k
    # nodes missing from initial_ranks default to 1/N (new nodes in a batch)
    partial = cold.state.limit(5)
    res = pagerank_result(df, max_iter=80, tol=1e-4, initial_ranks=partial)
    assert res.converged
    c = {r["id"]: r["rank"] for r in res.state.collect()}
    for k in a:
        assert math.isclose(a[k], c[k], abs_tol=2e-4), k


def test_cc_alternating_matches_hashmin(spark):
    """Large-star/small-star CC equals hash-min CC (exact min-member
    labels) on every fixture shape INCLUDING a 200-node shuffled-id chain,
    where star contraction needs O(log n) rounds vs hash-min's O(n)."""
    import random

    from llama_spark.operators.components import (
        connected_components,
        connected_components_alternating,
    )

    rng = random.Random(3)
    perm = list(range(201))
    rng.shuffle(perm)
    cases = {
        "k3": K3,
        "self_loops_dups": SELF_LOOPS_DUPS,
        "two_islands": two_islands(),
        "chain200_shuffled": [(perm[i + 1], perm[i]) for i in range(200)],
        "rmat": rmat_edges(scale=6, avg_degree=4),
    }
    for name, pairs in cases.items():
        df = edges_df(spark, pairs)
        alt = {
            r["id"]: r["component"]
            for r in connected_components_alternating(df).collect()
        }
        # python oracle everywhere; spark hash-min only off the chain —
        # there it would need ~200 delta rounds (exactly the case the
        # alternating algorithm exists for)
        assert alt == oracle.connected_components(pairs), name
        if name != "chain200_shuffled":
            ref = {
                r["id"]: r["component"] for r in connected_components(df).collect()
            }
            assert alt == ref, name


def test_random_walks(spark):
    """Deterministic walks match a python replay exactly (same md5-derived
    pick at every step); sinks end walks early."""
    import hashlib

    from llama_spark.operators.walks import ADJ_SALTS, random_walks

    pairs = sorted(set(rmat_edges(scale=5, avg_degree=3)))
    pairs = [(s_, d) for s_, d in pairs if s_ != d]
    df = edges_df(spark, pairs)
    got = {
        (r["walk_id"], r["step"]): r["node"]
        for r in random_walks(df, walk_length=4, walks_per_node=2, seed=7).collect()
    }

    adj = {}
    for s_, d in pairs:
        adj.setdefault(s_, []).append(d)
    for k in adj:
        # canonical neighbor order is (dst % salts, dst) — the hub-safe rank
        adj[k] = sorted(adj[k], key=lambda d: (d % ADJ_SALTS, d))
    nodes = sorted({u for e in pairs for u in e})

    def h(sval):
        return int(hashlib.md5(sval.encode()).hexdigest()[:15], 16)

    want = {}
    for node in nodes:
        for w in range(2):
            wid = node * 2 + w
            cur = node
            want[(wid, 0)] = cur
            for t in range(4):
                nb = adj.get(cur)
                if not nb:
                    break
                cur = nb[h(f"{wid}:{t}:7") % len(nb)]
                want[(wid, t + 1)] = cur
    assert got == want


def test_adjacency_index_hub_safe(spark):
    """A 100k-out-degree hub: the two-phase rank must (a) produce an exact
    1..out_deg permutation in (dst % salts, dst) order and (b) never plan a
    window that sorts the whole out-list in one partition — every window
    ordering by dst must also partition by the salt."""
    import re

    from pyspark.sql import functions as F

    from llama_spark.operators.walks import ADJ_SALTS, adjacency_index

    hub_deg = 100_000
    e = spark.range(1, hub_deg + 1).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
    )
    adj = adjacency_index(e)

    plan = adj._jdf.queryExecution().optimizedPlan().toString()
    for frag in plan.split("windowspecdefinition(")[1:]:
        head = frag.split("specifiedwindowframe")[0]
        if re.search(r"\bdst#", head):
            assert "salt#" in head, f"hub out-list sorted in one window: {head}"

    rows = adj.collect()
    assert len(rows) == hub_deg
    assert sorted(r["idx"] for r in rows) == list(range(1, hub_deg + 1))
    want = {
        d: i + 1
        for i, d in enumerate(
            sorted(range(1, hub_deg + 1), key=lambda d: (d % ADJ_SALTS, d))
        )
    }
    got = {r["dst"]: r["idx"] for r in rows}
    assert got == want


def test_random_walks_weighted_replay(spark):
    """Weight-biased walks match a python replay exactly: neighbor i owns
    [lo_i, hi_i) of [0, Σŵ) with ŵ = floor(w·128)+1 in (dst % salts, dst)
    order, and step t of walk w draws u = H(walk_id:t:seed) mod Σŵ."""
    import hashlib

    from llama_spark.operators.walks import ADJ_SALTS, random_walks

    pairs = sorted(set(rmat_edges(scale=5, avg_degree=3)))
    pairs = [(s_, d) for s_, d in pairs if s_ != d]
    weighted = [(s_, d, 1.0 + ((s_ * 31 + d) % 100) / 100.0) for s_, d in pairs]
    df = spark.createDataFrame(weighted, "src long, dst long, weight double")
    got = {
        (r["walk_id"], r["step"]): r["node"]
        for r in random_walks(
            df, walk_length=4, walks_per_node=1, seed=7, weight_col="weight"
        ).collect()
    }

    res = 128
    ranges = {}  # src -> list of (lo, hi, dst), plus total
    adj = {}
    for s_, d, w in weighted:
        adj.setdefault(s_, []).append((d, w))
    for s_, nbrs in adj.items():
        nbrs.sort(key=lambda p: (p[0] % ADJ_SALTS, p[0]))
        cum, out = 0, []
        for d, w in nbrs:
            iw = int(w * res // 1) + 1
            out.append((cum, cum + iw, d))
            cum += iw
        ranges[s_] = (out, cum)

    def h(sval):
        return int(hashlib.md5(sval.encode()).hexdigest()[:15], 16)

    want = {}
    for node in sorted({u for e in pairs for u in e}):
        wid, cur = node, node
        want[(wid, 0)] = cur
        for t in range(4):
            if cur not in ranges:
                break
            out, tot = ranges[cur]
            u = h(f"{wid}:{t}:7") % tot
            cur = next(d for lo, hi, d in out if lo <= u < hi)
            want[(wid, t + 1)] = cur
    assert got == want


def test_node2vec_walks_replay(spark):
    """node2vec rejection-sampled walks match a python replay exactly:
    step 0 is the r=0 uniform draw; later steps draw `retries` candidates,
    classify each against prev (return/one-hop/explore thresholds), accept
    by hash test, and take the first accepted (last candidate fallback)."""
    import hashlib

    from llama_spark.operators.walks import ADJ_SALTS, node2vec_walks

    pairs = sorted(set(rmat_edges(scale=5, avg_degree=3)))
    pairs = [(s_, d) for s_, d in pairs if s_ != d]
    df = edges_df(spark, pairs)
    p_, q_, retries, seed = 2.0, 0.5, 4, 11
    got = {
        (r["walk_id"], r["step"]): r["node"]
        for r in node2vec_walks(
            df, walk_length=4, walks_per_node=1, p=p_, q=q_, retries=retries,
            seed=seed,
        ).collect()
    }

    adj = {}
    for s_, d in pairs:
        adj.setdefault(s_, []).append(d)
    for k in adj:
        adj[k] = sorted(adj[k], key=lambda d: (d % ADJ_SALTS, d))
    eset = set(pairs)
    m = 1 << 16
    a_ret, a_mid, a_far = 1.0 / p_, 1.0, 1.0 / q_
    a_max = max(a_ret, a_mid, a_far)
    thr = {
        "ret": int(round(m * a_ret / a_max)),
        "mid": int(round(m * a_mid / a_max)),
        "far": int(round(m * a_far / a_max)),
    }

    def h(sval):
        return int(hashlib.md5(sval.encode()).hexdigest()[:15], 16)

    want = {}
    for node in sorted({u for e in pairs for u in e}):
        wid, cur, prev = node, node, None
        want[(wid, 0)] = cur
        for t in range(4):
            nb = adj.get(cur)
            if not nb:
                break
            if t == 0:
                nxt = nb[h(f"{wid}:0:0:{seed}") % len(nb)]
            else:
                nxt = None
                for r in range(retries):
                    x = nb[h(f"{wid}:{t}:{r}:{seed}") % len(nb)]
                    t_x = (
                        thr["ret"]
                        if x == prev
                        else thr["mid"] if (prev, x) in eset else thr["far"]
                    )
                    if h(f"{wid}:{t}:{r}:acc:{seed}") % m < t_x:
                        nxt = x
                        break
                    nxt = x  # last-candidate fallback
            prev, cur = cur, nxt
            want[(wid, t + 1)] = cur
    assert got == want


def test_k_core(spark):
    """Run-to-convergence k-core vs sequential peeling oracle, several
    shapes and k values; fixed-round mode equals convergence mode once
    rounds exceed the peel depth."""
    from llama_spark.operators.kcore import k_core

    cases = [
        ("rmat", rmat_edges(scale=7, avg_degree=4), 3),
        ("rmat_k5", rmat_edges(scale=7, avg_degree=4), 5),
        ("chain", CHAIN10, 2),  # a chain has no 2-core → empty
        ("k3", K3, 2),
    ]
    for name, pairs, k in cases:
        got = {
            r["id"]: r["degree"] for r in k_core(edges_df(spark, pairs), k=k).collect()
        }
        want = oracle.k_core(pairs, k)
        assert got == want, (name, k)
    fixed = {
        r["id"]: r["degree"]
        for r in k_core(edges_df(spark, CHAIN10), k=2, rounds=12).collect()
    }
    assert fixed == oracle.k_core(CHAIN10, 2)


def test_k_truss(spark):
    """4-truss of K4-plus-tail is exactly K4 (every K4 edge closes 2
    triangles); 5-truss of K4 is empty; direction/dup/self-loop noise in
    the input is canonicalized away."""
    from llama_spark.operators.truss import k_truss

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(b, a) for a, b in k4] + [(2, 2), (3, 9), (9, 3)]
    df = edges_df(spark, noisy)
    got4 = {(r["src"], r["dst"]) for r in k_truss(df, k=4).collect()}
    assert got4 == set(k4)
    assert k_truss(df, k=5).count() == 0
    # fixed-round mode at ≥ convergence depth matches convergence mode
    fixed = {(r["src"], r["dst"]) for r in k_truss(df, k=4, rounds=5).collect()}
    assert fixed == got4


def test_weighted_k_core(spark):
    """Weighted (s-core) peel vs a python model: survive while rounded
    Σ incident max-direction weights ≥ k; matches exactly."""
    from llama_spark.graph import with_synthetic_weights
    from llama_spark.operators.kcore import k_core

    pairs = sorted(set(rmat_edges(scale=6, avg_degree=4)))
    pairs = [(s_, d) for s_, d in pairs if s_ != d]
    df = with_synthetic_weights(edges_df(spark, pairs))
    K = 9.0
    got = {r["id"]: r["wdegree"] for r in k_core(df, k=K, weight_col="weight").collect()}

    wdir = {(s_, d): 1.0 + ((s_ * 31 + d) % 100) / 100.0 for s_, d in pairs}
    und = {}
    for (s_, d), w in wdir.items():
        key = (min(s_, d), max(s_, d))
        und[key] = max(und.get(key, 0.0), w)
    alive = {u for e in und for u in e}
    while True:
        wdeg = {u: 0.0 for u in alive}
        for (a, b), w in und.items():
            if a in alive and b in alive:
                wdeg[a] += w
                wdeg[b] += w
        drop = {u for u in alive if round(wdeg[u], 6) < K}
        if not drop:
            break
        alive -= drop
    want = {u: round(wdeg[u], 6) for u in alive}
    assert set(got) == set(want)
    for u in want:
        assert math.isclose(got[u], want[u], abs_tol=1e-6), u


def test_coreness(spark):
    """h-index fixpoint (convergence mode) equals sequential min-degree
    peeling (the textbook coreness algorithm) on K3, a chain, and RMAT."""
    from collections import defaultdict

    from llama_spark.operators.kcore import coreness

    def py_coreness(pairs):
        adj = defaultdict(set)
        for s, d in pairs:
            if s != d:
                adj[s].add(d)
                adj[d].add(s)
        deg = {v: len(ns) for v, ns in adj.items()}
        core = {}
        live = dict(deg)
        while live:
            v = min(live, key=lambda x: (live[x], x))
            core[v] = live[v]
            k = live.pop(v)
            for u in adj[v]:
                if u in live:
                    live[u] = max(live[u] - 1, k)
        return core

    for pairs in (K3, CHAIN10, rmat_edges(scale=7, avg_degree=4)):
        got = {r["id"]: r["coreness"] for r in coreness(edges_df(spark, pairs)).collect()}
        assert got == py_coreness(pairs), "coreness mismatch"


def test_connected_components(state_graph):
    from llama_spark.operators.components import connected_components

    name, pairs, df = state_graph
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == oracle.connected_components(pairs), name


def test_two_islands_has_two_components(spark):
    from llama_spark.operators.components import connected_components

    df = edges_df(spark, two_islands())
    comps = connected_components(df).select("component").distinct().count()
    assert comps == 2


def test_star_hub_cc_converges_fast(spark):
    from llama_spark.operators.components import connected_components_result

    res = connected_components_result(edges_df(spark, STAR_HUB))
    assert res.converged
    assert res.iterations <= 3  # 1 propagation round + 1 no-change round (+slack)


def test_label_propagation(state_graph):
    from llama_spark.operators.components import label_propagation

    name, pairs, df = state_graph
    got = {r["id"]: r["label"] for r in label_propagation(df, max_iter=5).collect()}
    assert got == oracle.label_propagation(pairs, max_iter=5), name


def test_triangle_count(graph):
    from llama_spark.operators.triangles import triangle_count

    name, pairs, df = graph
    for orient in ("id", "degree"):
        assert triangle_count(df, orient=orient) == oracle.triangle_count(pairs), (
            name,
            orient,
        )


def test_bfs_and_sssp_chain(spark):
    from llama_spark.operators.traversal import bfs_count, bfs_depths

    df = edges_df(spark, CHAIN10)
    depths = {r["id"]: r["depth"] for r in bfs_depths(df, root=0).collect()}
    assert depths == {i: i for i in range(10)}
    assert bfs_count(df, root=0) == 10
    assert bfs_count(df, root=5) == 5


def test_multi_source_bfs_and_closeness(spark):
    """Multi-source BFS equals per-root bfs_depths; closeness matches the
    hand formula; double-sweep diameter is exact on a chain."""
    from llama_spark.operators.traversal import (
        approx_diameter,
        bfs_depths,
        closeness_centrality,
        multi_source_bfs_depths,
    )

    pairs = rmat_edges(scale=6, avg_degree=4)
    df = edges_df(spark, pairs)
    roots = [0, 3]
    ms = {
        (r["root"], r["id"]): r["depth"]
        for r in multi_source_bfs_depths(df, roots).collect()
    }
    assert all(d is not None for d in ms.values())  # sparse: reached only
    for root in roots:
        single = {r["id"]: r["depth"] for r in bfs_depths(df, root=root).collect()}
        reached = {i: d for i, d in single.items() if d is not None}
        assert {i: ms[(root, i)] for _r, i in ms if _r == root} == reached

    c = {r["id"]: r["closeness"] for r in closeness_centrality(df, roots).collect()}
    from llama_spark.operators.traversal import harmonic_centrality

    h = {r["id"]: r["harmonic"] for r in harmonic_centrality(df, roots).collect()}
    for root in roots:
        reach = {i: d for (rt, i), d in ms.items() if rt == root and d is not None}
        want = (len(reach) - 1) / sum(reach.values()) if sum(reach.values()) else 0.0
        assert math.isclose(c[root], want, abs_tol=1e-9)
        want_h = sum(1.0 / d for d in reach.values() if d > 0)
        assert math.isclose(h[root], want_h, rel_tol=1e-9)

    # chain 0→1→…→9: sweep from the middle finds an end, diameter_lb = 9
    chain = edges_df(spark, [(i, i + 1) for i in range(9)] + [(i + 1, i) for i in range(9)])
    row = approx_diameter(chain, seed_root=4).collect()[0]
    assert row["diameter_lb"] == 9 and row["peripheral_id"] in (0, 9)


def test_sssp_weighted(state_graph):
    from llama_spark.graph import with_synthetic_weights
    from llama_spark.operators.traversal import sssp

    name, pairs, df = state_graph
    root = min(u for e in pairs for u in e)
    wdf = with_synthetic_weights(df)
    weights = {(s, d): 1.0 + ((s * 31 + d) % 100) / 100.0 for s, d in pairs}
    got = {r["id"]: r["dist"] for r in sssp(wdf, root=root, weight_col="weight").collect()}
    want = oracle.sssp(pairs, root=root, weights=weights)
    assert set(got) == set(want), name
    for k in want:
        if want[k] is None:
            assert got[k] is None, (name, k)
        else:
            assert math.isclose(got[k], want[k], abs_tol=1e-9), (name, k)


def test_degrees(graph):
    from llama_spark.graph import degrees

    name, pairs, df = graph
    got = {r["id"]: (r["out_degree"], r["in_degree"]) for r in degrees(df).collect()}
    assert got == oracle.degrees(pairs), name


def test_degree_distribution_mass(spark):
    from llama_spark.graph import degree_distribution

    df = edges_df(spark, STAR_HUB)
    rows = degree_distribution(df).collect()
    # one hub with degree 999 → bucket floor(log2(999)) = 9
    assert {r["bucket"]: (r["n_nodes"], r["degree_mass"]) for r in rows} == {9: (1, 999)}


def test_find_edge_and_prop_stats(spark):
    from llama_spark.graph import edge_prop_stats, find_edge, with_synthetic_weights

    df = edges_df(spark, K3)
    assert find_edge(df, 0, 1).count() == 1
    assert find_edge(df, 1, 5).count() == 0
    stats = edge_prop_stats(with_synthetic_weights(df)).collect()[0]
    assert stats["count_v"] == len(K3)
    assert 1.0 <= stats["min_v"] <= stats["max_v"] < 2.0
