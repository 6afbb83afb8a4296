"""Graph operators against hand-built expectations and reference
replays; tests taking the ``bcast_gate`` fixture run on both sides of
the state broadcast gate. Connected components: both execution paths
must produce identical, correct clusters — the driver union-find (small
graphs) and the distributed pointer-jumping loop (forced via
driver_threshold=0)."""

from __future__ import annotations

import pytest

from etl_pipeline_orchestration_spark.operators import graph
from etl_pipeline_orchestration_spark.operators.graph import connected_components

# chain 1-2-3-4-5 (one component, diameter 4 — forces >1 jump round),
# triangle 10-11-12, isolated edge 20-21, singleton-free: nodes only
# appear via edges
EDGES = [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (12, 10), (20, 21)]
WANT = {
    1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
    10: 10, 11: 10, 12: 10,
    20: 20, 21: 20,
}


@pytest.mark.parametrize(
    "threshold, bcast_gate",
    [
        (2_000_000, graph._STATE_BCAST_MAX),
        (0, graph._STATE_BCAST_MAX),
        (0, 0),
    ],
    ids=["driver", "distributed", "distributed-gate0"],
    indirect=["bcast_gate"],
)
def test_connected_components_paths_agree(spark, threshold, bcast_gate):
    edges = spark.createDataFrame(EDGES, ["src", "dst"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, driver_threshold=threshold).collect()
    }
    assert got == WANT


def test_connected_components_empty(spark):
    edges = spark.createDataFrame([], "src BIGINT, dst BIGINT")
    assert connected_components(edges).count() == 0


def test_driver_gate_scales_with_driver_memory():
    """The driver union-find gate derives from the configured heap, not
    a constant: a small-driver deployment must be forced onto the
    distributed path for edge lists an 8g driver would collect."""
    from etl_pipeline_orchestration_spark.operators.graph import (
        driver_gate_threshold,
    )

    big = driver_gate_threshold("8g")
    small = driver_gate_threshold("64m")
    assert big > 1_000_000  # 8g driver keeps roughly the old 2M regime
    assert small < 100_000  # 64m driver gates out long before OOM
    assert small < len(EDGES) * 10_000 // 8 or small >= 10_000  # floor holds
    assert driver_gate_threshold("1k") == 10_000  # hard floor
    # units parse: plain bytes, k/m/g/t suffixes all monotone
    assert (
        driver_gate_threshold("1g")
        < driver_gate_threshold("2g")
        < driver_gate_threshold("1t")
    )


def test_driver_gate_parses_like_spark_byte_strings():
    """ADVICE r5: the parser must match Spark's byteStringAsMb —
    suffixless values are MiB (not bytes), JVM-style 'gb'/'mb' suffixes
    are valid, and garbage degrades to the floor instead of raising
    from inside connected_components."""
    from etl_pipeline_orchestration_spark.operators.graph import (
        driver_gate_threshold,
    )

    # suffixless = MiB: '2048' == '2g', far above the 10k floor
    assert driver_gate_threshold("2048") == driver_gate_threshold("2g")
    assert driver_gate_threshold("2048") > 10_000
    # JVM-style two-letter suffixes
    assert driver_gate_threshold("8gb") == driver_gate_threshold("8g")
    assert driver_gate_threshold("512mb") == driver_gate_threshold("512m")
    # unparseable → floor, never an exception
    assert driver_gate_threshold("lots") == 10_000
    assert driver_gate_threshold("") == 10_000


def test_driver_gate_bare_b_suffix_is_bytes():
    """ADVICE r6: Spark's byteStringAs treats a LONE trailing 'b' as
    BYTES — '1048576b' is 1 MiB, not 1 TiB. Parsing it as MiB would
    overstate driver memory ~2^20x and neuter the OOM gate."""
    from etl_pipeline_orchestration_spark.operators.graph import (
        driver_gate_threshold,
    )

    # 1 MiB expressed in bytes == 1 MiB expressed with the unit suffix
    assert driver_gate_threshold("1048576b") == driver_gate_threshold("1m")
    # and is FAR below the same digit-string read as suffixless MiB
    assert driver_gate_threshold("1048576b") < driver_gate_threshold("1048576")
    # small byte counts clamp at the floor instead of exploding
    assert driver_gate_threshold("4096b") == 10_000


def test_degree_orientation_reduces_wedges(spark):
    """On the sf0.001 co-purchase graph, orienting edges by (degree, id)
    must generate strictly fewer wedges than raw-id orientation (the
    power-law guard VERDICT r2 asked for), while covering the same
    edges and keeping a total order (acyclic by construction)."""
    from collections import Counter

    import duckdb

    from etl_pipeline_orchestration_spark.operators.graph import (
        degree_oriented_edges,
    )

    edge_rows = duckdb.sql(
        """
        WITH op AS (
          SELECT DISTINCT l_orderkey, l_partkey
          FROM '/root/testdata/sf0.001/lineitem.parquet'
        )
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
        """
    ).fetchall()

    def wedge_count(directed):
        # wedge join through middle vertex v: in(v) * out(v)
        outd = Counter(u for u, _ in directed)
        ind = Counter(v for _, v in directed)
        return sum(outd[x] * ind[x] for x in set(outd) | set(ind))

    raw = wedge_count(edge_rows)  # already oriented a < b by raw id
    df = spark.createDataFrame(edge_rows, "a long, b long")
    oriented = [(r["u"], r["v"]) for r in degree_oriented_edges(df).collect()]
    by_degree = wedge_count(oriented)

    assert len(oriented) == len(edge_rows)  # same edges, one row each
    assert {frozenset(e) for e in oriented} == {frozenset(e) for e in edge_rows}
    assert by_degree < raw, (by_degree, raw)


def test_pagerank_matches_numpy_power_iteration(spark, bcast_gate):
    """PageRank on a fixed directed graph (with a dangling node) must
    match a dense numpy power iteration within tolerance."""
    import numpy as np

    from etl_pipeline_orchestration_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (3, 5)]  # 5 dangles
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(df, max_iter=40).collect()}

    ids = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    M = np.zeros((n, n))
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    for s, ds in out.items():
        for d in ds:
            M[idx[d], idx[s]] = 1.0 / len(ds)
    r = np.full(n, 1.0 / n)
    damping = 0.85
    for _ in range(200):
        dangling = sum(r[idx[v]] for v in ids if v not in out)
        r = (1 - damping) / n + damping * (M @ r + dangling / n)
    want = {v: r[idx[v]] for v in ids}

    assert set(got) == set(want)
    for v in ids:
        assert abs(got[v] - want[v]) < 1e-6, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_query_rounding_margins(spark):
    """graph_pagerank_part_supplier emits round(rank * 1e9) integers;
    the oracle upgrade (rows-only -> hash-checked) is only sound if no
    rank*1e9 sits near a half-boundary at the cross-engine drift scale.
    Measure the margin over ALL nodes (selection needs every rounded
    value engine-equal, not just the top 25) and require it to dwarf
    the ~1e-13-relative summation-order drift by several orders."""
    import math

    from pyspark.sql import functions as F

    from etl_pipeline_orchestration_spark.operators.graph import pagerank
    from etl_pipeline_orchestration_spark.sources.tables import load_table

    off = 1_000_000_000
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_partkey", (F.col("l_suppkey") + off).alias("supp_node")
    )
    fwd = li.select(F.col("l_partkey").alias("src"), F.col("supp_node").alias("dst"))
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = [r["rank"] for r in pagerank(edges, max_iter=10, tol=0.0).collect()]
    assert ranks
    min_margin = min(
        abs(r * 1e9 - math.floor(r * 1e9) - 0.5) for r in ranks
    )
    # drift on rank ~1e-3 is ~1e-16 absolute => ~1e-7 at the 1e9 scale;
    # require 4+ orders above that
    assert min_margin > 1e-3, f"half-boundary margin too thin: {min_margin}"


def test_adaptive_orientation_paths_agree(spark):
    """Both orientation strategies must produce the same triangle set —
    the adaptive switch may only change join cost, never results."""
    from etl_pipeline_orchestration_spark.operators.graph import (
        degree_oriented_edges,
        oriented_edges_adaptive,
    )
    from pyspark.sql import functions as F

    # Hub 0 connected to 1..9, plus edges (1,2),(2,3),(1,3): triangles
    # (1,2,3) and, through the hub, (0,1,2),(0,2,3),(0,1,3) — 4 total.
    raw = [(0, i) for i in range(1, 10)] + [(1, 2), (2, 3), (1, 3)]
    edges = spark.createDataFrame(raw, ["a", "b"])

    def count_tris(oriented):
        e1 = oriented.alias("e1")
        e2 = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
        e3 = oriented.select(F.col("u").alias("u3"), F.col("v").alias("w3"))
        return (
            e1.join(e2, "v")
            .join(e3, (F.col("u") == F.col("u3")) & (F.col("w") == F.col("w3")))
            .count()
        )

    o_id, m_id, dmax = oriented_edges_adaptive(edges, hub_factor=10**9)
    o_deg, m_deg, _ = oriented_edges_adaptive(edges, hub_factor=0)
    n_id = count_tris(o_id)
    n_deg = count_tris(o_deg)
    n_ref = count_tris(degree_oriented_edges(edges))
    assert n_id == n_deg == n_ref == 4
    assert m_id == m_deg == 12 and dmax == 9


def test_bfs_hops_levels_and_source(spark):
    """Single-source BFS laws on a hand-built graph: source (min id) at
    0, every settled node's hops = 1 + min over settled neighbors,
    unreachable and beyond-max-hops nodes absent, edge endpoints differ
    by <= 1."""
    from etl_pipeline_orchestration_spark.operators.graph import (
        multi_source_bfs,
    )

    def bfs_hops(edges, max_hops):
        dist = multi_source_bfs(edges, n_sources=1, max_hops=max_hops)
        assert {r.src for r in dist.select("src").distinct().collect()} == {1}
        return dist.drop("src")

    # chain 1-2-3-4-5, branch 2-10, island 100-101
    raw = [(1, 2), (2, 3), (3, 4), (4, 5), (2, 10), (100, 101)]
    edges = spark.createDataFrame(raw, ["a", "b"])
    got = {r.node: r.hops for r in bfs_hops(edges, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 10: 2, 4: 3}  # 5 is 4 hops; island absent
    und = raw + [(b, a) for a, b in raw]
    for u, v in und:
        if u in got and v in got:
            assert abs(got[u] - got[v]) <= 1
    full = {r.node: r.hops for r in bfs_hops(edges, max_hops=50).collect()}
    assert full == {1: 0, 2: 1, 3: 2, 10: 2, 4: 3, 5: 4}  # early-exit path


def test_k_core_peel_semantics(spark, bcast_gate):
    """Hand graph: a 4-clique (3-core) with a pendant chain hanging off
    it — the chain must peel away layer by layer, the clique survives
    with within-core degree 3; k=5 empties the graph; the round-budget
    guard raises on an adversarial long path."""
    import pytest as _pytest

    from etl_pipeline_orchestration_spark.operators.graph import k_core

    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    chain = [(4, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + chain, ["a", "b"])
    got = {r.node: r.core_degree for r in k_core(edges, k=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}  # chain peeled, clique intact
    assert k_core(edges, k=5).count() == 0
    # a path graph peels one layer per round from each end: budget of 2
    # rounds cannot reach the fixpoint for k=2 on a 12-node path
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["a", "b"]
    )
    with _pytest.raises(ValueError, match="fixpoint"):
        k_core(path, k=2, max_rounds=2)


def test_personalized_pagerank_matches_numpy(spark, bcast_gate):
    """PPR on a fixed directed graph (with a dangling node) must match
    a dense numpy power iteration with teleport-to-seed within
    tolerance, and stay a probability distribution."""
    import numpy as np

    from etl_pipeline_orchestration_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (3, 5)]  # 5 dangles
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, 1, max_iter=40).collect()
    }

    ids = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    M = np.zeros((n, n))
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    for s, ds in out.items():
        for d in ds:
            M[idx[d], idx[s]] = 1.0 / len(ds)
    e_seed = np.zeros(n)
    e_seed[idx[1]] = 1.0
    r = e_seed.copy()
    damping = 0.85
    for _ in range(200):
        dangling = sum(r[idx[v]] for v in ids if v not in out)
        r = (1 - damping) * e_seed + damping * (M @ r + dangling * e_seed)
    want = {v: r[idx[v]] for v in ids}

    assert set(got) == set(want)
    for v in ids:
        assert abs(got[v] - want[v]) < 1e-6, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # seed-locality: the seed outranks every node it doesn't point to
    assert got[1] > got[5]


def test_ppr_query_rounding_margins(spark):
    """graph_ppr_part_neighborhood emits round(rank * 1e9) integers —
    same soundness requirement as the global pagerank query: no
    rank*1e9 near a half-boundary at cross-engine drift scale."""
    import math

    from pyspark.sql import functions as F

    from etl_pipeline_orchestration_spark.operators.graph import (
        personalized_pagerank,
    )
    from etl_pipeline_orchestration_spark.sources.tables import load_table

    off = 1_000_000_000
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_partkey", (F.col("l_suppkey") + off).alias("supp_node")
    )
    seed = li.agg(F.min("l_partkey")).head()[0]
    fwd = li.select(
        F.col("l_partkey").alias("src"), F.col("supp_node").alias("dst")
    ).distinct()
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = [
        r["rank"]
        for r in personalized_pagerank(
            edges, int(seed), max_iter=10, pre_deduped=True, symmetric=True
        ).collect()
    ]
    assert ranks
    min_margin = min(abs(r * 1e9 - math.floor(r * 1e9) - 0.5) for r in ranks)
    assert min_margin > 1e-3, f"half-boundary margin too thin: {min_margin}"


def test_multi_source_bfs_matches_python_replay(spark, bcast_gate):
    """Composite-frontier BFS == per-source python BFS on a planted
    graph (path + branch + disconnected pair), and the harmonic sum is
    the exact integer 1e6-div replay."""
    import collections

    from etl_pipeline_orchestration_spark.operators.graph import (
        multi_source_bfs,
    )

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (3, 6), (6, 7), (10, 11)]
    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b); adj[b].add(a)

    def bfs(src, max_hops=6):
        dist = {src: 0}
        frontier = [src]
        for k in range(1, max_hops + 1):
            nxt = [d for n in frontier for d in adj[n] if d not in dist]
            for d in nxt:
                dist.setdefault(d, k)
            frontier = sorted(set(nxt))
            if not frontier:
                break
        return dist

    df = spark.createDataFrame(edges, "a bigint, b bigint")
    got = {
        (r.src, r.node): r.hops
        for r in multi_source_bfs(df, n_sources=4).collect()
    }
    want = {}
    for s in (1, 2, 3, 4):  # four smallest node ids
        for n, h in bfs(s).items():
            want[(s, n)] = h
    assert got == want
    # node 10/11 component unreachable from the sampled sources
    assert not any(n in (10, 11) for (_, n) in got)
    # harmonic replay for node 5: d(1,5)=4 d(2,5)=3 d(3,5)=2 d(4,5)=1
    h5 = sum(1_000_000 // d for d in (4, 3, 2, 1))
    agg = collections.Counter()
    for (s, n), h in got.items():
        if h >= 1:
            agg[n] += 1_000_000 // h
    assert agg[5] == h5


def test_spectral_bisection_splits_planted_cliques(spark):
    """Two 6-cliques joined by ONE bridge edge: the normalized-cut
    relaxation's sign pattern must recover the planted communities
    exactly, and must agree with the numpy Fiedler-style eigenvector
    of the same lazy-walk operator (up to global sign)."""
    import itertools

    import numpy as np

    from etl_pipeline_orchestration_spark.operators.graph import (
        spectral_bisection,
    )

    a = list(range(1, 7))
    b = list(range(101, 107))
    edges = (
        [(u, v) for u, v in itertools.combinations(a, 2)]
        + [(u, v) for u, v in itertools.combinations(b, 2)]
        + [(6, 101)]  # the bridge
    )
    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        int(r["node"]): (int(r["v_q"]), int(r["cluster"]))
        for r in spectral_bisection(df).collect()
    }
    assert set(got) == set(a) | set(b)
    ca = {got[n][1] for n in a}
    cb = {got[n][1] for n in b}
    assert len(ca) == 1 and len(cb) == 1 and ca != cb

    # numpy ground truth: second eigenvector of the lazy walk
    nodes = sorted(got)
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for u, v in edges:
        A[idx[u], idx[v]] = A[idx[v], idx[u]] = 1.0
    P = (np.eye(n) + A / A.sum(axis=1, keepdims=True)) / 2.0
    vals, vecs = np.linalg.eig(P)
    order = np.argsort(-vals.real)
    fiedler = vecs[:, order[1]].real
    want_signs = np.sign(fiedler)
    got_signs = np.array(
        [1.0 if got[nodes[i]][0] >= 0 else -1.0 for i in range(n)]
    )
    agree = float(np.mean(got_signs == want_signs))
    assert agree in (0.0, 1.0), f"partial sign agreement {agree}"


def test_spectral_bisection_splits_disconnected_components(spark):
    """Two disjoint triangles: after deflating the stationary
    projection, the iterate is constant per component with opposite
    signs — the lambda-2 = 1 case."""
    from etl_pipeline_orchestration_spark.operators.graph import (
        spectral_bisection,
    )

    edges = [(1, 2), (2, 3), (1, 3), (11, 12), (12, 13), (11, 13)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        int(r["node"]): int(r["cluster"])
        for r in spectral_bisection(df).collect()
    }
    assert len({got[1], got[2], got[3]}) == 1
    assert len({got[11], got[12], got[13]}) == 1
    assert got[1] != got[11]


def test_deterministic_walks_match_python_replay(spark):
    """Every trajectory must equal an independent python replay of the
    coin-argmin walk rule on the same arc set — ground truth beyond
    cross-engine parity — and every consecutive pair must be a real
    arc."""
    from etl_pipeline_orchestration_spark.operators.graph import (
        WALK_COIN_A,
        WALK_COIN_B,
        WALK_COIN_C,
        WALK_COIN_M,
        deterministic_walks,
    )

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (2, 5), (5, 6)]
    arcs = edges + [(v, u) for u, v in edges]
    df = spark.createDataFrame(arcs, "u long, v long")
    steps = 6
    got = {}
    for r in deterministic_walks(df, steps=steps).collect():
        got[(int(r["walk_id"]), int(r["step"]))] = int(r["node"])

    nbrs: dict[int, list[int]] = {}
    for u, v in arcs:
        nbrs.setdefault(u, []).append(v)

    def coin(w, t, v):
        return (
            (w % WALK_COIN_M) * WALK_COIN_A % WALK_COIN_M
            + (t * WALK_COIN_B) % WALK_COIN_M
            + (v % WALK_COIN_M) * WALK_COIN_C % WALK_COIN_M
        ) % WALK_COIN_M

    for start in nbrs:
        cur = start
        assert got[(start, 0)] == start
        for t in range(1, steps + 1):
            cur = min(nbrs[cur], key=lambda v: (coin(start, t, v), v))
            assert got[(start, t)] == cur, (start, t)
    assert len(got) == len(nbrs) * (steps + 1)


# Every public graph operator on a small graph (EDGES re-oriented a < b).
_OPERATORS = {
    "connected_components": lambda e: graph.connected_components(
        e, "a", "b", driver_threshold=0
    ),
    "degree_oriented_edges": graph.degree_oriented_edges,
    "oriented_edges_adaptive": lambda e: graph.oriented_edges_adaptive(e)[0],
    "pagerank": lambda e: graph.pagerank(e, "a", "b", max_iter=3),
    "personalized_pagerank": lambda e: graph.personalized_pagerank(
        e, 1, "a", "b", max_iter=3
    ),
    "label_propagation": lambda e: graph.label_propagation(e, rounds=2),
    "k_core": lambda e: graph.k_core(e, k=2),
    "sssp_bounded": lambda e: graph.sssp_bounded(
        e.withColumn("w", e["a"] % 3 + 1), rounds=4, src="a", dst="b"
    ),
    "multi_source_bfs": lambda e: graph.multi_source_bfs(e, n_sources=2),
    "boruvka_msf": lambda e: graph.boruvka_msf(
        e.withColumn("w", e["b"] % 3 + 1), "a", "b", driver_threshold=0
    ),
    "spectral_bisection": lambda e: graph.spectral_bisection(e, "a", "b"),
    "deterministic_walks": lambda e: graph.deterministic_walks(
        e.union(e.select("b", "a")), steps=2, src="a", dst="b"
    ),
}


@pytest.mark.parametrize("op", sorted(_OPERATORS))
def test_graph_operator_leaves_cache_empty(spark, bcast_gate, op):
    """No graph operator leaves a persisted relation in the session's
    cache manager once it returns, on either side of the gate, and its
    result still computes after the staging copies are released."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    edges = spark.createDataFrame(
        [(min(s, d), max(s, d)) for s, d in EDGES], "a long, b long"
    )
    out = _OPERATORS[op](edges)
    assert cache.isEmpty(), op
    assert out.collect()


# Measured before the graph loops shared their pin/gate/release helpers;
# the same count at local[4] with 4 shuffle partitions and in the
# benchmark's traced run (plans.build_jobs.graph_pagerank_part_supplier).
PAGERANK_BUILD_JOBS = 24


def test_pagerank_query_build_jobs(spark):
    """The pagerank call graph_pagerank_part_supplier makes (symmetric,
    pre-deduped, tol=0, below the gate) builds its ranks with a fixed
    number of Spark jobs: the setup checkpoints, and none per
    iteration. Changing that count changes the benchmarked build."""
    from pyspark.sql import functions as F

    from etl_pipeline_orchestration_spark.operators.graph import pagerank
    from etl_pipeline_orchestration_spark.sources.tables import load_table

    off = 1_000_000_000
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_partkey", (F.col("l_suppkey") + off).alias("supp_node")
    )
    fwd = li.select(
        F.col("l_partkey").alias("src"), F.col("supp_node").alias("dst")
    ).distinct()
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sc = spark.sparkContext
    group = "test_pagerank_query_build_jobs"
    sc.setJobGroup(group, group)
    try:
        pagerank(edges, max_iter=10, tol=0.0, pre_deduped=True, symmetric=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == PAGERANK_BUILD_JOBS
