"""Distributed Boruvka minimum spanning forest (operators/graph.py).

The forest under the (w, u, v) total order is unique, so three
independent routes must agree edge-for-edge: the hybrid operator
(distributed rounds + driver-Kruskal finish), the PURE distributed
path (driver_threshold=0 — the 100 TB shape, never collected), and a
plain python Kruskal reference. The DuckDB oracle re-pins the hybrid
against unrolled argmin + recursive-contraction SQL."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_orchestration_spark.operators.graph import boruvka_msf
from etl_pipeline_orchestration_spark.plans.registry import QUERIES, load_all
from etl_pipeline_orchestration_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def edges(spark):
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    return (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select(
            "u",
            "v",
            F.greatest(F.lit(1), F.lit(10) - F.col("n"))
            .cast("bigint")
            .alias("w"),
        )
        .localCheckpoint()
    )


def _kruskal_ref(rows):
    parent = {}

    def find(a):
        parent.setdefault(a, a)
        while parent[a] != a:
            parent[a] = parent.setdefault(parent[a], parent[a])
            a = parent[a]
        return a

    out = set()
    for w, u, v in sorted((int(r["w"]), int(r["u"]), int(r["v"])) for r in rows):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
            out.add((u, v, w))
    return out


def test_msf_matches_kruskal_reference(edges):
    want = _kruskal_ref(edges.collect())
    got = {
        (int(r["u"]), int(r["v"]), int(r["w"]))
        for r in boruvka_msf(edges).collect()
    }
    assert got == want
    # forest sanity: |F| = |V| - #components <= |V| - 1
    n_nodes = (
        edges.select(F.col("u").alias("x"))
        .union(edges.select("v"))
        .distinct()
        .count()
    )
    assert len(got) < n_nodes


def test_distributed_path_equals_hybrid(edges, bcast_gate):
    """driver_threshold=0 forces every round through the distributed
    argmin + pointer-jump contraction — the at-scale path must emit
    the identical forest, on both sides of the state broadcast gate."""
    hybrid = {
        tuple(map(int, (r["u"], r["v"], r["w"])))
        for r in boruvka_msf(edges).collect()
    }
    dist = {
        tuple(map(int, (r["u"], r["v"], r["w"])))
        for r in boruvka_msf(edges, driver_threshold=0).collect()
    }
    assert dist == hybrid == _kruskal_ref(edges.collect())


def test_registered_query_runs(spark):
    load_all()
    df = QUERIES["mst_copurchase_parts"](spark, SF)
    assert df.columns == ["part_a", "part_b", "w"]
    assert df.count() > 50


def test_round_budget_exhaustion_raises(spark):
    """An exhausted max_rounds with cross-component edges left must
    raise (r11 advice): components only guarantee halving, so a
    component larger than 2^max_rounds nodes can outlive the budget,
    and silently returning would emit an incomplete forest the
    unrolled oracle (same budget) could not detect. Pair-merge shape:
    round 1 contracts {1,2} and {3,4}, leaving the bridge (2,3)."""
    edges = spark.createDataFrame(
        [(1, 2, 1), (3, 4, 1), (2, 3, 100)], "u long, v long, w long"
    )
    with pytest.raises(ValueError, match="raise max_rounds"):
        boruvka_msf(edges, max_rounds=1, driver_threshold=0)
    # same graph, enough rounds: complete spanning tree of 4 nodes
    got = {
        tuple(map(int, (r["u"], r["v"], r["w"])))
        for r in boruvka_msf(edges, max_rounds=2, driver_threshold=0).collect()
    }
    assert got == {(1, 2, 1), (3, 4, 1), (2, 3, 100)}
